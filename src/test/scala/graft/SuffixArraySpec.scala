package graft

import org.apache.spark.sql.functions._

import graft.operators.SuffixArray

class SuffixArraySpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force suffix order: token sequences compared lexicographically
    * with shorter-is-prefix first (the out-of-range-sorts-first sentinel),
    * dense rank over full-suffix equivalence classes.
    */
  private def bruteRanks(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    val sufs = for {
      (d, t) <- docs
      toks = t.toLowerCase.split("\\s+").toSeq
      off <- toks.indices
    } yield (d, off.toLong, toks.drop(off))
    implicit val ord: Ordering[Seq[String]] = (a, b) => {
      val c = a.zip(b).iterator.map { case (x, y) => x.compare(y) }
        .find(_ != 0).getOrElse(0)
      if (c != 0) c else a.size.compare(b.size)
    }
    val classes = sufs.map(_._3).distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    sufs.map { case (d, o, s) => (d, o) -> classes(s) }.toMap
  }

  private def bruteSpans(docs: Seq[(Long, String)],
      minLen: Int): Set[(Long, Long, Long, Long, Long)] = {
    val sufs = (for {
      (d, t) <- docs
      toks = t.toLowerCase.split("\\s+").toSeq
      off <- toks.indices
    } yield (d, off.toLong, toks.drop(off)))
    implicit val ord: Ordering[Seq[String]] = (a, b) => {
      val c = a.zip(b).iterator.map { case (x, y) => x.compare(y) }
        .find(_ != 0).getOrElse(0)
      if (c != 0) c else a.size.compare(b.size)
    }
    val sorted = sufs.sortBy { case (d, o, s) => (s, d, o) }
    sorted.zip(sorted.tail).flatMap { case ((da, oa, sa), (db, ob, sb)) =>
      val lcp = sa.zip(sb).takeWhile { case (x, y) => x == y }.size.toLong
      if (lcp >= minLen) Some((da, oa, db, ob, lcp)) else None
    }.toSet
  }

  private def randomCorpus(seed: Int, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val words = Seq("a", "b", "c", "ab", "ba", "cc") // prefix-token traps
    val base = Seq.tabulate(nDocs)(i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(12))(
        words(rnd.nextInt(words.size))).mkString(" ")))
    // planted repeats: a shared phrase inside two docs + one exact dup
    val phrase = "c ab ba c a b cc"
    base ++ Seq(
      (1000L, s"b $phrase a"), (1001L, s"cc $phrase ba"),
      (1002L, base.head._2))
  }

  test("suffixRanks equals brute-force dense suffix sort, ties included") {
    val corpus = randomCorpus(5, 20)
    val got = SuffixArray.suffixRanks(corpus.toDF("doc_id", "text"),
        "doc_id", "text", buckets = 7)
      .as[(Long, Long, Long)].collect()
      .map { case (d, o, r) => (d, o) -> r }.toMap
    assert(got === bruteRanks(corpus))
  }

  test("suffixRanksRadix: radix 8 (and 2) full ranks equal the radix-4 production ranks") {
    // the probe-only radices must agree with production rank-for-rank —
    // the doubling recurrence's fixed point is radix-independent
    val corpus = randomCorpus(7, 22)
    def ranks(radix: Int) = SuffixArray.suffixRanksRadix(
        corpus.toDF("doc_id", "text"), "doc_id", "text",
        buckets = 7, maxPrefix = Long.MaxValue, radix = radix)
      .full.as[(Long, Long, Long)].collect()
      .map { case (d, o, r) => (d, o) -> r }.toMap
    val r4 = ranks(4)
    assert(ranks(8) === r4)
    assert(ranks(2) === r4)
  }

  test("repeatedSpans equals brute-force adjacent-LCP at two thresholds, " +
      "including equal-suffix overshoot capping") {
    val corpus = randomCorpus(11, 25)
    for (minLen <- Seq(2, 4)) {
      val got = SuffixArray.repeatedSpans(corpus.toDF("doc_id", "text"),
          "doc_id", "text", minLen = minLen, buckets = 7)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got === bruteSpans(corpus, minLen), s"minLen=$minLen")
    }
  }

  test("repeatedSpans LEAD walk form (the big-corpus variant) equals brute " +
      "force and the sequential form on every walk stress case") {
    // spark.graft.sa.walkLeadMinPositions = 0 forces the lead-probe walk
    // the production 100 TB path takes; it must match brute force on the
    // same corpora the sequential form is pinned on — including the
    // all-ties unary stress and the radix-power full-doc ties
    spark.conf.set("spark.graft.sa.walkLeadMinPositions", "0")
    try {
      val corpus = randomCorpus(11, 25)
      for (minLen <- Seq(2, 4)) {
        val got = SuffixArray.repeatedSpans(corpus.toDF("doc_id", "text"),
            "doc_id", "text", minLen = minLen, buckets = 7)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(got === bruteSpans(corpus, minLen), s"minLen=$minLen")
      }
      val unary = (1 to 12).map(k =>
        (k.toLong, Seq.fill(k)("a").mkString(" ")))
      for (minLen <- Seq(1, 4, 8)) {
        val spans = SuffixArray.repeatedSpans(unary.toDF("doc_id", "text"),
            "doc_id", "text", minLen = minLen)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(spans === bruteSpans(unary, minLen), s"unary minLen=$minLen")
      }
      for (len <- Seq(4, 16)) {
        val t = (1 to len).map(i => s"w$i").mkString(" ")
        val spans = SuffixArray.repeatedSpans(
          Seq((1L, t), (2L, t)).toDF("doc_id", "text"),
          "doc_id", "text", minLen = 1)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(spans === bruteSpans(Seq((1L, t), (2L, t)), 1), s"len=$len")
      }
    } finally spark.conf.unset("spark.graft.sa.walkLeadMinPositions")
  }

  test("a malformed spark.graft.sa.walkLeadMinPositions fails naming the key") {
    spark.conf.set("spark.graft.sa.walkLeadMinPositions", "1M")
    try {
      val e = intercept[IllegalArgumentException] {
        SuffixArray.repeatedSpans(Seq((1L, "a b a b")).toDF("doc_id", "text"),
          "doc_id", "text", minLen = 1)
      }
      assert(e.getMessage.contains("spark.graft.sa.walkLeadMinPositions: '1M'"))
    } finally spark.conf.unset("spark.graft.sa.walkLeadMinPositions")
  }

  test("equal whole docs: every suffix pair ties and spans cap at suffix length") {
    val corpus = Seq((1L, "x y z x y"), (2L, "x y z x y"), (3L, "z x q"))
    val spans = SuffixArray.repeatedSpans(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minLen = 1, buckets = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(spans === bruteSpans(corpus, 1))
    // the full-doc tie: suffixes (1,0) and (2,0) are equal, lcp = 5 not 8
    assert(spans.exists { case (da, oa, db, ob, l) =>
      Set((da, oa), (db, ob)) == Set((1L, 0L), (2L, 0L)) && l == 5 })
  }

  test("equal docs at RADIX-POWER lengths: full-pair lcp reaches maxLen " +
      "exactly (walk capacity regression)") {
    // lcp = maxLen is reachable (fully-equal suffixes), and with maxLen a
    // power of the walk radix the strictly-below levels cap at maxLen−1 —
    // the walk must include the step == maxLen level to cover it
    for (len <- Seq(1, 4, 16)) {
      val t = (1 to len).map(i => s"w$i").mkString(" ")
      val spans = SuffixArray.repeatedSpans(
        Seq((1L, t), (2L, t)).toDF("doc_id", "text"),
        "doc_id", "text", minLen = 1)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(spans === bruteSpans(Seq((1L, t), (2L, t)), 1), s"len=$len")
      assert(spans.exists(s => s._2 == 0 && s._4 == 0 && s._5 == len),
        s"len=$len: full-doc tie must report lcp = $len")
    }
  }

  test("unary a^n corpus: the all-ties stress (every suffix is a prefix " +
      "of every longer one) matches brute force end to end") {
    // the classic suffix-array adversarial input: rank classes stay fat
    // through every round (prefix-of ties + exact cross-doc duplicates),
    // the shared end-sentinel decides every comparison, and every walk
    // extension overshoots and relies on the remaining-length cap
    val corpus = (1 to 12).map(k => (k.toLong, Seq.fill(k)("a").mkString(" "))) ++
      Seq((100L, Seq.fill(7)("a").mkString(" ")),
        (101L, Seq.fill(12)("a").mkString(" ")))
    val ranks = SuffixArray.suffixRanks(corpus.toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Long)].collect()
      .map { case (d, o, r) => (d, o) -> r }.toMap
    assert(ranks === bruteRanks(corpus))
    for (minLen <- Seq(1, 4, 8)) {
      val spans = SuffixArray.repeatedSpans(corpus.toDF("doc_id", "text"),
          "doc_id", "text", minLen = minLen)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(spans === bruteSpans(corpus, minLen), s"minLen=$minLen")
    }
  }

  test("denseNumber: order-preserving 1-based dense rank across range partitions") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(500)((rnd.nextInt(40).toLong, rnd.nextInt(5).toLong))
    val df = rows.toDF("k1", "k2")
    val got = SuffixArray.denseNumber(df, Seq(col("k1"), col("k2")), "dn", 6)
      .as[(Long, Long, Long)].collect()
    val expect = rows.distinct.sorted.zipWithIndex
      .map { case (k, i) => k -> (i + 1L) }.toMap
    assert(got.forall { case (a, b, dn) => expect((a, b)) == dn })
    assert(got.length === rows.length)
  }

  test("denseNumberDenseCounted: identical ranks and class count to the " +
      "range form when the leading key is a dense 1-based rank") {
    val rnd = new scala.util.Random(7)
    // dense primary in 1..C with zipf-ish duplication + tie-breaking keys —
    // the construction loop's tuple shape
    val c = 37L
    val rows = Seq.fill(800)((1L + rnd.nextInt(c.toInt).toLong,
      rnd.nextInt(6).toLong, rnd.nextInt(3).toLong))
    val df = rows.toDF("k1", "k2", "k3")
    val keys = Seq(col("k1"), col("k2"), col("k3"))
    val (rangeDf, rangeN) =
      SuffixArray.denseNumberCounted(df, keys, "dn", 6)
    val (denseDf, denseN) =
      SuffixArray.denseNumberDenseCounted(df, col("k1"), c, keys, "dn", 6)
    assert(denseN === rangeN)
    val want = rangeDf.as[(Long, Long, Long, Long)].collect().toSet
    val got = denseDf.as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    // degenerate class counts: one class, classes < buckets, empty frame
    val one = Seq((1L, 0L, 0L), (1L, 0L, 0L)).toDF("k1", "k2", "k3")
    val (oneDf, oneN) =
      SuffixArray.denseNumberDenseCounted(one, col("k1"), 1L, keys, "dn", 6)
    assert(oneN === 1L && oneDf.select("dn").as[Long].collect().toSeq ===
      Seq(1L, 1L))
    val (emptyDf, emptyN) = SuffixArray.denseNumberDenseCounted(
      spark.emptyDataset[(Long, Long, Long)].toDF("k1", "k2", "k3"),
      col("k1"), 0L, keys, "dn", 6)
    assert(emptyN === 0L && emptyDf.isEmpty)
  }

  test("denseNumberDenseCounted: corpus-position-scale class counts do not " +
      "overflow the bucket product (r13 advisory clamp)") {
    // c·nb would exceed Long.MaxValue unclamped: c ~ 2^61 with buckets = 6
    // gives 8·6·2^61 ≫ 2^63, wrapping _dnW negative and breaking bucket
    // monotonicity. With the clamp nb = min(8·buckets, c, MaxValue/c)
    // (here: 4) the ranks must still be exact.
    val c = Long.MaxValue / 4 // forces nb ≤ 4 via the MaxValue/c clamp
    val sparse = Seq(1L, 2L, c / 2, c - 1L, c) // dense-in-principle ids, huge span
    val rows = sparse.flatMap(p => Seq((p, 0L), (p, 1L)))
    val df = rows.toDF("k1", "k2")
    val keys = Seq(col("k1"), col("k2"))
    val (got, n) = SuffixArray.denseNumberDenseCounted(df, col("k1"), c, keys, "dn", 6)
    val expect = rows.distinct.sorted.zipWithIndex
      .map { case (k, i) => k -> (i + 1L) }.toMap
    val out = got.as[(Long, Long, Long)].collect()
    assert(n === rows.distinct.size.toLong)
    assert(out.forall { case (a, b, dn) => expect((a, b)) == dn })
  }

  test("contaminatedSpans equals brute-force verbatim window matching, " +
      "multiset counts and least witness included") {
    val corpus = randomCorpus(23, 30)
    val test0 = corpus.filter(_._1 % 2 == 1)
    val train0 = corpus.filter(_._1 % 2 == 0)
    for (l <- Seq(3, 4)) { // non-power-of-two and power-of-two widths
      def wins(docs: Seq[(Long, String)]) = for {
        (d, t) <- docs
        toks = t.toLowerCase.split("\\s+").toSeq
        off <- 0 to toks.size - l
      } yield (d, off.toLong, toks.slice(off, off + l))
      val trainW = wins(train0).groupBy(_._3).map { case (w, occ) =>
        w -> (occ.size.toLong, occ.map { case (d, o, _) => d * 1048576L + o }.min)
      }
      val expect = wins(test0).flatMap { case (d, o, w) =>
        trainW.get(w).map { case (n, wk) =>
          (d, o, n, wk / 1048576L, wk % 1048576L) }
      }.toSet
      assert(expect.nonEmpty, s"planted overlap must contaminate at l=$l")
      val got = graft.operators.SuffixArray.contaminatedSpans(
          test0.toDF("doc_id", "text"), train0.toDF("doc_id", "text"),
          "doc_id", "text", windowLen = l, buckets = 7)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got === expect, s"windowLen=$l")
    }
  }

  test("contaminatedSpans: all-unique corpus converges early and yields empty") {
    // every token distinct → construction converges at level 0/1, below
    // ⌊log₂8⌋; the capped keys must still join to the true empty set
    val test0 = Seq((1L, (0 until 20).map(i => s"t$i").mkString(" ")))
    val train0 = Seq((2L, (100 until 120).map(i => s"t$i").mkString(" ")))
    val got = graft.operators.SuffixArray.contaminatedSpans(
      test0.toDF("doc_id", "text"), train0.toDF("doc_id", "text"),
      "doc_id", "text", windowLen = 8, buckets = 3)
    assert(got.count() === 0)
  }

  test("stripRepeatedKeepFirst equals brute force: witness survives, later " +
      "occurrences cut, short docs untouched") {
    val corpus = randomCorpus(41, 25) ++ Seq(
      (2000L, "zz"), // shorter than the window — must pass through whole
      (2001L, randomCorpus(41, 25).head._2)) // exact dup of doc 0 (higher id)
    val l = 4
    def brute: Map[Long, (Long, String)] = {
      val toks = corpus.map { case (d, t) =>
        d -> t.toLowerCase.split("\\s+").toSeq }.toMap
      val wins = for {
        (d, tk) <- toks.toSeq; off <- 0 to tk.size - l
      } yield (d, off, tk.slice(off, off + l))
      val byW = wins.groupBy(_._3).filter(_._2.size >= 2)
        .map { case (w, occ) =>
          w -> occ.map { case (d, o, _) => d * 1048576L + o }.min }
      val cuts = wins.filter { case (d, o, w) =>
        byW.get(w).exists(_ != d * 1048576L + o) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      corpus.map { case (d, _) =>
        val tk = toks(d)
        val kept = tk.indices.filterNot(p =>
          cuts.getOrElse(d, Nil).exists(o => p >= o && p < o + l)).map(tk)
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(kept.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        d -> (kept.size.toLong, hex)
      }.toMap
    }
    val got = graft.operators.SuffixArray.stripRepeatedKeepFirst(
        corpus.toDF("doc_id", "text"), "doc_id", "text",
        windowLen = l, buckets = 7)
      .as[(Long, Long, String)].collect()
      .map { case (d, k, h) => d -> (k, h) }.toMap
    assert(got === brute)
    // the planted exact dup: doc 0 (witness) keeps everything
    val doc0Len = corpus.head._2.split("\\s+").length.toLong
    assert(got(corpus.head._1)._1 === doc0Len, "witness doc must survive intact")
    assert(got(2001L)._1 < doc0Len, "the later exact copy must lose tokens")
    assert(got(2000L)._1 === 1L, "sub-window doc passes through whole")
  }

  test("empty and degenerate corpora") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(SuffixArray.suffixRanks(empty, "doc_id", "text").count() === 0)
    assert(SuffixArray.repeatedSpans(empty, "doc_id", "text", 1).count() === 0)
    val one = Seq((7L, "solo")).toDF("doc_id", "text")
    assert(SuffixArray.suffixRanks(one, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq === Seq((7L, 0L, 1L)))
    assert(SuffixArray.repeatedSpans(one, "doc_id", "text", 1).count() === 0)
  }

  test("ngramContinuations equals brute-force next-token tally, " +
      "sentinel at doc end, top-k tie order") {
    val corpus = randomCorpus(97, 40)
    val n = 2
    val pats = Seq("c ab", "ab ba", "zz zz", "a b").toDF("pattern")
    val got = SuffixArray.ngramContinuations(
      corpus.toDF("doc_id", "text"), "doc_id", "text",
      pats, "pattern", n = n, k = 2)
      .as[(String, String, Long)].collect().toSet
    // brute force: every n-window occurrence + following token
    val occ = for {
      (_, t) <- corpus
      toks = t.toLowerCase.split("\\s+").toSeq
      off <- 0 to toks.size - n
      w = toks.slice(off, off + n).mkString(" ")
      nx = if (off + n < toks.size) toks(off + n) else "</s>"
    } yield (w, nx)
    val brute = occ.groupBy(_._1).flatMap { case (w, xs) =>
      xs.groupBy(_._2).map { case (nx, g) => (w, nx, g.size.toLong) }
        .toSeq.sortBy { case (_, nx, c) => (-c, nx) }.take(2)
    }.toSet[(String, String, Long)].filter(r =>
      Set("c ab", "ab ba", "zz zz", "a b").contains(r._1))
    assert(got === brute)
    assert(!got.exists(_._1 == "zz zz"), "absent pattern yields no rows")
  }
}
