package graft

import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the Sennrich-paper-style corpus: low×5 lower×2 newest×6 widest×3
  private def corpus = Seq(
    (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
    (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
    .toDF("doc_id", "text")

  test("pairStats: frequency-weighted adjacent pairs match hand counts") {
    val stats = Bpe.pairStats(Bpe.wordFreq(corpus, "text"))
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    // l-o: low 5 + lower 2; e-s: newest 6 + widest 3; s-t: same 9;
    // w-e: lower 2 + newest 6; e-r only in lower
    assert(stats(("l", "o")) === 7L)
    assert(stats(("o", "w")) === 7L)
    assert(stats(("e", "s")) === 9L)
    assert(stats(("s", "t")) === 9L)
    assert(stats(("w", "e")) === 8L)
    assert(stats(("e", "r")) === 2L)
    assert(stats(("n", "e")) === 6L)
  }

  test("train: deterministic merge sequence with lexicographic tie-break") {
    // round 1: (e,s) and (s,t) tie at 9 → lexicographic picks (e,s)
    // round 2: es-t now 9 (newest, widest) → (es,t)
    // round 3: l-o and o-w tie at 7 → (l,o); w-est at 6 loses
    val merges = Bpe.train(corpus, "text", merges = 3)
    assert(merges.map(m => (m.rank, m.a, m.b, m.n)) === Seq(
      (0, "e", "s", 9L),
      (1, "es", "t", 9L),
      (2, "l", "o", 7L)))
    // rerun is identical — the sequence is a pure function of the corpus
    assert(Bpe.train(corpus, "text", merges = 3) === merges)
    // a corpus with nothing left to merge stops early instead of spinning
    val tiny = Seq((1L, "a b a")).toDF("doc_id", "text")
    assert(Bpe.train(tiny, "text", merges = 5) === Seq.empty)
  }

  test("train and trainBatched leave no materialization stored") {
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    val seq = Bpe.train(corpus, "text", merges = 4)
    assert(persisted() -- before === Set.empty[Int], "train")
    assert(Bpe.trainBatched(corpus, "text", merges = 4) === seq)
    assert(persisted() -- before === Set.empty[Int], "trainBatched")
  }

  test("mergePair: left-to-right non-overlapping application") {
    assert(Bpe.mergePair(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.mergePair(Seq("x", "a", "b", "a", "b"), "a", "b") ===
      Seq("x", "ab", "ab"))
    assert(Bpe.mergePair(Seq("a"), "a", "a") === Seq("a"))
  }

  test("tokenize replays the trained merges in rank order; stream-safe") {
    val merges = Bpe.train(corpus, "text", merges = 3)
    val docs = Seq((10L, "lowest newest")).toDF("doc_id", "text")
    val toks = Bpe.tokenize(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    // lowest: l·o·w·e·s·t →(e,s)→ es →(es,t)→ est →(l,o)→ lo
    // newest: n·e·w·e·s·t →(e,s)(es,t)→ n,e,w,est ((l,o) no-op)
    assert(toks(10L) === Seq("lo", "w", "est", "n", "e", "w", "est"))
    // an empty merge table degrades to characters
    assert(Bpe.tokenize(docs, "doc_id", "text", Seq.empty)
      .as[(Long, Seq[String])].collect().head._2.take(6) ===
      Seq("l", "o", "w", "e", "s", "t"))
    // the tokenizer is a narrow per-row map — works unchanged at ingest
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    assert(Bpe.tokenize(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", merges).isStreaming)
  }

  test("fertilityReport: exact hand-counted integers; zero-word groups drop") {
    val merges = Seq(Bpe.Merge(0, "e", "s", 0L), Bpe.Merge(1, "es", "t", 0L))
    val docs = Seq(
      (1L, "srcA", "test best"),   // test→t,est(2) best→b,est(2): 4 toks, 8 ch
      (2L, "srcA", "es"),          // es(1): 1 tok, 2 ch
      (3L, "srcB", "xy"),          // x,y: 2 toks, 2 ch
      (4L, "srcC", "  ")           // zero words → srcC must not appear
    ).toDF("doc_id", "source", "text")
    val got = Bpe.fertilityReport(docs, "doc_id", "text", merges, "source")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // srcA: 3 words, 5 tokens, 10 chars → 5000/3=1666 t/kw, 2e6 ch/tok ppm
    assert(got("srcA") === (("srcA", 3L, 5L, 10L, 1666L, 2000000L)))
    assert(got("srcB") === (("srcB", 1L, 2L, 2L, 2000L, 1000000L)))
    assert(!got.contains("srcC"))
  }

  test("trainBatched is byte-identical to train across merge counts") {
    // the Sennrich corpus at every vocabulary size it supports
    for (m <- 1 to 8) {
      val seq = Bpe.train(corpus, "text", merges = m)
      val bat = Bpe.trainBatched(corpus, "text", merges = m)
      assert(bat === seq, s"batched trainer diverged at merges=$m")
    }
  }

  test("trainBatched is byte-identical to train on randomized corpora") {
    // deterministic pseudo-random corpora: varied alphabets force the
    // interaction hazards (shared symbols, product collisions, created
    // pairs) the safe-prefix rules exist for
    // alphabet sizes 2–4: size-2 corpora are dense in abab/aaa overlap
    // runs — the exact-rewrite zero-guards' adversarial case
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val sigma = 2 + seed % 3
      val words = Seq.fill(30) {
        val len = 2 + rnd.nextInt(6)
        Seq.fill(len)(('a' + rnd.nextInt(sigma)).toChar).mkString
      }
      val docs = Seq((1L, Seq.fill(40)(words(rnd.nextInt(words.length)))
        .mkString(" "))).toDF("doc_id", "text")
      val seq = Bpe.train(docs, "text", merges = 12)
      val bat = Bpe.trainBatched(docs, "text", merges = 12)
      assert(bat === seq, s"batched trainer diverged at seed=$seed (sigma=$sigma)")
    }
  }

  test("trainBatched commits several merges per round (rounds well below merges)") {
    // the documents table: natural-ish text where frequent pairs are
    // largely symbol-disjoint, so the safe prefix is usually > 1
    val docs = queries.Tables.t(spark, sf, "documents")
    val m = 16
    val seq = Bpe.train(docs, "text", merges = m)
    val (bat, rounds) = Bpe.trainBatchedDetail(docs, "text", merges = m)
    assert(bat === seq, "batched trainer must stay byte-identical on real text")
    assert(rounds * 2 <= m,
      s"expected at most ${m / 2} rounds for $m merges, got $rounds")
  }

  test("minFreq caps the word table (the production-scale knob)") {
    val vocab = Bpe.wordFreq(corpus, "text", minFreq = 4)
      .as[(String, Long)].collect().toMap
    assert(vocab === Map("low" -> 5L, "newest" -> 6L))
  }

  test("non-BMP text: symbols are code points end-to-end (train, tokenize, fertility)") {
    // U+1D11E (musical G clef, outside the BMP) must be ONE symbol
    // everywhere: Spark's split('') and DuckDB's string_split('') both
    // split by code point, so the JVM apply/report twins must too —
    // String.split("") halves it into surrogates and a trained merge
    // involving it could never fire on the apply path.
    val clef = new String(Character.toChars(0x1D11E))
    val docs = Seq((1L, s"$clef${clef}a $clef${clef}a ${clef}b"))
      .toDF("doc_id", "text")
    // pair counts: (clef,clef)=2 ties (clef,a)=2; binary string order
    // puts "a" below clef, so the first merge is (clef, a)
    val seq = Bpe.train(docs, "text", merges = 1)
    assert(seq === Seq(Bpe.Merge(0, clef, "a", 2L)))
    val toks = Bpe.tokenize(docs, "doc_id", "text", seq)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(toks === Seq(clef, clef + "a", clef, clef + "a", clef, "b"),
      "the trained merge must fire on the JVM apply path for non-BMP symbols")
    val rep = Bpe.fertilityReport(docs, "doc_id", "text", seq, "doc_id")
      .as[(String, Long, Long, Long, Long, Long)].head()
    // words 3; tokens 2+2+2; chars 3+3+2 CODE POINTS (UTF-16 length is 13)
    assert(rep === (("1", 3L, 6L, 8L, 2000L, 1333333L)))
  }
}
