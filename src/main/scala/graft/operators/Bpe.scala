package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016, the
  * standard subword-vocabulary construction) — the tokenizer-training leg
  * of a pretraining pipeline, next to the vocabulary stats
  * (`q_vocab_topk`) and token counting (`TextAnalysis`).
  *
  * Scale shape: the corpus collapses to its WORD-FREQUENCY table first
  * (one corpus-sized explode + count shuffle — the same vocab artifact
  * `q_vocab_topk` builds); everything after runs on that vocab-sized
  * frame: each merge round is a pair-count aggregate over distinct words
  * weighted by frequency, and only the single argmax row reaches the
  * driver per round (like the k-means trainer's per-round count). BPE's
  * merge sequence is inherently serial, so rounds are driver-sequenced —
  * production trainers cap the word table (frequency floor / top-N) so
  * thousands of rounds stay cheap; pass such a cap via `minFreq`.
  *
  * This trains PLAIN character BPE (no end-of-word marker) — stated so
  * the oracle and the spec hand-computation are unambiguous. Symbols are
  * Unicode CODE POINTS everywhere: Spark's `split(word, '')` and DuckDB's
  * `string_split(word, '')` both split by code point, so the JVM-side
  * apply/report paths iterate by code point too ([[codePointSymbols]]) —
  * `String.split("")` would split a non-BMP code point into surrogate
  * halves and the trained merges could never fire on it.
  */
object Bpe {

  /** The corpus word-frequency table: (word, f), lowercased whitespace
    * tokens — the persistable artifact every round of training consumes.
    */
  def wordFreq(docs: DataFrame, text: String, minFreq: Long = 1L): DataFrame = {
    require(minFreq >= 1, s"need minFreq >= 1, got $minFreq")
    docs.select(explode(split(lower(col(text)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("f"))
      .filter(col("f") >= minFreq)
  }

  /** Round-0 adjacent-symbol pair counts over a (word, f) table: each
    * word contributes its adjacent character pairs weighted by corpus
    * frequency — the statistic BPE's first merge argmaxes over. Output
    * (a, b, n); single-char words contribute nothing. Vocab-sized work:
    * the explode is ≤ (word length) rows per DISTINCT word.
    */
  def pairStats(vocab: DataFrame): DataFrame =
    vocab
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("f"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("f"),
        expr("substring(word, i, 1)").as("a"),
        expr("substring(word, i + 1, 1)").as("b"))
      .groupBy("a", "b").agg(sum("f").as("n"))

  /** One learned merge: rank order, the merged pair, and its count at
    * selection time.
    */
  final case class Merge(rank: Int, a: String, b: String, n: Long)

  /** Train `merges` BPE merges on the corpus: build the word-frequency
    * table once, then per round count adjacent SYMBOL pairs (weighted by
    * word frequency), pick the most frequent pair (ties: lexicographic
    * smallest, so the sequence is deterministic), and apply it
    * left-to-right non-overlapping inside every word. Returns the ordered
    * merge table — the tokenizer artifact (applying it to new text IS the
    * tokenizer).
    */
  def train(docs: DataFrame, text: String, merges: Int,
      minFreq: Long = 1L): Seq[Merge] = {
    require(merges >= 1, s"need merges >= 1, got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Seq[String], Long)] = wordFreq(docs, text, minFreq)
      .select(split(col("word"), "").as("sym"), col("f"))
      .as[(Seq[String], Long)]
      .transform(Materialize(_))
    val out = Seq.newBuilder[Merge]
    var r = 0
    var exhausted = false
    while (r < merges && !exhausted) {
      val top = vocab.flatMap { case (sym, f) =>
          if (sym.length < 2) Iterator.empty
          else sym.iterator.zip(sym.iterator.drop(1)).map { case (x, y) => (x, y, f) }
        }
        .toDF("a", "b", "f")
        .groupBy("a", "b").agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .as[(String, String, Long)]
        .take(1)
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = top.head
        out += Merge(r, a, b, n)
        val merged = Materialize(vocab.map { case (sym, f) =>
          (mergePair(sym, a, b), f)
        })
        Materialize.release(vocab)
        vocab = merged
        r += 1
      }
    }
    Materialize.release(vocab)
    out.result()
  }

  /** [[train]] with BATCHED merge rounds: one statistics pass can commit
    * a CHAIN of merges — byte-identical to the sequential trainer by
    * construction — cutting the driver-sequenced round count (the
    * [[train]] scaladoc's watch item: a 32k-merge production vocabulary
    * must not mean 32k sequential Spark jobs). Property-pinned equal to
    * [[train]] in BpeSpec, including adversarial overlap corpora.
    *
    * Why naive batching stalls: sequential BPE's next pick is usually a
    * pair INVOLVING the symbol just created ((t,h) then (th,e) — "the").
    * Disjoint-prefix batching can never certify those, and measures only
    * ~1.7 merges/round on English. This trainer instead SIMULATES the
    * sequential selection on the driver with exact arithmetic:
    *
    *   - per round, two collects: the top-`batchK` pair counts, and every
    *     trigram whose leading or trailing 2-gram is one of those top
    *     pairs (so any trigram the simulation queries is either present
    *     or provably zero);
    *   - applying a pair (a,b) with no self-overlapping occurrence
    *     pattern (certified by T(a,b,a)=0 OR T(b,a,b)=0 — both nonzero is
    *     the only way an `abab` run can exist) rewrites counts EXACTLY:
    *     created (w,ab) = T(w,a,b), created (ab,z) = T(a,b,z), consumed
    *     (w,a) -= T(w,a,b), consumed (b,z) -= T(a,b,z), (a,b) -> 0;
    *   - a step whose exactness is unprovable (product-involved merges —
    *     their effects need 4-grams — overlap patterns, stale contexts,
    *     name collisions) still APPLIES if its selection is certified,
    *     but folds every count it makes uncertain into a hazard ceiling;
    *   - a step is certified exactly when the best exactly-known count
    *     strictly exceeds the hazard ceiling, every uncertain bound, and
    *     the truncation bound of the collected ranking (unseen counts);
    *     ties break (count desc, left asc, right asc) exactly as
    *     [[train]] orders them. The first uncertifiable step ends the
    *     round; worst case one merge per round = [[train]]'s pace.
    */
  def trainBatched(docs: DataFrame, text: String, merges: Int,
      minFreq: Long = 1L, batchK: Int = 256): Seq[Merge] =
    trainBatchedDetail(docs, text, merges, minFreq, batchK)._1

  /** [[trainBatched]] plus the number of rounds actually run — the
    * rounds ≪ merges evidence the spec asserts.
    */
  def trainBatchedDetail(docs: DataFrame, text: String, merges: Int,
      minFreq: Long = 1L, batchK: Int = 256): (Seq[Merge], Int) = {
    require(merges >= 1, s"need merges >= 1, got $merges")
    require(batchK >= 1, s"need batchK >= 1, got $batchK")
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Seq[String], Long)] = wordFreq(docs, text, minFreq)
      .select(split(col("word"), "").as("sym"), col("f"))
      .as[(Seq[String], Long)]
      .transform(Materialize(_))
    // driver-side alphabet: every symbol string currently in the vocab —
    // alphabet-sized (initial chars + one per merge), never data-sized
    var alphabet: Set[String] =
      vocab.flatMap(_._1).distinct().collect().toSet
    val out = Seq.newBuilder[Merge]
    var done = 0
    var rounds = 0
    var exhausted = false
    while (done < merges && !exhausted) {
      val pairs = vocab.flatMap { case (sym, f) =>
          if (sym.length < 2) Iterator.empty
          else sym.iterator.zip(sym.iterator.drop(1)).map { case (x, y) => (x, y, f) }
        }
        .toDF("a", "b", "f")
        .groupBy("a", "b").agg(sum("f").as("n"))
        .transform(Materialize(_)) // one materialization feeds both reads
      val top = pairs.orderBy(col("n").desc, col("a"), col("b"))
        .limit(batchK).as[(String, String, Long)].collect()
      Materialize.release(pairs)
      if (top.isEmpty) exhausted = true
      else {
        // every pair key NOT in `exact` has count ≤ unseenBound
        val unseenBound = if (top.length < batchK) -1L else top.last._3
        val topKeys = top.map(p => (p._1, p._2)).toSet
        // trigrams whose first or last 2-gram is a top pair: complete for
        // every query the simulation makes (zero-guards and deltas are
        // always keyed by an accepted — hence top — pair)
        val keyList = topKeys.toSeq.map { case (x, y) => x + "\u0000" + y }
        val tri: Map[(String, String, String), Long] = vocab
          .flatMap { case (sym, f) =>
            if (sym.length < 3) Iterator.empty
            else sym.indices.dropRight(2).iterator
              .map(i => (sym(i), sym(i + 1), sym(i + 2), f))
          }
          .toDF("x", "y", "z", "f")
          .filter(concat_ws("\u0000", col("x"), col("y")).isin(keyList: _*) ||
            concat_ws("\u0000", col("y"), col("z")).isin(keyList: _*))
          .groupBy("x", "y", "z").agg(sum("f").as("t"))
          .as[(String, String, String, Long)].collect()
          .map(r => (r._1, r._2, r._3) -> r._4).toMap

        // ---- driver-side exact simulation of sequential selection ----
        val exact = scala.collection.mutable.Map.empty[(String, String), Long]
        top.foreach(p => exact((p._1, p._2)) = p._3)
        var hazardCeil = -1L      // max possible count of any uncertain pair
        var chainSyms = Set.empty[String] // symbols touched by applied merges
        var names = alphabet      // all symbol names in existence
        val chain = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var open = true
        while (open && done + chain.size < merges && exact.nonEmpty) {
          val ((a, b), n) = exact.minBy { case ((x, y), c) => (-c, x, y) }
          // certification: nothing outside `exact` can out-rank (a,b) —
          // strict, because an uncertain/unseen tie could win the
          // lexicographic break with an unknown name. The FIRST step is
          // always certified: the collected ranking's head is the global
          // argmax with tie-break even when the ranking is truncated.
          if (chain.nonEmpty && n <= math.max(hazardCeil, unseenBound)) open = false
          else {
            val product = a + b
            chain += ((a, b, n))
            exact.remove((a, b))
            val baseClean = !chainSyms(a) && !chainSyms(b) && !names(product)
            val noOverlap = tri.getOrElse((a, b, a), 0L) == 0L ||
              tri.getOrElse((b, a, b), 0L) == 0L
            if (baseClean && noOverlap && topKeys((a, b))) {
              // exact rewrite via round-start trigrams
              tri.foreach {
                case ((w, x, y), t) if x == a && y == b =>
                  // left context: creates (w, ab), consumes (w, a)
                  if (chainSyms(w)) {
                    // a chain-touched context symbol makes BOTH sides
                    // unprovable: the creation's true count and the
                    // consumed pair's remaining count each depend on how
                    // many w's the earlier merge absorbed (a 4-gram)
                    hazardCeil = math.max(hazardCeil, t)
                    exact.remove((w, a))
                      .foreach(c => hazardCeil = math.max(hazardCeil, c))
                  } else {
                    exact((w, product)) = exact.getOrElse((w, product), 0L) + t
                    exact.updateWith((w, a))(_.map(_ - t).filter(_ > 0L))
                  }
                case _ => ()
              }
              tri.foreach {
                case ((x, y, z), t) if x == a && y == b =>
                  // right context: creates (ab, z), consumes (b, z)
                  if (chainSyms(z)) {
                    hazardCeil = math.max(hazardCeil, t)
                    exact.remove((b, z))
                      .foreach(c => hazardCeil = math.max(hazardCeil, c))
                  } else {
                    exact((product, z)) = exact.getOrElse((product, z), 0L) + t
                    exact.updateWith((b, z))(_.map(_ - t).filter(_ > 0L))
                  }
                case _ => ()
              }
            } else {
              // selection was certified but the rewrite is unprovable
              // (product-involved merge needs 4-grams; overlap pattern;
              // stale context; name collision): every pair ending in `a`
              // or starting in `b` becomes uncertain, and creations are
              // bounded by the counts they consume
              val touched = exact.filter { case ((x, y), _) => y == a || x == b }
              touched.foreach { case (k, c) =>
                hazardCeil = math.max(hazardCeil, c)
                exact.remove(k)
              }
              hazardCeil = math.max(hazardCeil, unseenBound)
              if (names(product)) hazardCeil = Long.MaxValue // conflated names
            }
            chainSyms ++= Set(a, b, product)
            names += product
          }
        }

        val batch = chain.toSeq
        batch.zipWithIndex.foreach { case ((a, b, n), i) =>
          out += Merge(done + i, a, b, n)
        }
        val ranked = batch.map(p => (p._1, p._2))
        val next = Materialize(vocab.map { case (sym, f) =>
          (ranked.foldLeft(sym) { case (s, (a, b)) => mergePair(s, a, b) }, f)
        })
        Materialize.release(vocab)
        vocab = next
        alphabet ++= batch.map(p => p._1 + p._2)
        done += batch.size
        rounds += 1
      }
    }
    Materialize.release(vocab)
    (out.result(), rounds)
  }

  /** Apply a trained merge table to a document column: (id, bpe_tokens)
    * rows, each word split to characters and the merges replayed in rank
    * order — the TOKENIZER the training loop exists to produce. Runs on
    * the typed Dataset path (a per-row Scala map over (id, text) pairs,
    * the [[Corpus.packChunksTyped]] precedent — tokenization is honest
    * per-row CPU; no UDF, no shuffle), so the same call works on a
    * streaming frame at ingest. The merge list rides along as a plain
    * broadcast-serialized local. O(merges · word length) per word — fine
    * for vocab-scale merge tables; a production tokenizer keeps a
    * priority-queue per word, same output by construction.
    */
  def tokenize(docs: DataFrame, id: String, text: String,
      merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = merges.sortBy(_.rank).map(m => (m.a, m.b, m.a + m.b)).toArray
    docs.select(col(id).cast("long"), lower(col(text)))
      .as[(Long, String)]
      .map { case (docId, t) =>
        val toks = t.split("\\s+").filter(_.nonEmpty)
          .flatMap(w => tokenizeWord(w, ranked))
        (docId, toks)
      }
      .toDF(id, "bpe_tokens")
  }

  /** One word through the trained merge table, with the substring
    * screen: every symbol is a contiguous substring of the original
    * word, so merge (a, b) can only ever fire if a+b occurs in w — one
    * intrinsic contains() per merge skips the per-merge symbol rebuild
    * for the (vast) majority of words, and the char split materializes
    * only when some merge survives the screen (measured 38.2 → 3.93 s at
    * the 100× corpus, SCALING.md); output byte-identical by construction
    * (skipped merges were no-ops).
    */
  private def tokenizeWord(w: String,
      ranked: Array[(String, String, String)]): Seq[String] = {
    var sym: Seq[String] = null
    var i = 0
    while (i < ranked.length) {
      val (a, b, ab) = ranked(i)
      if (w.contains(ab)) {
        if (sym == null) sym = codePointSymbols(w)
        sym = mergePair(sym, a, b)
      }
      i += 1
    }
    if (sym == null) codePointSymbols(w) else sym
  }

  /** Code-point symbol split — the JVM twin of Spark's `split(word, '')`
    * (and DuckDB's `string_split(word, '')`), both of which split by
    * CODE POINT. `String.split("")` advances by UTF-16 unit on empty
    * matches and would halve a non-BMP code point into surrogates,
    * making apply inconsistent with training.
    */
  private[graft] def codePointSymbols(w: String): Seq[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toSeq
  }

  /** Tokenizer fertility / coverage report per group (source, language
    * bucket, …): exact integer corpus statistics of a trained merge
    * table — words, BPE tokens, characters, plus the two ratios every
    * tokenizer evaluation quotes, `tokens_per_kword` (fertility ×1000)
    * and `chars_per_token_ppm` (compression ×10⁶), both as exact `div`s
    * so the report is bit-portable. The standard pre-training check
    * ("which sources does this tokenizer serve badly?") — a source
    * whose fertility is 2× the corpus mean gets its token budget halved
    * by the tokenizer, before any quality filter runs.
    *
    * Scale shape: ONE narrow typed pass per document emits (group,
    * words, tokens, chars) — no second scan, no join (the first cut
    * joined [[tokenize]]'s output back to a stats projection; fusing
    * the counts into the same per-row map removed a scan and an
    * exchange) — then one partial agg collapses map-side to ≤ |groups|
    * rows per task. Groups with zero words are dropped (their ratios
    * are undefined), matching the word-level oracle. The group column
    * surfaces as string. Output: (<group>, n_words, n_tokens, n_chars,
    * tokens_per_kword, chars_per_token_ppm), one row per group.
    */
  def fertilityReport(docs: DataFrame, id: String, text: String,
      merges: Seq[Merge], group: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = merges.sortBy(_.rank).map(m => (m.a, m.b, m.a + m.b)).toArray
    docs.select(col(group).cast("string"), lower(col(text)))
      .as[(String, String)]
      .map { case (g, t) =>
        val words = Option(t).getOrElse("").split("\\s+").filter(_.nonEmpty)
        var nt = 0L
        var nc = 0L
        words.foreach { w =>
          // code points, not UTF-16 units — the oracle's len() and the
          // symbol alphabet both count code points
          nc += w.codePointCount(0, w.length)
          nt += tokenizeWord(w, ranked).length
        }
        (g, words.length.toLong, nt, nc)
      }
      .toDF(group, "_ftNw", "_ftNt", "_ftNc")
      .groupBy(col(group))
      .agg(sum("_ftNw").as("n_words"), sum("_ftNt").as("n_tokens"),
        sum("_ftNc").as("n_chars"))
      .filter(col("n_words") > 0)
      .select(col(group), col("n_words"), col("n_tokens"), col("n_chars"),
        expr("n_tokens * 1000 div n_words").as("tokens_per_kword"),
        expr("n_chars * 1000000 div n_tokens").as("chars_per_token_ppm"))
  }

  /** Left-to-right non-overlapping merge of adjacent (a, b) into a+b —
    * the standard BPE application rule (aaa with merge (a,a) → [aa, a]).
    */
  private[graft] def mergePair(sym: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < sym.length) {
      if (i < sym.length - 1 && sym(i) == a && sym(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += sym(i)
        i += 1
      }
    }
    out.toSeq
  }
}
