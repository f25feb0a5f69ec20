package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.operators.Dedup
import graft.plans.Materialize

/** Streaming near-duplicate detection: documents arriving on a stream are
  * checked against every document seen so far — at ingest, not as a nightly
  * batch. The batch MinHash+LSH plan ([[Dedup.nearDupPairs]]) becomes a
  * stateful streaming topology:
  *
  *   per-row signature (narrow, the expression form — no shuffle)
  *   → explode (band, bucket) keys
  *   → flatMapGroupsWithState keyed by bucket: state = signatures seen in
  *     this bucket; each new doc emits a candidate per stored signature
  *     whose estimated Jaccard (matching-lane fraction) clears the bar
  *
  * State is bounded by bucket occupancy (near-dup clusters), not corpus
  * size: a doc's signature lands in `bands` buckets, and unrelated docs
  * rarely share one. The same pair can surface from several buckets —
  * exactly-once pair emission would need a second stateful dedup; route
  * candidates through `dropDuplicates` downstream or dedup at the sink.
  */
object StreamingDedup {

  final case class Candidate(a_id: Long, b_id: Long, est_jaccard: Double)

  def nearDupCandidates(
      docs: DataFrame, id: String, text: String,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      minEstJaccard: Double = 0.7): Dataset[Candidate] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = numHashes / bands
    val sig = Dedup.minHashSignature(Dedup.shingles(col(text), shingleN), numHashes)
    val keyed = docs
      .select(col(id).cast("long").as("doc_id"), sig.as("sig"))
      .withColumn("bk", explode(Dedup.lshBandKeys(col("sig"), bands, r)))
      .select(col("bk.band"), col("bk.bucket"), col("doc_id"), col("sig"))
      .as[(Int, Long, Long, Seq[Long])]

    keyed.groupByKey(x => (x._1, x._2))
      .flatMapGroupsWithState[List[(Long, Seq[Long])], Candidate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[Candidate]
          rows.foreach { case (_, _, docId, docSig) =>
            seen.foreach { case (prevId, prevSig) =>
              if (prevId != docId) {
                val est = prevSig.iterator.zip(docSig.iterator)
                  .count { case (a, b) => a == b }.toDouble / docSig.size
                if (est >= minEstJaccard)
                  out += Candidate(math.min(prevId, docId), math.max(prevId, docId), est)
              }
            }
            seen = (docId, docSig) :: seen
          }
          state.update(seen)
          out.result().iterator
      }
  }

  final case class LineOut(doc_id: Long, pos: Int, line: String, keep: Boolean)

  /** Line-level dedup at ingest — the streaming twin of
    * [[Dedup.lineDedup]]: each arriving document's lines are checked
    * against every line EVER seen, keyed by line digest in the state
    * store; the first occurrence (by (doc_id, pos) within a batch, by
    * arrival across batches) keeps, repeats drop, blank lines are
    * structural and bypass state. Emits one (doc_id, pos, line, keep) row
    * per input line — documents arrive whole, so the sink rebuilds a doc
    * from its kept lines within the same micro-batch (no cross-batch doc
    * state needed; see the spec).
    *
    * State is one boolean per DISTINCT line — the persistable form of the
    * batch operator's first-occurrence table, partitioned by digest hash
    * across executors. Equals the batch operator when ids arrive in
    * ascending order (the ingest contract; out-of-order arrival resolves
    * by arrival time, which is the streaming-correct answer).
    */
  def lineDedupAtIngest(docs: DataFrame, id: String, text: String,
      sep: String = "\n"): Dataset[LineOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lines = docs
      .select(col(id).cast("long").as("doc_id"),
        posexplode(split(col(text), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .select(md5(col("line")).as("h"), col("doc_id"), col("pos"), col("line"))
      .as[(String, Long, Int, String)]
    lines.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, LineOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var seen = state.getOption.getOrElse(false)
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).map {
            case (_, docId, pos, line) =>
              val blank = line.trim.isEmpty
              val keep = blank || !seen
              if (!blank && !seen) seen = true
              LineOut(docId, pos, line, keep)
          }
          if (seen) state.update(true)
          out.iterator
      }
  }

  final case class ChunkOut(media_id: Long, chunk_no: Long, start: Long,
      chunk_len: Long, chunk_md5: String, is_new: Boolean)

  /** Content-defined-chunk dedup at ingest — the streaming twin of
    * [[graft.operators.Multimodal.cdcChunks]] + `cdcDedup`: each arriving
    * payload is chunked LOCALLY (CDC boundaries are a pure function of
    * the bytes — no shuffle, no state needed to chunk), then every chunk
    * digest is classified against all chunks EVER seen via
    * flatMapGroupsWithState keyed by digest. `is_new = true` means
    * "store this block" — the content-addressable-store question a
    * dedup ingest tier answers per record. First occurrence wins by
    * (media_id, chunk_no) within a batch and by arrival across batches;
    * state is one boolean per DISTINCT chunk digest, partitioned by
    * digest hash across executors.
    *
    * The local chunker replays the batch operator's arithmetic exactly
    * (uppercase-hex plane, md5 window hash, 15-hex-digit 60-bit
    * boundary test), so the stream's kept-chunk inventory equals the
    * batch inventory when ids arrive in ascending order — pinned by
    * StreamingOpsSpec.
    */
  def cdcChunksAtIngest(docs: DataFrame, id: String, text: String,
      windowBytes: Int, maskBits: Int): Dataset[ChunkOut] = {
    require(windowBytes >= 1 && maskBits >= 0 && maskBits <= 32,
      s"bad cdc params: windowBytes=$windowBytes maskBits=$maskBits")
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = docs
      .select(col(id).cast("long").as("media_id"), col(text).as("_t"))
      .as[(Long, String)]
      .flatMap { case (mid, t) =>
        cdcChunksLocal(Option(t).getOrElse("").getBytes("UTF-8"),
          windowBytes, maskBits).zipWithIndex.map { case ((st, ln, h), i) =>
          (h, mid, i.toLong, st, ln)
        }
      }
    chunks.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, ChunkOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var seen = state.getOption.getOrElse(false)
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).map {
            case (h, mid, no, st, ln) =>
              val isNew = !seen
              seen = true
              ChunkOut(mid, no, st, ln, h, isNew)
          }
          state.update(true)
          out.iterator
      }
  }

  /** Single-payload CDC: (start, len, md5) per chunk — byte-identical to
    * the distributed [[graft.operators.Multimodal.cdcChunks]] arithmetic
    * (boundary where the 60-bit hash of the window's uppercase-hex text
    * has `maskBits` zero low bits; empty payload = one empty chunk).
    */
  private[graft] def cdcChunksLocal(bytes: Array[Byte], w: Int,
      maskBits: Int): Seq[(Long, Long, String)] = {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val hx = bytes.map("%02X".format(_)).mkString
    val len = bytes.length
    val modulus = 1L << maskBits
    val bounds = (w until len).filter { p =>
      java.lang.Long.parseLong(
        md5hex(hx.substring((p - w) * 2, p * 2)).take(15), 16) % modulus == 0
    }
    val starts = 0 +: bounds
    val ends = bounds :+ len
    starts.zip(ends).map { case (st, en) =>
      (st.toLong, (en - st).toLong, md5hex(hx.substring(st * 2, en * 2)))
    }
  }

  final case class FuzzyMatch(name_a: String, name_b: String, dist: Int)

  /** Online edit-distance matching at ingest — the streaming twin of
    * [[Dedup.fuzzyKeyPairs]] (entity resolution at the door: "is this
    * arriving name a typo-variant of one we already hold?"). Topology
    * mirrors [[nearDupCandidates]]: per arriving name the k·q+1 rarest
    * positional q-grams under a FROZEN rarity order
    * ([[Dedup.gramRarityTable]], collected once — vocabulary-sized by
    * construction) become the bucket keys; flatMapGroupsWithState keyed
    * by (gram, occ) holds the names seen in that bucket and verifies
    * exact Levenshtein against each. The prefix-filter completeness
    * proof needs only a consistent total order, so the frozen artifact
    * finds every true pair among ALL streamed names (unseen grams rank
    * as frequency 0 — rarest, which only strengthens the prefix).
    * Names short enough to share zero grams with a true partner
    * (len ≤ q·(k+1)-1+k) additionally route through one dedicated short
    * bucket — the online analogue of the batch short pool, population
    * alphabet-bounded. A pair sharing several buckets can emit more than
    * once — dedup downstream (the [[nearDupCandidates]] caveat).
    * Duplicate arrivals of a name are absorbed (state keeps one copy).
    */
  def fuzzyMatchAtIngest(names: DataFrame, key: String,
      rarity: Map[(String, Int), Long], maxDist: Int,
      q: Int = 2): Dataset[FuzzyMatch] = {
    require(maxDist >= 1, s"need maxDist >= 1, got $maxDist")
    require(q >= 1, s"need q >= 1, got $q")
    val spark = names.sparkSession
    import spark.implicits._
    val prefixLen = maxDist * q + 1
    val shortCut = q * (maxDist + 1) - 1 + maxDist
    val keyed = names.select(col(key).cast("string").as("n"))
      .filter(col("n").isNotNull).as[String]
      .flatMap { n =>
        val grams = (0 to n.length - q).map(i => n.substring(i, i + q))
        val withOcc = grams.zipWithIndex.map { case (g, i) =>
          (g, grams.take(i).count(_ == g) + 1)
        }
        val prefix = withOcc
          .sortBy { case (g, o) => (rarity.getOrElse((g, o), 0L), g, o) }
          .take(prefixLen)
        val short =
          if (n.length <= shortCut) Seq(("", 0)) else Nil
        (prefix ++ short).map { case (g, o) => (g, o, n) }
      }
    keyed.groupByKey(x => (x._1, x._2))
      .flatMapGroupsWithState[List[String], FuzzyMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[FuzzyMatch]
          // ascending-name fold: deterministic across retries, as in
          // StreamingSimilarity.semDedupAtIngest
          rows.map(_._3).toSeq.distinct.sorted.foreach { n =>
            if (!seen.contains(n)) {
              seen.foreach { m =>
                val d = levLocal(n, m)
                if (d <= maxDist)
                  out += FuzzyMatch(
                    if (n < m) n else m, if (n < m) m else n, d)
              }
              seen = n :: seen
            }
          }
          state.update(seen)
          out.result().iterator
      }
  }

  final case class JaccardMatch(new_id: Long, old_id: Long,
      n_common: Long, n_new: Long, n_old: Long)

  /** EXACT Jaccard matching at ingest — the streaming twin of
    * [[Dedup.jaccardPairsAgainst]] ("is this arriving document a
    * J ≥ τ near-copy of one we already hold?"), closing the family
    * symmetry with [[fuzzyMatchAtIngest]] and
    * [[graft.streaming.StreamingSearch.cosineMatchAtIngest]].
    *
    * Per arriving doc, the (s − ⌈τs⌉ + 1) rarest distinct shingle
    * fingerprints under a FROZEN rarity artifact become the bucket keys
    * (AllPairs prefix, Bayardo WWW'07); flatMapGroupsWithState keyed by
    * fingerprint holds each bucket's (doc, sorted fingerprint array)
    * members and verifies exact intersection against each, gated by the
    * τ-compatible size band. Completeness needs only a CONSISTENT total
    * gram order — the [[Dedup.jaccardPairsAgainst]] frozen-order
    * argument — so the artifact may be head-capped to the most frequent
    * grams: every absent gram ties at df 0 and breaks by fingerprint,
    * still one total order over all grams any doc can produce. A true
    * pair shares a gram inside both prefixes under that order, so no
    * pair is lost; unseen-gram-heavy docs just carry rarer prefixes.
    *
    * State shape: a doc is stored in ≤ (1−τ)s+1 buckets with its full
    * fingerprint array (what exact verify needs); bucket occupancy
    * tracks gram rarity, not corpus size. A pair sharing several prefix
    * grams can emit more than once — dedup downstream (the
    * [[nearDupCandidates]] caveat). Duplicate arrivals of a doc id are
    * absorbed; in-batch folds run in ascending id order so retries are
    * deterministic.
    */
  def jaccardMatchAtIngest(docs: DataFrame, id: String, text: String,
      rarity: Map[Long, Long], shingleN: Int,
      minNum: Int, minDen: Int): Dataset[JaccardMatch] = {
    require(minNum >= 1 && minDen >= minNum,
      s"need 0 < minNum/minDen <= 1, got $minNum/$minDen")
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(col(id).cast("long").as("i"), lower(col(text)).as("t"))
      .filter(col("i").isNotNull && col("t").isNotNull)
      .as[(Long, String)]
      .flatMap { case (i, t) =>
        val fps = shingleFpsLocal(t, shingleN)
        val s = fps.length
        val prefLen = s - (s * minNum + minDen - 1) / minDen + 1
        fps.sortBy(g => (rarity.getOrElse(g, 0L), g))
          .take(prefLen)
          .map(g => (g, i, fps))
      }
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Array[Long])], JaccardMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[JaccardMatch]
          rows.toSeq.sortBy(_._2).foreach { case (_, i, fps) =>
            if (!seen.exists(_._1 == i)) {
              val sN = fps.length.toLong
              seen.foreach { case (j, fpsJ) =>
                val sO = fpsJ.length.toLong
                if (minNum * math.max(sN, sO) <= minDen * math.min(sN, sO)) {
                  val c = sortedIntersectCount(fps, fpsJ)
                  if (minDen * c >= minNum * (sN + sO - c))
                    out += JaccardMatch(i, j, c, sN, sO)
                }
              }
              seen = (i, fps) :: seen
            }
          }
          state.update(seen)
          out.result().iterator
      }
  }

  /** Per-doc n-gram novelty at ingest — the EXACT streaming twin of
    * [[graft.operators.Dedup.noveltyReport]] ("how much of this arriving
    * doc is genuinely new?"). Unlike the rest of the door-check family,
    * the novelty inventory is NOT vocabulary-sized: a corpus's distinct
    * 3-gram set grows near-linearly with its tokens, so at 100 TB it is
    * billions of longs — never a driver set, never a task closure. Each
    * micro-batch therefore runs the SAME distributed left join + per-doc
    * agg the batch operator runs ([[Dedup.noveltyReportAgainst]]) against
    * the PERSISTED inventory DataFrame, inside `foreachBatch`; scores are
    * deterministic under any arrival order or batching and equal the
    * batch report record-for-record (spec-pinned). The scored frame for
    * each micro-batch goes to `sink` (write to the destination table
    * there; foreachBatch replays the batch id on recovery, so an
    * idempotent-by-batch-id sink keeps exactly-once).
    *
    * This is the production default. When the join's latency is too much
    * for the door and a one-sided error is acceptable, use
    * [[noveltyAtIngestBloom]] — a stateless per-record probe against a
    * fixed-size blob (novelty_ppm becomes a lower bound).
    *
    * The batch-id replay guarantee above requires a checkpoint: pass
    * `checkpoint` (it is applied to the writer before `start()`), or set
    * the session-wide `spark.sql.streaming.checkpointLocation` conf.
    * Without either there is no recovery log and restarts re-deliver
    * from the source's own position, not the last committed batch.
    * `configure` exposes the writer for any further options
    * (queryName, trigger) without widening this signature per-knob.
    */
  def noveltyAtIngest(docs: DataFrame, id: String, text: String,
      shingleN: Int, inventory: DataFrame,
      checkpoint: Option[String] = None,
      configure: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = identity)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val base = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(Dedup.noveltyReportAgainst(
          batch, inventory, id, text, shingleN), batchId)
      }
    configure(checkpoint.fold(base)(p => base.option("checkpointLocation", p)))
      .start()
  }

  /** Bloom-gated novelty at ingest: the frozen inventory collapses to a
    * fixed-size bloom blob ([[buildNoveltyBloom]] — `numBits/8` bytes
    * REGARDLESS of corpus size), and scoring is a stateless codegen'd
    * per-record fold, no join and no state store. One-sided error: false
    * positives mark genuinely-new grams as seen, never the reverse, so
    * `n_unseen` / `novelty_ppm` are LOWER BOUNDS on the exact report —
    * the safe direction for novelty triage (a source is only ever
    * under-credited, a stale source never scores novel). Output schema
    * equals the batch report: (<id>, n_grams, n_unseen, novelty_ppm).
    */
  def noveltyAtIngestBloom(docs: DataFrame, id: String, text: String,
      shingleN: Int, bloom: Array[Byte]): DataFrame =
    docs
      .select(col(id).cast("long").as(id),
        Dedup.shingles(col(text), shingleN).as("_nvGs"))
      .withColumn("n_grams", size(col("_nvGs")).cast("long"))
      .withColumn("n_unseen",
        size(filter(col("_nvGs"), g =>
          !call_function("bloom_contains", lit(bloom), g))).cast("long"))
      .select(col(id), col("n_grams"), col("n_unseen"),
        expr("n_unseen * 1000000 div n_grams").as("novelty_ppm"))

  /** The persistable novelty inventory (distinct gram hashes, column
    * `_nvG`) — a distributed DataFrame, parquet round-tripped via
    * [[graft.state.Artifacts]]; deliberately NEVER collected (see
    * [[noveltyAtIngest]]).
    */
  def buildNoveltyInventory(corpus: DataFrame, id: String, text: String,
      shingleN: Int): DataFrame =
    Dedup.noveltyInventory(corpus, text, shingleN)

  /** The fixed-size blob for [[noveltyAtIngestBloom]]: the corpus's
    * distinct gram STRINGS folded into one bloom bitset, auto-sized at
    * `bitsPerItem` (default 10 bits/gram ≈ 1% fp at k=5, the
    * [[graft.plans.Hints.bloomGatedJoin]] convention). `maxBytes` is the
    * artifact ceiling: the build REFUSES (loudly, before folding) a
    * corpus whose gram count would need a bigger blob, instead of
    * silently saturating — a saturated filter scores everything as seen
    * and the door reads "nothing is novel".
    */
  def buildNoveltyBloom(corpus: DataFrame, id: String, text: String,
      shingleN: Int, bitsPerItem: Int = 10, k: Int = 5,
      maxBytes: Long = 64L << 20): Array[Byte] = {
    require(bitsPerItem >= 1 && k >= 1 && k <= 64,
      s"bad bloom params: bitsPerItem=$bitsPerItem k=$k")
    val gramSet = corpus
      .select(explode(Dedup.shingles(col(text), shingleN)).as("g"))
      .distinct()
      .transform(Materialize(_)) // counted for sizing, then folded once
    val n = gramSet.count()
    val want = math.max(bitsPerItem.toLong * math.max(n, 1L), 1L << 10)
    val numBits = ((want + 63) / 64) * 64
    graft.state.Artifacts.guardCeiling(
      numBits / 8, maxBytes, "novelty bloom blob", "bytes")
    gramSet.agg(expr(s"bloom_agg(g, $numBits, $k)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Local twin of `shingles` + `portableHash64`: distinct lowercase word
    * n-gram MD5-prefix fingerprints, sorted ascending (the verify
    * intersection walks two sorted arrays).
    */
  private def shingleFpsLocal(lowered: String, n: Int): Array[Long] = {
    val toks = lowered.split("\\s+").toSeq
    val sh =
      if (toks.size < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    sh.distinct.map { g =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }.distinct.sorted.toArray
  }

  private def sortedIntersectCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** Plain DP Levenshtein for in-state verification (the batch operator
    * uses the codegen'd expression; state folds run per bucket row).
    */
  private def levLocal(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }
}
