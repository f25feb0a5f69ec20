package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Dedup, Multimodal}
import graft.plans.Materialize

/** Streaming near-duplicate detection: documents arriving on a stream are
  * checked against every document seen so far — at ingest, not as a nightly
  * batch. The batch MinHash+LSH plan ([[Dedup.nearDupPairs]]) becomes a
  * stateful streaming topology:
  *
  *   per-row signature (narrow, the expression form — no shuffle)
  *   → explode (band, bucket) keys
  *   → [[StreamingState.bucketJoin]] keyed by bucket: state = signatures
  *     seen in this bucket; each new doc emits a candidate per stored
  *     signature whose estimated Jaccard (matching-lane fraction) clears
  *     the bar
  *
  * State is bounded by bucket occupancy (near-dup clusters), not corpus
  * size: a doc's signature lands in `bands` buckets, and unrelated docs
  * rarely share one. The same pair can surface from several buckets —
  * exactly-once pair emission would need a second stateful dedup; route
  * candidates through `dropDuplicates` downstream or dedup at the sink.
  * A re-delivered doc id is absorbed (the bucket keeps its first copy),
  * so a replayed record neither re-emits its pairs nor grows its buckets.
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
      .map { case (band, bucket, docId, docSig) => ((band, bucket), (docId, docSig)) }
    StreamingState.bucketJoin(keyed)(_._1) {
      case ((docId, docSig), (prevId, prevSig)) =>
        val est = prevSig.iterator.zip(docSig.iterator)
          .count { case (a, b) => a == b }.toDouble / docSig.size
        Option.when(est >= minEstJaccard)(
          Candidate(math.min(prevId, docId), math.max(prevId, docId), est))
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
    * State is one boolean per DISTINCT line ([[StreamingState.firstSeen]])
    * — the persistable form of the batch operator's first-occurrence
    * table, partitioned by digest hash across executors. Blank means
    * `trim(line) = ''`, the batch operator's test. Equals the batch
    * operator when ids arrive in ascending order (the ingest contract;
    * out-of-order arrival resolves by arrival time, which is the
    * streaming-correct answer).
    */
  def lineDedupAtIngest(docs: DataFrame, id: String, text: String,
      sep: String = "\n"): Dataset[LineOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lines = docs
      .select(col(id).cast("long").as("doc_id"),
        posexplode(split(col(text), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .select(md5(col("line")).as("h"), col("doc_id"), col("pos"), col("line"),
        (trim(col("line")) === "").as("blank"))
      .as[(String, Long, Int, String, Boolean)]
    StreamingState.firstSeen(lines)(_._1, r => (r._2, r._3), _._5) {
      (r, keep) => LineOut(r._2, r._3, r._4, keep)
    }
  }

  final case class ChunkOut(media_id: Long, chunk_no: Long, start: Long,
      chunk_len: Long, chunk_md5: String, is_new: Boolean)

  /** Content-defined-chunk dedup at ingest — the streaming twin of
    * [[graft.operators.Multimodal.cdcChunks]] + `cdcDedup`: each arriving
    * payload is chunked by the batch operator itself (the `cdc_chunks`
    * expression — CDC boundaries are a pure function of the bytes, so the
    * chunking is narrow, with no shuffle and no state), then every chunk
    * digest is classified against all chunks EVER seen via
    * [[StreamingState.firstSeen]] keyed by digest. `is_new = true` means
    * "store this block" — the content-addressable-store question a
    * dedup ingest tier answers per record. First occurrence wins by
    * (media_id, chunk_no) within a batch and by arrival across batches;
    * state is one boolean per DISTINCT chunk digest, partitioned by
    * digest hash across executors. A null text yields no rows, as in the
    * batch operator. The stream's kept-chunk inventory equals the batch
    * inventory when ids arrive in ascending order — pinned by
    * StreamingOpsSpec.
    */
  def cdcChunksAtIngest(docs: DataFrame, id: String, text: String,
      windowBytes: Int, maskBits: Int): Dataset[ChunkOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = Multimodal.cdcChunks(
        Multimodal.attachBlob(docs, id, text, "text/plain"), windowBytes, maskBits)
      .select(col("chunk_md5"), col("media_id"), col("chunk_no"),
        col("start"), col("chunk_len"))
      .as[(String, Long, Long, Long, Long)]
    StreamingState.firstSeen(chunks)(_._1, r => (r._2, r._3), _ => false) {
      case ((h, mid, no, st, ln), isNew) => ChunkOut(mid, no, st, ln, h, isNew)
    }
  }

  final case class FuzzyMatch(name_a: String, name_b: String, dist: Int)

  /** Online edit-distance matching at ingest — the streaming twin of
    * [[Dedup.fuzzyKeyPairs]] (entity resolution at the door: "is this
    * arriving name a typo-variant of one we already hold?"). Topology
    * mirrors [[nearDupCandidates]]: per arriving name the k·q+1 rarest
    * positional q-grams under a FROZEN rarity order
    * ([[Dedup.gramRarityTable]], collected once — vocabulary-sized by
    * construction) become the bucket keys; the grams are the batch
    * operator's own [[Dedup.positionalGrams]] column, cut in code points.
    * [[StreamingState.bucketJoin]] keyed by (gram, occ) holds the names
    * seen in that bucket and verifies exact Levenshtein against each with
    * Spark's `levenshtein` kernel (`UTF8String.levenshteinDistance`,
    * counting code points). The prefix-filter completeness proof needs
    * only a consistent total order, so the frozen artifact finds every
    * true pair among ALL streamed names (unseen grams rank as frequency
    * 0 — rarest, which only strengthens the prefix).
    * Names short enough to share zero grams with a true partner
    * (code-point len ≤ q·(k+1)-1+k) additionally route through one
    * dedicated short bucket — the online analogue of the batch short
    * pool, population alphabet-bounded. A pair sharing several buckets can emit more than
    * once — dedup downstream (the [[nearDupCandidates]] caveat).
    * Duplicate arrivals of a name are absorbed (state keeps one copy), and
    * in-batch folds run in ascending name order.
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
      .filter(col("n").isNotNull)
      .select(col("n"), Dedup.positionalGrams(col("n"), q), length(col("n")))
      .as[(String, Seq[String], Int)]
      .flatMap { case (n, grams, len) =>
        val withOcc = grams.zipWithIndex.map { case (g, i) =>
          (g, grams.take(i).count(_ == g) + 1)
        }
        val prefix = withOcc
          .sortBy { case (g, o) => (rarity.getOrElse((g, o), 0L), g, o) }
          .take(prefixLen)
        val short = if (len <= shortCut) Seq(("", 0)) else Nil
        (prefix ++ short).map((_, n))
      }
    StreamingState.bucketJoin(keyed)(identity) { (n, m) =>
      val d = UTF8String.fromString(n).levenshteinDistance(UTF8String.fromString(m))
      Option.when(d <= maxDist)(
        FuzzyMatch(if (n < m) n else m, if (n < m) m else n, d))
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
    * (AllPairs prefix, Bayardo WWW'07); [[StreamingState.bucketJoin]]
    * keyed by fingerprint holds each bucket's (doc, sorted fingerprint
    * array) members and verifies exact intersection against each, gated by the
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
    // the fingerprint set of the batch operator's `hashedGrams`, sorted
    // ascending (the verify intersection walks two sorted arrays)
    val fingerprints = array_sort(array_distinct(
      transform(Dedup.shingles(col(text), shingleN), Dedup.portableHash64(_))))
    val keyed = docs.filter(col(text).isNotNull)
      .select(col(id).cast("long").as("i"), fingerprints.as("fps"))
      .filter(col("i").isNotNull)
      .as[(Long, Array[Long])]
      .flatMap { case (i, fps) =>
        val s = fps.length
        val prefLen = s - (s * minNum + minDen - 1) / minDen + 1
        fps.sortBy(g => (rarity.getOrElse(g, 0L), g))
          .take(prefLen)
          .map(g => (g, (i, fps)))
      }
    StreamingState.bucketJoin(keyed)(_._1) { case ((i, fps), (j, fpsJ)) =>
      val sN = fps.length.toLong
      val sO = fpsJ.length.toLong
      // the τ-compatible size band gates the intersection walk
      if (minNum * math.max(sN, sO) > minDen * math.min(sN, sO)) None
      else {
        val c = sortedIntersectCount(fps, fpsJ)
        Option.when(minDen * c >= minNum * (sN + sO - c))(JaccardMatch(i, j, c, sN, sO))
      }
    }
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
    *
    * The exact door check needs no streaming operator: run
    * [[Dedup.noveltyReportAgainst]] against the persisted inventory
    * ([[buildNoveltyInventory]]) inside `writeStream.foreachBatch` — the
    * same distributed left join + per-doc agg as the batch report, so
    * scores equal it record-for-record under any batching. Use this bloom
    * form when that join's latency is too much for the door.
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
    * [[Dedup.noveltyInventory]]).
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

  private def sortedIntersectCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }
}
