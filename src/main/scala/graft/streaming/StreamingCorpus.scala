package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.operators.Corpus
import graft.state.Artifacts

/** Streaming context-window preparation at ingest — the deployment shape
  * of `Corpus.chunk` + `Corpus.packChunks`: documents arrive whole (one
  * row per document, the Kafka-record shape of `k_source.go:51-67`), and
  * each is chunked into token windows and greedily packed into
  * fixed-budget bins IN THE SAME ROW, before the explode. Because packing
  * never mixes documents, the whole operator is a narrow per-row
  * projection: no shuffle, no state store, append-mode safe,
  * checkpoint-free — the same call works identically on a batch frame.
  *
  * Contrast with the batch pipeline, which chunks first and re-groups by
  * document to pack (one shuffle): the stream gets the packing for free
  * because the document boundary IS the row boundary at ingest. The
  * window list and the greedy fold are the SAME definitions the batch
  * operators use (`Corpus.tokenWindows` / `Corpus.greedyPackFold`), so
  * the two forms cannot drift; a test additionally pins them equal.
  *
  * The LEDGERED operators further down (in-context attach, pack append,
  * admission quota) are `foreachBatch` harnesses on the
  * [[StreamingGraph]] versioned-artifact idiom: per micro-batch the
  * DISTRIBUTED batch operator runs with its base read from a one-row
  * ledger artifact, and only that running base crosses the append log's
  * single-writer tail — one ledger row per BATCH, never per record. (A
  * dense global append order is a log and a log has one tail, but that
  * argument justifies a sequential COUNTER, not sequential per-row
  * work: the pre-round-11 forms shuffled every arriving row of the
  * batch to ONE `flatMapGroupsWithState` group and materialized it with
  * `.toSeq` — a single-task memory/throughput funnel at exactly the
  * continuous-ingest regime they were built for. The ledger-probe rows
  * of BENCH_DENSITY.json measure the two shapes against each other.)
  */
object StreamingCorpus {

  def chunkAndPackAtIngest(docs: DataFrame, id: String, text: String,
      chunkTokens: Int, overlapTokens: Int, capacity: Int,
      keepCols: Seq[String] = Nil): DataFrame = {
    // the fold's accumulator carries (md5, n, bin) directly so the
    // explode below needs no re-join
    val packed = Corpus.greedyPackFold(col("_g_ws"), capacity,
      "md5", "string", w => md5(w.getField("txt")))
    val kept = keepCols.map(col)
    docs
      .withColumn("_g_ws", Corpus.tokenWindows(col(text), chunkTokens, overlapTokens))
      .select((col(id) +: kept) :+ posexplode(packed): _*)
      .select(
        (col(id) +: kept) ++ Seq(
          col("pos").as("chunk_no"),
          col("col.n").as("chunk_tokens"),
          col("col.md5").as("chunk_md5"),
          col("col.bin").as("bin")): _*)
  }

  final case class Sharded(shard: Long, key: Long, seq: Long)

  /** Continuous export sharding at ingest — the streaming face of
    * [[graft.operators.Corpus.shuffleShards]] (and seed-0
    * [[graft.operators.Corpus.exportShards]]' hash layout): each arriving
    * row gets its deterministic shard (portable hash of (seed, key)) and
    * a dense per-shard `seq` from a ledger that CONTINUES across
    * micro-batches — the WireLog offset-ledger pattern applied to corpus
    * export. Already-emitted (shard, seq) assignments never renumber when
    * later data arrives, which is what lets a training job consume shards
    * while ingest is still appending (append-stable resume).
    *
    * Within a micro-batch rows order by (hash, key) — exactly
    * shuffleShards' within-shard order, so ONE batch reproduces the batch
    * operator bit-for-bit (spec-pinned); across batches order is arrival
    * order, as for any log (a global (hash, key) order over not-yet-seen
    * rows is unknowable at append time — run the batch shuffle for a
    * frozen corpus when the full permutation matters).
    *
    * State per shard is ONE long (the next seq); the in-batch sort is
    * bounded by one SHARD's slice of one micro-batch — 1/numShards of
    * the batch per task, parallel across shards, which is why this twin
    * keeps the `flatMapGroupsWithState` shape the one-group ledgers
    * below had to abandon. (Export shard counts are large by
    * construction — a training job reads hundreds to thousands of
    * shards — so a shard slice stays task-sized; if a deployment ran
    * few shards against huge micro-batches, the foreachBatch ledger
    * family below is the shape to copy.)
    */
  def exportShardsAtIngest(rows: DataFrame, key: String, seed: Long,
      numShards: Int): Dataset[Sharded] = {
    require(numShards > 0, s"need numShards > 0, got $numShards")
    val spark = rows.sparkSession
    import spark.implicits._
    val h = graft.operators.Dedup.portableHash64(
      concat(lit(seed.toString), lit(":"), col(key).cast("string")))
    rows
      .select(col(key).cast("long").as("_k"), h.as("_h"),
        pmod(h, lit(numShards.toLong)).as("_sh"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Long, Sharded](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (shard, it, state) =>
          var next = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[Sharded]
          it.toSeq.sortBy(r => (r._2, r._1)).foreach { case (k, _, _) =>
            next += 1
            out += Sharded(shard, k, next)
          }
          state.update(next)
          out.result().iterator
      }
  }

  // ------------------------------------------------------------------
  // Ledgered at-ingest twins: foreachBatch harnesses, distributed
  // per-batch work, one ledger row per batch
  // ------------------------------------------------------------------

  /** In-context packing at ingest — the streaming twin of
    * [[graft.operators.Corpus.icpAttach]]: arriving documents append to
    * the STANDING in-context order (built once by
    * [[graft.operators.Corpus.icpOrder]] over the frozen pair-graph
    * artifact — [[graft.state.Artifacts.savePairGraph]] — and persisted
    * with the corpus release). The streamed frame is the arriving docs
    * LEFT-joined to their match candidates against the standing corpus
    * ((doc_id, old_id?, score?) — at least one row per doc).
    *
    * Scale shape: each micro-batch runs the BATCH operator —
    * candidate argmax, dense numbering via the
    * [[graft.operators.SuffixArray]] range exchange, all distributed —
    * with its position base read from the ledger; only that one long
    * crosses the log's single-writer tail per batch. A 100× larger
    * micro-batch spreads 100×/tasks more rows per task instead of
    * landing whole in one task's heap.
    *
    * Artifact layout under `stateDir`, idempotent per batch id (pre-state
    * = latest ledger version BELOW the id, so a replayed batch re-derives
    * the same bytes — the [[StreamingGraph]] exactly-once discipline):
    *   - `slots/batch=N` — (doc_id, anchor, icp_pos) appended by batch N
    *   - `ledger/v=N` — the next-position base AFTER batch N
    *
    * Usage:
    * {{{
    * cands.writeStream.foreachBatch(
    *     StreamingCorpus.icpAttachAtIngest(stateDir, order, basePos))
    *   .option("checkpointLocation", dir).start()
    * }}}
    *
    * Within a micro-batch docs order by (anchor's standing position,
    * doc_id) — the batch operator's own order — so ONE batch reproduces
    * [[Corpus.icpAttach]] bit-for-bit and K batches equal K sequential
    * batch applications (spec-pinned); across batches order is arrival
    * order, as for any log. Issued positions never renumber.
    *
    * `compactEvery` (0 = off) runs [[graft.state.Artifacts.maybeCompact]]
    * after every K-th batch — slice-log fold + ledger prune as ingest
    * policy, so a long-running stream never degrades into the
    * small-files listing regime the compaction probe measures.
    */
  def icpAttachAtIngest(stateDir: String, standingOrder: DataFrame,
      basePos: Long, compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (cands, batchId) => {
      ingestIcpBatch(cands, standingOrder, stateDir, batchId, basePos)
      Artifacts.maybeCompact(cands.sparkSession, batchId, compactEvery,
        sliceDirs = Seq(s"$stateDir/slots" -> IcpSlotsDdl),
        versionDirs = Seq(s"$stateDir/ledger"))
      ()
    }

  private val IcpSlotsDdl =
    "doc_id BIGINT, anchor BIGINT, icp_pos BIGINT, batch BIGINT"

  /** One micro-batch of in-context attach, idempotent in `batchId`.
    * Returns the slots this batch appended.
    */
  def ingestIcpBatch(cands: DataFrame, standingOrder: DataFrame,
      stateDir: String, batchId: Long, basePos: Long): DataFrame = {
    val spark = cands.sparkSession
    val base = Artifacts.readLedger(spark, s"$stateDir/ledger",
      below = Some(batchId)).getOrElse(basePos)
    // icpAttach emits exactly one row per arriving doc, so the ledger
    // advances by the batch's slot count — observed IN the write job
    // (one aggregate riding the plan that writes), never a second job
    // that re-reads the written artifact just to count it
    val obs = org.apache.spark.sql.Observation()
    Corpus.icpAttach(cands, standingOrder, base)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$stateDir/slots/batch=$batchId")
    Artifacts.writeLedger(spark, s"$stateDir/ledger", batchId,
      base + obs.get("n").asInstanceOf[Long])
    spark.read.parquet(s"$stateDir/slots/batch=$batchId")
      .select("doc_id", "anchor", "icp_pos")
  }

  /** Every slot appended so far: (doc_id, anchor, icp_pos, batch). */
  def standingIcpSlots(spark: SparkSession, stateDir: String): DataFrame =
    standingSlices(spark, s"$stateDir/slots", IcpSlotsDdl)

  /** Concat-and-split packing at ingest — the streaming twin of
    * [[graft.operators.Corpus.packByOrder]]'s append hook: arriving
    * documents EXTEND the standing token stream (packed offline to total
    * `baseOffset`) and keep cutting training sequences at absolute
    * `seqLen` boundaries, so a training job can consume sequences while
    * ingest appends (issued offsets never renumber). The streamed frame
    * carries (doc_id, pos, n_tok); `pos` must be unique within a batch
    * (the batch operator's own contract).
    *
    * Scale shape: each micro-batch runs [[Corpus.packByOrder]] — the
    * distributed prefix sum: range exchange, per-partition windows,
    * ≤ buckets collected bases — at `baseOffset` = the ledger; only the
    * running token total crosses the tail, one row per batch. The
    * ledger advance is the batch's token sum, summed distributed from
    * the written slice.
    *
    * Artifact layout under `stateDir` (idempotent per batch id):
    *   - `slots/batch=N` — (doc_id, pos, n_tok, global_start, first_seq,
    *     last_seq) for batch N's docs
    *   - `ledger/v=N` — the running token total AFTER batch N
    *
    * Within a micro-batch docs order by `pos`, so ONE batch reproduces
    * `packByOrder(batch, pos, n_tok, seqLen, baseOffset = ledger)`
    * bit-for-bit and K batches equal K sequential batch applications
    * (spec-pinned); across batches order is arrival order. Token counts
    * must be non-negative (zero-token docs land at their offset with a
    * zero span; negatives fail loudly inside the batch operator).
    */
  def packAppendAtIngest(stateDir: String, seqLen: Int,
      baseOffset: Long, compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (rows, batchId) => {
      ingestPackBatch(rows, stateDir, batchId, seqLen, baseOffset)
      Artifacts.maybeCompact(rows.sparkSession, batchId, compactEvery,
        sliceDirs = Seq(s"$stateDir/slots" -> PackSlotsDdl),
        versionDirs = Seq(s"$stateDir/ledger"))
      ()
    }

  private val PackSlotsDdl =
    "doc_id BIGINT, pos BIGINT, n_tok BIGINT, global_start BIGINT, " +
      "first_seq BIGINT, last_seq BIGINT, batch BIGINT"

  /** One micro-batch of pack append, idempotent in `batchId`. Returns
    * the slots this batch appended.
    */
  def ingestPackBatch(rows: DataFrame, stateDir: String, batchId: Long,
      seqLen: Int, baseOffset: Long): DataFrame = {
    require(seqLen > 0, s"need seqLen > 0, got $seqLen")
    val spark = rows.sparkSession
    val base = Artifacts.readLedger(spark, s"$stateDir/ledger",
      below = Some(batchId)).getOrElse(baseOffset)
    // the ledger advance is the batch's token sum — observed IN the
    // write job (one aggregate riding the plan that writes), not a
    // second full job over the re-read slice
    val obs = org.apache.spark.sql.Observation()
    Corpus.packByOrder(
        rows.select(col("doc_id").cast("long"), col("pos").cast("long"),
          col("n_tok").cast("long")),
        col("pos"), col("n_tok"), seqLen, baseOffset = base)
      .observe(obs, coalesce(sum(col("n_tok")), lit(0L)).as("t"))
      .write.mode("overwrite").parquet(s"$stateDir/slots/batch=$batchId")
    Artifacts.writeLedger(spark, s"$stateDir/ledger", batchId,
      base + obs.get("t").asInstanceOf[Long])
    spark.read.parquet(s"$stateDir/slots/batch=$batchId")
  }

  /** Every pack slot appended so far: (doc_id, pos, n_tok, global_start,
    * first_seq, last_seq, batch).
    */
  def standingPackSlots(spark: SparkSession, stateDir: String): DataFrame =
    standingSlices(spark, s"$stateDir/slots", PackSlotsDdl)

  /** Per-stratum admission quota at ingest — the streaming face of
    * [[graft.operators.Corpus.capPerStratum]]: admit rows first-come
    * until each stratum's `quota` is filled, then drop. (Best-N-by-score
    * is inherently retractive — a better late row would have to EVICT an
    * already-emitted one, which append semantics cannot do — so the
    * ingest-time contract is a quota, exactly how a crawl frontier or
    * per-domain rate cap behaves; run the batch cap over the admitted
    * corpus when best-N matters.)
    *
    * Scale shape: a TWO-PHASE rank-then-filter per micro-batch. Phase
    * one is [[graft.operators.Corpus.capPerStratum]]'s bounded
    * `topk_agg` — a partial-merging aggregate, so a SKEWED stratum (one
    * domain = most of the batch) collapses map-side and at most `quota`
    * rows per stratum survive; a plain per-stratum window here would
    * re-create the single-task funnel this file's ledgers abandoned,
    * just keyed by the hot stratum instead of a constant. Phase two
    * ranks the ≤ quota survivors exactly (`row_number` by (`seq`,
    * `key`) — the explicit sort keys that make admission deterministic
    * and retry-stable; the top-quota set is an order prefix, so
    * survivor rank ≡ full-slice rank), joins the standing per-stratum
    * counts, and admits where count + rank ≤ quota. The standing state
    * is a distributed (stratum, admitted) frame versioned per batch,
    * not a driver object. `key` must be unique within a micro-batch
    * (it is the record id — capPerStratum's semi-join contract).
    *
    * Artifact layout under `stateDir` (idempotent per batch id):
    *   - `admitted/batch=N` — (stratum, key, seq) admitted by batch N
    *   - `counts/v=N` — per-stratum admitted totals AFTER batch N
    */
  def admitQuotaAtIngest(stateDir: String, stratum: String, key: String,
      seq: String, quota: Int, compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (rows, batchId) => {
      ingestQuotaBatch(rows, stateDir, batchId, stratum, key, seq, quota)
      Artifacts.maybeCompact(rows.sparkSession, batchId, compactEvery,
        sliceDirs = Seq(s"$stateDir/admitted" -> AdmittedDdl),
        versionDirs = Seq(s"$stateDir/counts"))
      ()
    }

  private val AdmittedDdl = "stratum STRING, key BIGINT, seq BIGINT, batch BIGINT"

  /** One micro-batch of quota admission, idempotent in `batchId`.
    * Returns the rows this batch admitted.
    */
  def ingestQuotaBatch(rows: DataFrame, stateDir: String, batchId: Long,
      stratum: String, key: String, seq: String, quota: Int): DataFrame = {
    require(quota > 0, s"need quota > 0, got $quota")
    val spark = rows.sparkSession
    val pre = standingQuotaCounts(spark, stateDir, below = Some(batchId))
    val batch = rows
      .select(col(stratum).cast("string").as("stratum"),
        col(key).cast("long").as("key"), col(seq).cast("long").as("seq"))
    // phase one: bounded skew-safe top-quota per stratum (rows beyond
    // the quota prefix can never admit at ANY prior count)
    Corpus.capPerStratum(batch, Seq("stratum"),
        struct(col("seq"), col("key")), "key", quota)
      .withColumn("_aqR", row_number().over(
        Window.partitionBy(col("stratum")).orderBy(col("seq"), col("key"))))
      .join(pre, Seq("stratum"), "left")
      .filter(coalesce(col("admitted"), lit(0L)) + col("_aqR") <= quota)
      .select("stratum", "key", "seq")
      .write.mode("overwrite").parquet(s"$stateDir/admitted/batch=$batchId")
    val slice = spark.read.parquet(s"$stateDir/admitted/batch=$batchId")
    pre.unionByName(
        slice.groupBy("stratum").agg(count(lit(1)).as("admitted")))
      .groupBy("stratum").agg(sum("admitted").as("admitted"))
      .write.mode("overwrite").parquet(s"$stateDir/counts/v=$batchId")
    slice
  }

  /** The standing per-stratum admitted totals — the latest `counts/v=N`
    * below the bound (exclusive; None reads the newest complete one), or
    * an empty (stratum, admitted) frame before the first batch.
    */
  def standingQuotaCounts(spark: SparkSession, stateDir: String,
      below: Option[Long] = None): DataFrame =
    Artifacts.readVersion(spark, s"$stateDir/counts",
      "stratum STRING, admitted BIGINT", below)

  /** Every admitted row so far: (stratum, key, seq, batch). */
  def standingAdmitted(spark: SparkSession, stateDir: String): DataFrame =
    standingSlices(spark, s"$stateDir/admitted", AdmittedDdl)

  /** Union of every standing `batch=N` slice under `dir` (the batch id
    * rides as a long column); an empty frame with the given schema
    * before the first batch. Compaction-aware — long-running ingest
    * folds old slices with [[graft.state.Artifacts.compactSlices]] and
    * this reader keeps returning the identical standing rows.
    *
    * Reads COMMITTED slices only (`_SUCCESS` present): these are the
    * consumer-facing standing views, and a read concurrent with an
    * in-flight micro-batch must not open the torn slice's partial
    * files. The harnesses' own in-batch reads are unaffected — they
    * run after their slice write committed.
    */
  private def standingSlices(spark: SparkSession, dir: String,
      ddl: String): DataFrame =
    Artifacts.readSlices(spark, dir, ddl, completedOnly = true)
}
