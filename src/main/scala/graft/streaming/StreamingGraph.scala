package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.plans.Materialize

/** Incremental link-graph analytics at ingest — the streaming deployment
  * of [[graft.operators.Graph]]: crawl edges arrive on a stream, the
  * standing PageRank artifact refreshes per micro-batch instead of by a
  * nightly batch job.
  *
  * Pattern: a `foreachBatch` harness (the engine's established
  * artifact-maintenance shape, cf. [[StreamingCorpus.exportShardsAtIngest]]'s
  * ledger) keeps two artifacts under `stateDir`:
  *
  *   - `edges/batch=N/` — the append-only edge log, one idempotent
  *     overwrite per micro-batch id (a replayed batch rewrites its own
  *     slice, never duplicates it);
  *   - `ranks/v=N/` — the standing rank frame, versioned by batch id; a
  *     refresh reads the latest version BELOW the current batch id, so a
  *     replayed batch re-derives from the same pre-state (exactly-once
  *     without a transactional store).
  *
  * Each refresh runs `roundsPerBatch` warm-start rounds
  * ([[Graph.pageRankRounds]]) of the exact integer recurrence over the
  * merged edge log: new nodes enter at the batch initialization, standing
  * nodes continue from their ranks. On a frozen edge set refresh rounds
  * COMPOSE with the batch recurrence (k rounds then k' rounds ==
  * k+k' rounds — spec-pinned exact equality), so the stream converges to
  * [[Graph.pageRankExact]]'s answer round-for-round rather than
  * approximating it.
  *
  * Scale note: per batch the edge log is re-read from parquet and
  * re-joined with out-degrees — out-degrees change as edges arrive, so
  * the degree agg is inherent; the scan is columnar and the shuffles are
  * the batch operator's own (node-sized per round). Artifact listing uses
  * a directory listing only (never data-sized driver work).
  */
object StreamingGraph {

  /** The `foreachBatch` sink: ingest the batch's edges and refresh the
    * standing ranks. Usage:
    * {{{
    * edges.writeStream.foreachBatch(
    *   StreamingGraph.pageRankAtIngest(stateDir, roundsPerBatch = 2)).start()
    * }}}
    * `compactEvery` (0 = off) folds the edge log and prunes superseded
    * rank versions every K batches ([[graft.state.Artifacts.maybeCompact]]) —
    * a long-running crawl otherwise accretes one directory per
    * micro-batch and the per-refresh edge read degrades into the
    * small-files listing regime.
    */
  def pageRankAtIngest(stateDir: String, roundsPerBatch: Int,
      scale: Long = 1000000000L, dampNum: Long = 17L,
      dampDen: Long = 20L, compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      ingestBatch(batch, stateDir, batchId, roundsPerBatch,
        scale, dampNum, dampDen)
      graft.state.Artifacts.maybeCompact(batch.sparkSession, batchId,
        compactEvery,
        sliceDirs = Seq(s"$stateDir/edges" -> "src BIGINT, dst BIGINT, batch BIGINT"),
        versionDirs = Seq(s"$stateDir/ranks"))
      ()
    }

  /** One micro-batch's work, idempotent in `batchId` (replay-safe): edge
    * slice overwritten at `edges/batch=N`, ranks re-derived from the
    * latest version below N and written at `ranks/v=N`. Returns the new
    * standing ranks.
    */
  def ingestBatch(newEdges: DataFrame, stateDir: String, batchId: Long,
      rounds: Int, scale: Long = 1000000000L, dampNum: Long = 17L,
      dampDen: Long = 20L): DataFrame = {
    val spark = newEdges.sparkSession
    newEdges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .write.mode("overwrite").parquet(s"$stateDir/edges/batch=$batchId")
    // compaction-aware: a long-running crawl folds old edge slices with
    // Artifacts.compactSlices(spark, s"$stateDir/edges", upTo, ...) and
    // this read keeps returning the identical standing edge set.
    // completedOnly: this batch's slice just committed above, and a
    // sibling torn slice (crashed writer) must not leak partial edges
    val allEdges = graft.state.Artifacts.readSlices(spark,
        s"$stateDir/edges", "src BIGINT, dst BIGINT, batch BIGINT",
        completedOnly = true)
      .select("src", "dst")
    val pre = standingRanks(spark, stateDir, below = Some(batchId))
    val next = Graph.pageRankRounds(allEdges, pre, rounds,
      scale, dampNum, dampDen)
    // pageRankRounds returns a materialized frame (Materialize), so
    // writing over a superseded version directory never races the read
    next.write.mode("overwrite").parquet(s"$stateDir/ranks/v=$batchId")
    next
  }

  /** Dedup-family maintenance at ingest: near-dup PAIRS arrive per
    * micro-batch (from [[StreamingDedup.nearDupCandidates]],
    * [[StreamingDedup.fuzzyMatchAtIngest]], or a batch
    * `nearDupPairsAgainst` over the day's documents) and the standing
    * (node, canonical) family labeling refreshes via
    * [[graft.operators.Dedup.resolveComponentsIncremental]] — star
    * contraction over {standing star edges ∪ new pairs}, so the
    * historical pair graph is NEVER re-read and convergence tracks only
    * the new edges' chain depth. Artifact layout and replay-idempotence
    * (`pairs/batch=N` slices, `components/v=N` versions, pre-state =
    * latest version below the batch id) are exactly
    * [[pageRankAtIngest]]'s.
    */
  def componentsAtIngest(stateDir: String,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      ingestPairs(batch, stateDir, batchId)
      graft.state.Artifacts.maybeCompact(batch.sparkSession, batchId,
        compactEvery,
        sliceDirs = Seq(s"$stateDir/pairs" -> "a_id BIGINT, b_id BIGINT, batch BIGINT"),
        versionDirs = Seq(s"$stateDir/components"))
      ()
    }

  /** One micro-batch of pair ingest, idempotent in `batchId`. `newPairs`
    * must carry long-castable `a_id`, `b_id`. Returns the refreshed
    * labeling.
    */
  def ingestPairs(newPairs: DataFrame, stateDir: String,
      batchId: Long): DataFrame = {
    val spark = newPairs.sparkSession
    newPairs
      .select(col("a_id").cast("long").as("a_id"),
        col("b_id").cast("long").as("b_id"))
      .write.mode("overwrite").parquet(s"$stateDir/pairs/batch=$batchId")
    val slice = spark.read.parquet(s"$stateDir/pairs/batch=$batchId")
    val pre = standingComponents(spark, stateDir, below = Some(batchId))
    val next = graft.operators.Dedup
      .resolveComponentsIncremental(pre, slice, "a_id", "b_id")
      .transform(Materialize(_))
    next.write.mode("overwrite").parquet(s"$stateDir/components/v=$batchId")
    next
  }

  /** The standing (node, canonical) labeling — versioned like
    * [[standingRanks]]; empty two-column frame before the first refresh.
    */
  def standingComponents(spark: SparkSession, stateDir: String,
      below: Option[Long] = None): DataFrame =
    graft.state.Artifacts.readVersion(spark, s"$stateDir/components",
      "node BIGINT, canonical BIGINT", below)

  /** The standing rank artifact: the latest `ranks/v=N` with N below the
    * given bound (exclusive), or an empty (node, pr_rank) frame before
    * the first refresh. `below = None` reads the newest COMPLETE
    * version — the consumer-side call ("current ranks, please").
    */
  def standingRanks(spark: SparkSession, stateDir: String,
      below: Option[Long] = None): DataFrame =
    graft.state.Artifacts.readVersion(spark, s"$stateDir/ranks",
      "node BIGINT, pr_rank BIGINT", below)

}
