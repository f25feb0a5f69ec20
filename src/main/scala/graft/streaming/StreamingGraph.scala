package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.plans.Materialize
import graft.state.Artifacts

/** Incremental link-graph analytics at ingest — the streaming deployment
  * of [[graft.operators.Graph]]: crawl edges arrive on a stream, the
  * standing PageRank artifact refreshes per micro-batch instead of by a
  * nightly batch job.
  *
  * Pattern: a `foreachBatch` sink (the engine's established
  * artifact-maintenance shape, cf. [[StreamingCorpus.exportShardsAtIngest]]'s
  * ledger) keeps two artifacts under `stateDir`, laid out by
  * [[graft.state.Artifacts]]:
  *
  *   - `edges` — the append-only edge slice log, one idempotent
  *     overwrite per micro-batch id (a replayed batch rewrites its own
  *     slice, never duplicates it);
  *   - `ranks` — the standing rank frame, versioned by batch id; a
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

  private val EdgesDdl = "src BIGINT, dst BIGINT, batch BIGINT"
  private val PairsDdl = "a_id BIGINT, b_id BIGINT, batch BIGINT"

  /** The `foreachBatch` sink: ingest the batch's edges and refresh the
    * standing ranks, idempotent in the batch id (replay-safe). Usage:
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
      val spark = batch.sparkSession
      Artifacts.writeSlice(
        batch.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst")),
        s"$stateDir/edges", batchId)
      // compaction-aware: the read returns the identical standing edge
      // set whether or not old slices were folded into a base.
      // completedOnly: this batch's slice just committed above, and a
      // sibling torn slice (crashed writer) must not leak partial edges
      val allEdges = Artifacts.readSlices(spark, s"$stateDir/edges", EdgesDdl,
          completedOnly = true)
        .select("src", "dst")
      val pre = standingRanks(spark, stateDir, below = Some(batchId))
      // pageRankRounds returns a materialized frame (Materialize), so
      // writing over a superseded version directory never races the read
      Artifacts.writeVersion(
        Graph.pageRankRounds(allEdges, pre, roundsPerBatch, scale, dampNum, dampDen),
        s"$stateDir/ranks", batchId)
      Artifacts.maybeCompact(spark, batchId, compactEvery,
        s"$stateDir/edges", EdgesDdl, s"$stateDir/ranks")
    }

  /** Dedup-family maintenance at ingest: near-dup PAIRS arrive per
    * micro-batch (from [[StreamingDedup.nearDupCandidates]],
    * [[StreamingDedup.fuzzyMatchAtIngest]], or a batch
    * `nearDupPairsAgainst` over the day's documents) and the standing
    * (node, canonical) family labeling refreshes via
    * [[graft.operators.Dedup.resolveComponentsIncremental]] — star
    * contraction over {standing star edges ∪ new pairs}, so the
    * historical pair graph is NEVER re-read and convergence tracks only
    * the new edges' chain depth. The streamed frame must carry
    * long-castable `a_id`, `b_id`. Artifact layout and replay-idempotence
    * (a `pairs` slice log, `components` versions, pre-state = latest
    * version below the batch id) are exactly [[pageRankAtIngest]]'s.
    */
  def componentsAtIngest(stateDir: String,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      Artifacts.writeSlice(
        batch.select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id")),
        s"$stateDir/pairs", batchId)
      val pre = standingComponents(spark, stateDir, below = Some(batchId))
      Artifacts.writeVersion(
        graft.operators.Dedup.resolveComponentsIncremental(pre,
            Artifacts.readSlice(spark, s"$stateDir/pairs", batchId), "a_id", "b_id")
          .transform(Materialize(_)),
        s"$stateDir/components", batchId)
      Artifacts.maybeCompact(spark, batchId, compactEvery,
        s"$stateDir/pairs", PairsDdl, s"$stateDir/components")
    }

  /** The standing (node, canonical) labeling — versioned like
    * [[standingRanks]]; empty two-column frame before the first refresh.
    */
  def standingComponents(spark: SparkSession, stateDir: String,
      below: Option[Long] = None): DataFrame =
    Artifacts.readVersion(spark, s"$stateDir/components",
      "node BIGINT, canonical BIGINT", below)

  /** The standing rank artifact: the latest `ranks` version with id
    * below the given bound (exclusive), or an empty (node, pr_rank) frame
    * before the first refresh. `below = None` reads the newest COMPLETE
    * version — the consumer-side call ("current ranks, please").
    */
  def standingRanks(spark: SparkSession, stateDir: String,
      below: Option[Long] = None): DataFrame =
    Artifacts.readVersion(spark, s"$stateDir/ranks",
      "node BIGINT, pr_rank BIGINT", below)

}
