package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.CosineSimilarity
import graft.operators.Similarity

/** Streaming similarity search at ingest: each vector arriving on the
  * stream is matched against the accumulated corpus — "have we already
  * embedded something like this?" answered record-by-record rather than
  * by a batch job.
  *
  * Topology mirrors [[StreamingDedup]]: native `rhp_buckets` signature per
  * row (narrow) → explode (table, bucket) keys →
  * [[StreamingState.bucketJoin]] keyed by bucket, state = vectors seen in
  * that bucket; an arriving vector emits a match per stored vector whose
  * exact cosine clears the threshold. State scales with bucket occupancy
  * (vectors hashing alike), not corpus size; a pair sharing several
  * buckets can emit more than once — dedup downstream. A re-delivered
  * vector id is absorbed (the bucket keeps its first copy), so a replayed
  * record neither re-emits its matches nor grows its buckets.
  */
object StreamingSimilarity {

  final case class Match(a_id: Long, b_id: Long, cosine: Double)

  def matchesAtIngest(
      vectors: DataFrame, id: String, emb: String,
      minCosine: Double, tables: Int = 8, bits: Int = 4, dim: Int = 64): Dataset[Match] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val keyed = vectors
      .select(col(id).cast("long").as("vid"), col(emb).as("v"))
      .withColumn("bk", explode(Similarity.lshKeys(col("v"), tables, bits, dim)))
      .select(col("bk.tbl"), col("bk.bucket"), col("vid"), col("v"))
      .as[(Int, Int, Long, Array[Float])]
      .map { case (tbl, bucket, vid, v) => ((tbl, bucket), (vid, v)) }
    StreamingState.bucketJoin(keyed)(_._1) { case ((vid, v), (pid, pv)) =>
      val cos = CosineSimilarity.cosine(pv.length, pv(_), v.length, v(_))
      Option.when(cos >= minCosine)(Match(math.min(pid, vid), math.max(pid, vid), cos))
    }
  }

  final case class Admission(vec_id: Long, cell: Int, kept: Boolean)

  /** Online SemDeDup at ingest — the streaming twin of
    * [[Similarity.semDedup]]: each arriving vector is assigned to its
    * centroid cell (narrow stream–static broadcast, same
    * `assignToCentroids` fold as the batch op) and admitted iff no
    * ALREADY-ADMITTED vector in that cell has cosine ≥ `minCosine`.
    * Batch keeps each duplicate group's min id; the stream keeps its
    * FIRST ARRIVAL — the only causal choice online, and identical when
    * ids arrive in order.
    *
    * State per cell = admitted vectors only (rejected duplicates are
    * dropped, so state grows with the cell's DISTINCT content, not the
    * stream). Cells are the shuffle key; skew = an over-hot centroid,
    * fixed by re-training k upward, exactly as in batch.
    *
    * Within one micro-batch the group iterator's order is NOT a Spark
    * guarantee, so rows are folded in ascending id order — decisions are
    * deterministic across retries/partitionings, and a batch whose ids
    * arrive together resolves exactly like the batch op (min id wins).
    */
  def semDedupAtIngest(
      vectors: DataFrame, id: String, emb: String,
      centroids: DataFrame, minCosine: Double): Dataset[Admission] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    Similarity.assignToCentroids(
        vectors.select(col(id).cast("long").as("vid"), col(emb).as("v")), "v", centroids)
      .select(col("cell"), col("vid"), col("v"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Array[Float])], Admission](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (cell, rows, state) =>
          var admitted = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[Admission]
          rows.toSeq.sortBy(_._2).foreach { case (_, vid, v) =>
            val dup = admitted.exists { case (_, pv) =>
              CosineSimilarity.cosine(pv.length, pv(_), v.length, v(_)) >= minCosine
            }
            if (!dup) admitted = (vid, v) :: admitted
            out += Admission(vid, cell, !dup)
          }
          state.update(admitted)
          out.result().iterator
      }
  }
}
