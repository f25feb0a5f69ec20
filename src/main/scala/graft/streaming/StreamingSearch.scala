package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.plans.Materialize

/** Cosine similarity at ingest — the streaming twin of
  * [[graft.operators.Search.cosinePairsAgainst]]: each document arriving
  * on the stream is scored against a FROZEN corpus inventory ("is this
  * arriving doc a paraphrase of something we already hold?"), the same
  * door-check role [[StreamingDedup.fuzzyMatchAtIngest]] plays for
  * entity keys.
  *
  * The artifact ([[CosineInventory]], trained in batch from a corpus
  * release) carries per kept gram (corpus df ≤ maxDf) its quantized
  * rarity and (old_id, weight) postings, each posting annotated with its
  * document's norm²; plus the boilerplate-gram hash set (df > maxDf).
  * That makes scoring STATELESS per record — tokenize, weight under the
  * frozen statistics (corpus-unseen grams take the max rarity and
  * dilute), accumulate per-old dots, decide the exact cross-multiplied
  * integer predicate in BigInt — so matches are deterministic under any
  * arrival order, batching, or retry, and equal the batch operator
  * record-for-record (spec-pinned).
  *
  * Scale note: the artifact is (vocab × maxDf + matched-corpus) sized —
  * the door-check service's working set, same dispensation as the frozen
  * gram-rarity table. Re-scoring a 100 TB backlog is the batch
  * operator's job against the persisted inventory table, not this path.
  */
object StreamingSearch {

  final case class CosineMatch(new_id: Long, old_id: Long)

  /** (old_id, weight, norm²-of-old-doc) posting. */
  final case class Posting(oldId: Long, w: Long, norm2: BigInt)

  final case class CosineInventory(
      n: Long, shingleN: Int, maxDf: Int,
      grams: Map[Long, (Long, Seq[Posting])], // gramHash -> (rarity, postings)
      dropped: Set[Long]) { // boilerplate grams: df > maxDf, excluded both sides
    /** Rarity of a corpus-unseen gram: df treated as 1. */
    val maxIr: Long = 64L - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))
  }

  /** Train the frozen artifact from a corpus release — identical
    * statistics to the batch operator's inventory (exact df, quantized
    * rarity `1+floor(log2(N div df))`, per-doc norms over kept grams).
    */
  def buildCosineInventory(corpus: DataFrame, id: String, text: String,
      shingleN: Int, maxDf: Int, ceiling: Int = 10000000): CosineInventory = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = corpus.count()
    val tf = corpus
      .select(col(id).cast("long").as("d"),
        explode(Dedup.shinglesMultiset(col(text), shingleN)).as("g0"))
      .select(col("d"), Dedup.portableHash64(col("g0")).as("g"))
      .groupBy("d", "g").agg(count(lit(1)).as("tf"))
    // ONE distributed gram-keyed agg — the batch inventory shape of
    // [[graft.operators.Search.cosinePairsAgainst]]: exact df + the
    // complete (doc, tf) bucket, `capped_collect2` nulling the bucket
    // past maxDf. The driver therefore collects ONE postings-free row
    // per boilerplate gram and ≤ maxDf postings per kept gram — the
    // vocab + vocab×maxDf artifact working set — never the corpus-sized
    // (doc, gram, tf) frame.
    val agg = tf.groupBy("g")
      .agg(count(lit(1)).as("df"),
        call_function("capped_collect2", col("d"), col("tf"), lit(maxDf)).as("b"))
      .transform(Materialize(_))
    // ceiling-guarded collects ([[graft.state.Artifacts]] family rule):
    // the driver refuses past `ceiling` rows instead of OOMing mid-build
    val dropped = graft.state.Artifacts.boundedCollect(
        agg.filter(col("b").isNull).select(col("g")),
        ceiling, "cosine inventory dropped-gram set")
      .map(_.getLong(0)).toSet
    val kept = graft.state.Artifacts.boundedCollect(
        agg.filter(col("b").isNotNull)
          .select(col("g"), col("df"), explode(col("b")).as("e"))
          .select(col("g"), col("df"), col("e.k").as("d"), col("e.v").as("tf")),
        ceiling, "cosine inventory postings")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def ilog2len(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val norm2 = kept.groupBy(_._3).view.mapValues(_.map { case (_, df, _, t) =>
        val w = BigInt(t * ilog2len(n / df)); w * w
      }.sum).toMap
    val grams = kept.groupBy(_._1).map { case (g, rows) =>
      val ir = ilog2len(n / rows.head._2)
      g -> (ir, rows.toSeq.sortBy(_._3)
        .map { case (_, _, d, t) => Posting(d, t * ir, norm2(d)) })
    }
    CosineInventory(n, shingleN, maxDf, grams, dropped)
  }

  /** Score a stream of (id, text) documents against the frozen inventory;
    * emits one [[CosineMatch]] per (new, old) pair whose exact quantized
    * TF-IDF cosine clears `minSimNum/minSimDen`. Stateless — plain
    * flatMap, no state store; works identically on batch frames.
    */
  def cosineMatchAtIngest(docs: DataFrame, id: String, text: String,
      inv: CosineInventory, minSimNum: Int,
      minSimDen: Int): Dataset[CosineMatch] = {
    require(minSimNum >= 1 && minSimDen >= minSimNum,
      s"need 0 < minSimNum/minSimDen <= 1, got $minSimNum/$minSimDen")
    val spark = docs.sparkSession
    import spark.implicits._
    val shingleN = inv.shingleN
    val num2 = BigInt(minSimNum.toLong * minSimNum)
    val den2 = BigInt(minSimDen.toLong * minSimDen)
    docs.select(col(id).cast("long").as("d"), col(text).cast("string").as("t"))
      .as[(Long, String)]
      .flatMap { case (newId, t) =>
        val toks = t.toLowerCase.split("\\s+").toSeq
        val gs = if (toks.size < shingleN) Seq(toks.mkString(" "))
          else toks.sliding(shingleN).map(_.mkString(" ")).toSeq
        val tf = gs.groupBy(hash64).view.mapValues(_.size.toLong)
          .filter(e => !inv.dropped(e._1)).toMap
        val w = tf.map { case (g, c) =>
          g -> c * inv.grams.get(g).map(_._1).getOrElse(inv.maxIr)
        }
        val normNew2 = w.values.map(x => BigInt(x) * x).sum
        val dots = collection.mutable.Map.empty[Long, (BigInt, BigInt)]
        w.foreach { case (g, wn) =>
          inv.grams.get(g).foreach { case (_, posts) =>
            posts.foreach { p =>
              val (d0, _) = dots.getOrElse(p.oldId, (BigInt(0), p.norm2))
              dots(p.oldId) = (d0 + BigInt(wn) * p.w, p.norm2)
            }
          }
        }
        dots.toSeq.collect {
          case (oldId, (dot, normOld2))
              if dot > 0 && den2 * dot * dot >= num2 * normNew2 * normOld2 =>
            CosineMatch(newId, oldId)
        }.sortBy(m => (m.new_id, m.old_id))
      }
  }

  /** JVM-side twin of [[Dedup.portableHash64]] (md5 first 15 hex chars,
    * base 16) — state/artifact lookups run off-plan.
    */
  private def hash64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** ∞-gram continuation deltas at ingest — the streaming twin of
    * [[graft.operators.SuffixArray.ngramContinuations]] for a FIXED
    * watched pattern set (the served n-gram queries): each arriving
    * document emits one (pattern, next_tok) row per occurrence of a
    * watched n-gram (doc-end continues `</s>`), and a standing streaming
    * count over those rows equals the batch tally over the union of all
    * batches — the emission is a stateless narrow map per record, so
    * counts are invariant to arrival order, batching, and retry
    * (spec-pinned stream≡batch). The batch operator's SA index answers
    * ARBITRARY patterns over a frozen corpus; this path keeps a bounded
    * watched set's continuation distribution live as data lands.
    */
  def continuationDeltasAtIngest(docs: DataFrame, id: String, text: String,
      patterns: Set[String], n: Int): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val spark = docs.sparkSession
    import spark.implicits._
    val pats = patterns // bounded watched set, serialized with the closure
    docs.select(col(id).cast("long"), lower(col(text)))
      .as[(Long, String)]
      .flatMap { case (_, t) =>
        // identical tokenization to the batch path's tokens(): split on
        // \s+ WITHOUT dropping empties, windows of n, sentinel at end
        val toks = Option(t).toSeq.flatMap(_.split("\\s+").toSeq)
        (0 to toks.size - n).iterator
          .map { off =>
            val w = toks.slice(off, off + n).mkString(" ")
            val nx = if (off + n < toks.size) toks(off + n) else "</s>"
            (w, nx)
          }
          .filter(p => pats.contains(p._1))
      }
      .toDF("pattern", "next_tok")
  }
}
