package graft

import org.apache.spark.sql.{GlobalTableJoins, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomAgg, BloomContains, BloomUnionAgg, BoundedTopK, CappedCollect, CappedCollectPairs, CdcChunks, CosineSimilarity, GramMatrix, KmvAgg, LeadingZeros, MultiMatchCounts, NormalizeText, RandomHyperplaneBuckets, WinnowFingerprints}

/** Engine extension installer: `spark.sql.extensions=graft.GraftExtensions`
  * (or `builder.withExtensions`) registers the engine's native expressions
  * and the global-table join strategy ([[GlobalTableJoins]]) in every
  * session — the standard deployment route for custom Catalyst functions
  * and planner strategies.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => GlobalTableJoins)
  }
}

object GraftExtensions {

  private def intLit(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))),
    (FunctionIdentifier("rhp_buckets"),
      new ExpressionInfo(classOf[RandomHyperplaneBuckets].getName, "rhp_buckets"),
      (children: Seq[Expression]) => RandomHyperplaneBuckets(
        children.head, intLit(children(1)), intLit(children(2)), intLit(children(3)))),
    (FunctionIdentifier("topk_agg"),
      new ExpressionInfo(classOf[BoundedTopK].getName, "topk_agg"),
      (children: Seq[Expression]) => BoundedTopK(children.head, intLit(children(1)))),
    (FunctionIdentifier("gram_agg"),
      new ExpressionInfo(classOf[GramMatrix].getName, "gram_agg"),
      (children: Seq[Expression]) => GramMatrix(children.head, intLit(children(1)))),
    (FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomAgg].getName, "bloom_agg"),
      (children: Seq[Expression]) => BloomAgg(
        children.head, intLit(children(1)), intLit(children(2)))),
    (FunctionIdentifier("bloom_union_agg"),
      new ExpressionInfo(classOf[BloomUnionAgg].getName, "bloom_union_agg"),
      (children: Seq[Expression]) => BloomUnionAgg(children.head)),
    (FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
      (children: Seq[Expression]) => BloomContains(children.head, children(1))),
    (FunctionIdentifier("normalize_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      (children: Seq[Expression]) => NormalizeText(children.head)),
    (FunctionIdentifier("nlz64"),
      new ExpressionInfo(classOf[LeadingZeros].getName, "nlz64"),
      (children: Seq[Expression]) => LeadingZeros(children.head)),
    (FunctionIdentifier("kmv_agg"),
      new ExpressionInfo(classOf[KmvAgg].getName, "kmv_agg"),
      (children: Seq[Expression]) => KmvAgg(children.head, intLit(children(1)))),
    (FunctionIdentifier("capped_collect"),
      new ExpressionInfo(classOf[CappedCollect].getName, "capped_collect"),
      (children: Seq[Expression]) => CappedCollect(children.head, intLit(children(1)))),
    (FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fps"),
      (children: Seq[Expression]) => WinnowFingerprints(
        children.head, intLit(children(1)), intLit(children(2)))),
    (FunctionIdentifier("capped_collect2"),
      new ExpressionInfo(classOf[CappedCollectPairs].getName, "capped_collect2"),
      (children: Seq[Expression]) => CappedCollectPairs(
        children.head, children(1), intLit(children(2)))),
    (FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => CdcChunks(
        children.head, intLit(children(1)), intLit(children(2)))),
    (FunctionIdentifier("multi_match"),
      new ExpressionInfo(classOf[MultiMatchCounts].getName, "multi_match"),
      (children: Seq[Expression]) => MultiMatchCounts(
        children.head, children.tail.map(strLit))))

  private def strLit(e: Expression): String =
    e.eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString

  /** Idempotent in-session registration, for sessions created without the
    * extensions config (tests, the driver harness).
    */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    GlobalTableJoins.install(spark)
  }
}
