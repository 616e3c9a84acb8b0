package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.CosineSimilarity

/** Session-extension injector: registers the engine's native functions,
  * both planner strategies and the SimplifySelfCosine rule at session
  * build time, so SQL users get them without touching the Scala API.
  * [[Session.local]] builds with it; a cluster session sets it next to
  * the rest of that factory's table:
  *
  * {{{
  * spark-submit \
  *   --conf spark.sql.extensions=graft.GraftExtensions \
  *   --conf spark.sql.session.timeZone=UTC \
  *   --conf spark.sql.objectHashAggregate.sortBased.fallbackThreshold=4194304 \
  *   ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functionDescriptors.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    e.injectPlannerStrategy(_ => graft.plans.FeatureDecodeStrategy)
    e.injectOptimizerRule(_ => graft.functions.SimplifySelfCosine)
  }
}

object GraftExtensions {
  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def descriptor(name: String, clazz: Class[_],
    build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), build)

  val cosineSimDescriptor: Descriptor =
    descriptor("cosine_sim", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1)))

  /** All native kernels, SQL-callable:
    * cosine_sim(a, b), md5_prefix56(s), md5_prefix48(s),
    * minhash_sig(hashes, k), simhash_sig(hashes),
    * misra_gries(key, k) (aggregate), nfc_normalize(s),
    * bitset_agg(id, nBits) / bitset_merge_count(bm) (aggregates),
    * sparse_bitmap_agg(id) / sparse_bitmap_merge_count(bm)
    * (compressed Roaring-layout twins for sparse/huge id spaces). */
  val functionDescriptors: Seq[Descriptor] = Seq(
    cosineSimDescriptor,
    descriptor("nfc_normalize", classOf[functions.NfcNormalize],
      exprs => functions.NfcNormalize(exprs(0))),
    descriptor("dot_product", classOf[functions.DotProduct],
      exprs => functions.DotProduct(exprs(0), exprs(1))),
    descriptor("sq_dist", classOf[functions.SquaredDistance],
      exprs => functions.SquaredDistance(exprs(0), exprs(1))),
    descriptor("misra_gries", classOf[functions.MisraGriesAgg],
      exprs => functions.MisraGriesAgg(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()),
    descriptor("md5_prefix56", classOf[functions.Md5Prefix56],
      exprs => functions.Md5Prefix56(exprs(0), 7)),
    descriptor("md5_prefix48", classOf[functions.Md5Prefix56],
      exprs => functions.Md5Prefix56(exprs(0), 6)),
    descriptor("minhash_sig", classOf[functions.MinHashSig],
      exprs => functions.MinHashSig(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())),
    descriptor("simhash_sig", classOf[functions.SimHashSig],
      exprs => functions.SimHashSig(exprs(0))),
    descriptor("bitset_agg", classOf[functions.BitsetAgg],
      exprs => functions.BitsetAgg(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()),
    descriptor("bitset_merge_count", classOf[functions.BitsetMergeCountAgg],
      exprs => functions.BitsetMergeCountAgg(exprs(0))
        .toAggregateExpression()),
    descriptor("sparse_bitmap_agg", classOf[functions.SparseBitmapAgg],
      exprs => functions.SparseBitmapAgg(exprs(0))
        .toAggregateExpression()),
    descriptor("sparse_bitmap_merge_count",
      classOf[functions.SparseBitmapMergeCountAgg],
      exprs => functions.SparseBitmapMergeCountAgg(exprs(0))
        .toAggregateExpression()))
}
