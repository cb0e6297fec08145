package graft.ext

import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, ScalaUDF}
import org.apache.spark.sql.functions.{udaf, udf}

/** The §2.M functions: nine catalyst expressions, the `graft_geomean`
  * typed UDAF and the `graft_norm_text` scalar UDF (M1, for config
  * `derive` exprs). With the as-of join strategy and rules they form
  * [[GraftSparkExtensions]], the one table graft installs into a session.
  * Two installers: `core.Session.local` sets it as `spark.sql.extensions`
  * at build time, and `core.Session.ensure` adds it to a session built
  * elsewhere.
  */
object GraftFunctions {

  private def ngramsBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(arr, Literal(n: Int, _)) => NGramsGen(arr, n)
    case Seq(arr) => NGramsGen(arr, 2)
    case _ => throw new IllegalArgumentException(
      "graft_ngrams(array<string>, <int literal n>)")
  }

  private def minhashBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(arr, Literal(n: Int, _)) => MinHashSig(arr, n)
    case Seq(arr) => MinHashSig(arr, 12)
    case _ => throw new IllegalArgumentException(
      "graft_minhash_sig(array<string>, <int literal numHashes>)")
  }

  private def srpBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(v, Literal(n: Int, _)) => SrpSig(v, n)
    case Seq(v) => SrpSig(v, 8)
    case _ => throw new IllegalArgumentException(
      "graft_srp_sig(array<double>, <int literal numBits>)")
  }

  private def bottomKBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(c, Literal(k: Int, _)) => BottomKSketch(c, k).toAggregateExpression()
    case Seq(c) => BottomKSketch(c, 64).toAggregateExpression()
    case _ => throw new IllegalArgumentException(
      "graft_bottomk(col, <int literal k>)")
  }

  // M2 and M1: the ScalaAggregator / ScalaUDF a by-name UDF registration builds
  private val geoMean = udaf(GeoMean).withName("graft_geomean")
  private val normText = udf((s: String) =>
    if (s == null) null else s.replaceAll(" +", " ").trim.toLowerCase)
    .withName("graft_norm_text")

  private def fn(name: String, cls: Class[_])(builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_cosine", classOf[CosineSimilarity])(args => CosineSimilarity(args(0), args(1))),
    fn("graft_ngrams", classOf[NGramsGen])(ngramsBuilder),
    fn("graft_bottomk", classOf[BottomKSketch])(bottomKBuilder),
    fn("graft_minhash_sig", classOf[MinHashSig])(minhashBuilder),
    fn("graft_srp_sig", classOf[SrpSig])(srpBuilder),
    fn("graft_simhash", classOf[SimHashSig])(args => SimHashSig(args.head)),
    fn("graft_rolling_hash", classOf[RollingHash])(args => RollingHash(args.head)),
    fn("graft_bpeish_count", classOf[BpeishTokenCount])(args => BpeishTokenCount(args.head)),
    fn("graft_sorted_intersect_size", classOf[SortedIntersectSize])(
      args => SortedIntersectSize(args(0), args(1))),
    fn("graft_geomean", GeoMean.getClass)(GraftSqlBridge.udfCall(geoMean, _)),
    fn("graft_norm_text", classOf[ScalaUDF])(GraftSqlBridge.udfCall(normText, _)))
}

/** [[GraftFunctions]] plus the whole-operator as-of join (§2.M tier (c)):
  * its planner strategy and its optimizer rules. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinRules)
  }
}
