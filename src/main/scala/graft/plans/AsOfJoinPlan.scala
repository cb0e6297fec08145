package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType
import graft.core.Conform

/** §2.D7 as a whole-operator Catalyst extension (SURVEY §2.M tier (c)):
  * a custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`, installed with
  * [[AsOfJoinRules]] by graft.ext.GraftSparkExtensions.
  *
  * Semantics (left as-of join): for every left row, attach the LAST right
  * row with equal keys and `rightTs <= leftTs` (inclusive — a right row at
  * the exact left timestamp counts, matching DuckDB's `ASOF LEFT JOIN ...
  * ON l.k = r.k AND r.ts <= l.ts`); left rows with no such right row keep
  * nulls on the right side.
  *
  * Why a custom operator instead of the d7 window construction: the
  * compositional form (union-tag + running last_value) carries BOTH full
  * rows through one sort, while this node shuffles each side only on its
  * own key and streams a single forward merge pass per partition — no
  * window state, no union, and the right side can be pre-filtered
  * independently. Same single-shuffle-per-side cost class as a sort-merge
  * join, which is the right 100-TB shape for fact-to-fact time alignment.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression)
  extends BinaryNode {

  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "as-of join needs at least one equi-key per side")

  // Key/timestamp pairs MUST agree in type: AsOfJoinExec builds its key
  // ordering + hash partitioning from the LEFT side's types and applies
  // them to RIGHT-side rows, so e.g. INT vs BIGINT keys would silently
  // mis-partition and mis-read bytes instead of erroring. Checked here
  // (not only in the AsOf.join wrapper) so directly-constructed plans are
  // covered too; guarded on `resolved` because `dataType` on an unresolved
  // expression throws a different, less helpful error.
  if ((leftKeys ++ rightKeys :+ leftTs :+ rightTs).forall(_.resolved)) {
    leftKeys.zip(rightKeys).zipWithIndex.foreach { case ((l, r), i) =>
      require(GraftSqlBridge.sameType(l.dataType, r.dataType),
        s"as-of join key #$i type mismatch: left ${l.sql}: ${l.dataType.catalogString} " +
          s"vs right ${r.sql}: ${r.dataType.catalogString}; cast both sides to one type")
    }
    require(GraftSqlBridge.sameType(leftTs.dataType, rightTs.dataType),
      s"as-of join timestamp type mismatch: left ${leftTs.sql}: " +
        s"${leftTs.dataType.catalogString} vs right ${rightTs.sql}: " +
        s"${rightTs.dataType.catalogString}; cast both sides to one type")
  }

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoinPlan → AsOfJoinExec. Unknown plans fall
  * through so the built-in strategies keep planning everything else. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts) :: Nil
    case _ => Nil
  }
}

/** User-facing API for the native as-of join. */
object AsOf {

  /** Left as-of join `left ⟕asof right`. Column names must be disjoint
    * across the two sides (rename the right side first); right rows with a
    * null timestamp are dropped (they can never be "the latest at-or-
    * before"), left rows with a null timestamp or a null key match nothing
    * (SQL equality: `NULL = NULL` is not true). Key/timestamp pairs whose
    * types differ are COMPARED at their tightest common type when one
    * exists (INT joins BIGINT as BIGINT — what the YAML `on` surface
    * produces when schemas drift) via shadow comparison columns dropped
    * after the join, so every output column keeps its declared type;
    * incompatible pairs fail fast with a clear message instead of
    * mis-partitioning.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTs: String,
      rightTs: String): DataFrame = {
    val spark = left.sparkSession
    graft.core.Session.ensure(spark)
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"as-of join output names must be disjoint; rename: ${overlap.mkString(",")}")
    // Compare mismatched key/ts pairs at their common type (Conform.keyType)
    // on SHADOW columns dropped post-join — an INT key stays INT in the
    // result.
    var (lCur, rCur) = (left, right)
    val shadows = scala.collection.mutable.Buffer[String]()
    def at(df: DataFrame, n: String, shadow: String, w: DataType) =
      if (GraftSqlBridge.sameType(df.schema(n).dataType, w)) (df, n)
      else { shadows += shadow; (df.withColumn(shadow, col(n).cast(w)), shadow) }
    val cmpPairs = ((leftKeys :+ leftTs) zip (rightKeys :+ rightTs))
      .zipWithIndex.map { case ((ln, rn), i) =>
        val w = Conform.keyType(s"$ln/$rn", lCur.schema(ln).dataType,
          rCur.schema(rn).dataType, "as-of join")
        val (l2, ln2) = at(lCur, ln, s"__asof_l_$i", w)
        val (r2, rn2) = at(rCur, rn, s"__asof_r_$i", w)
        lCur = l2; rCur = r2
        (ln2, rn2)
      }
    val (lNames, rNames) = cmpPairs.unzip
    // Re-alias the right side so its output gets fresh ExprIds — both
    // sides often derive from the same scan (self-as-of), and duplicate
    // ids across left/right would make the combined output ambiguous.
    val rFresh = rCur
      .where(col(rightTs).isNotNull)
      .select(rCur.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
    val lPlan = lCur.queryExecution.analyzed
    val rPlan = rFresh.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: no column '$n' in [${p.output.map(_.name).mkString(",")}]"))
    val joined = GraftSqlBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      lNames.init.map(attr(lPlan, _)), rNames.init.map(attr(rPlan, _)),
      attr(lPlan, lNames.last), attr(rPlan, rNames.last)))
    if (shadows.isEmpty) joined else joined.drop(shadows.toSeq: _*)
  }
}
