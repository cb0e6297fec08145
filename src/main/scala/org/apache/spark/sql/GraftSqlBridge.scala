package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction,
  UserDefinedAggregator, UserDefinedFunction}
import org.apache.spark.sql.types.DataType

/** Single-purpose bridge into the `private[sql]` classic Dataset
  * constructor: turn a hand-built `LogicalPlan` (graft.plans.AsOfJoinPlan)
  * back into a user-facing DataFrame. This is the standard extension-
  * library pattern for custom logical operators (the public API offers no
  * other plan→DataFrame route); nothing else from the private surface is
  * touched.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Expression ↔ Column bridge (`classic.ExpressionUtils` is
    * `private[sql]`) — used to attach parameterized custom expressions
    * (graft.ext.BpeTokens carries its learned merge table) that the
    * FunctionRegistry's literal-only builder route cannot express. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Nullability-insensitive type equality (`DataType.sameType` is
    * `private[sql]`) — graft.core.Conform's notion of "same type", and
    * AsOfJoinPlan's check on key/timestamp pairs whose bytes would
    * hash/order differently across the two sides. */
  def sameType(a: DataType, b: DataType): Boolean = a.sameType(b)

  /** Recursive nullable clone (`StructType.asNullable` is
    * `private[spark]`) — a file-relation read schema must be nullable
    * like `DataFrameReader.schema` forces, or the vectorized parquet
    * reader refuses pre-evolution files missing a NOT NULL column
    * instead of filling typed nulls. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** Re-plan `df` under a session CLONE with the given conf overrides
    * (`cloneSession` is `private[sql]`). The clone shares catalog, temp
    * views, and registered functions, but its SQLConf is an isolated
    * copy — so a library write that needs a specific conf (graft_table
    * staging pins parquet timestamps to INT64-micros) neither mutates
    * the caller's session nor races concurrent writers the way a
    * set/restore on the shared conf would. */
  def withConf(df: DataFrame, kv: (String, String)*): DataFrame = {
    val clone = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    kv.foreach { case (k, v) => clone.conf.set(k, v) }
    classic.Dataset.ofRows(clone, df.queryExecution.logical)
  }

  /** A Scala UDF or typed-Aggregator UDAF call as `UDFRegistration`
    * builds it (`toScalaUDF`, `ScalaAggregator` are `private[sql]`). */
  def udfCall(f: UserDefinedFunction, args: Seq[Expression]): Expression = f match {
    case a: UserDefinedAggregator[_, _, _] => execution.aggregate.ScalaAggregator(a, args)
    case u: SparkUserDefinedFunction => classic.UserDefinedFunctionUtils.toScalaUDF(u, args)
  }

  /** Install what `install` injects into a live session (`extensions` and
    * its builders are `private[sql]`): functions into the registry,
    * strategies and rules into `spark.experimental`, each once. A no-op
    * when the session's own extensions inject those rules already. */
  def ensureExtension(spark: SparkSession, install: SparkSessionExtensions => Unit): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val table = new SparkSessionExtensions
    install(table)
    val rules = table.buildOptimizerRules(s)
    if (!rules.forall(s.extensions.buildOptimizerRules(s).contains)) {
      table.registerFunctions(s.sessionState.functionRegistry)
      val exp = s.experimental
      exp.extraStrategies = (exp.extraStrategies ++ table.buildPlannerStrategies(s)).distinct
      exp.extraOptimizations = (exp.extraOptimizations ++ rules).distinct
    }
  }
}
