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

  /** Does `t`, or a type nested in it, satisfy `p`
    * (`DataType.existsRecursively` is `private[spark]`)? */
  def existsType(t: DataType)(p: DataType => Boolean): Boolean = t.existsRecursively(p)

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
    * set/restore on the shared conf would. When every override already
    * holds in `df`'s session, `df` itself is returned: no clone, no
    * re-plan. The clone plans from the ANALYZED plan, so a file source
    * keeps the listing and schema `df` resolved (the raw logical plan
    * of `spark.read.parquet(dir)` would list `dir` and infer its schema
    * again, picking up files added since). */
  def withConf(df: DataFrame, kv: (String, String)*): DataFrame = {
    val pins = kv.filterNot { case (k, v) => df.sparkSession.conf.getOption(k).contains(v) }
    if (pins.isEmpty) df
    else {
      val clone = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
      pins.foreach { case (k, v) => clone.conf.set(k, v) }
      classic.Dataset.ofRows(clone, df.queryExecution.analyzed)
    }
  }

  /** `cols` IN `rows` as ONE `InSet` node over Catalyst values (a struct
    * of the columns for a multi-column key; `schema` types `rows`), so a
    * key set the driver holds stays in the plan instead of becoming a
    * relation to scan or broadcast. `InSet` compares as join equality
    * does: -0.0 = 0.0, NaN = NaN, binary and structs by value. A row
    * with a null can match nothing under join equality; the caller
    * keeps such rows out of `rows`. */
  def inSet(cols: Seq[Column], schema: types.StructType, rows: Seq[Row]): Column = {
    val one = cols.size == 1
    val toCatalyst = catalyst.CatalystTypeConverters.createToCatalystConverter(
      if (one) schema.head.dataType else schema)
    column(catalyst.expressions.InSet(
      expression(if (one) cols.head else functions.struct(cols: _*)),
      rows.map(r => toCatalyst(if (one) r.get(0) else r)).toSet))
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
