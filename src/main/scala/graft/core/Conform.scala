package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.types.{DataType, DecimalType, StructField, StructType}

/** The one schema-conformance decision, for every source, sink, table
  * write, merge, MV refresh and as-of join that aligns a frame to a
  * declared or logged schema:
  *  - names resolve with the session resolver;
  *  - nullability is not a type (`GraftSqlBridge.sameType`);
  *  - a type change is a widening `Cast.canUpCast` allows, or a decimal at
  *    the same scale with a smaller precision (a re-merged sum widens),
  *    cast with an overflow check that fails loud whatever
  *    `spark.sql.ansi.enabled` says. Anything else fails at plan time and
  *    names the column and both types;
  *  - two keys compare at their tightest common type.
  * Callers keep only their policy: which of missing, extra or retyped
  * columns they reject, and the prefix of their message.
  *
  * `Conform(df, target)` lines `df`'s columns up by name against `target`. */
final case class Conform(df: DataFrame, target: StructType) {
  private val resolver = df.sparkSession.sessionState.conf.resolver
  private def find(in: StructType, name: String) = in.find(f => resolver(f.name, name))
  /** (target field, frame field) pairs, in target order. */
  val matched: Seq[(StructField, StructField)] =
    target.flatMap(t => find(df.schema, t.name).map(t -> _))
  val missing: Seq[StructField] = target.filter(t => find(df.schema, t.name).isEmpty)
  val extra: Seq[StructField] = df.schema.filter(f => find(target, f.name).isEmpty)
  val retyped: Seq[(StructField, StructField)] = matched.filterNot {
    case (t, f) => GraftSqlBridge.sameType(t.dataType, f.dataType) }

  /** The column-level differences, for the caller's message. */
  def describe: String = Seq(
    "missing" -> missing.map(_.name),
    "extra" -> extra.map(_.name),
    "retyped" -> retyped.map { case (t, f) =>
      s"${t.name}: expected ${t.dataType.sql}, found ${f.dataType.sql}" })
    .collect { case (what, cs) if cs.nonEmpty => cs.mkString(s"$what [", "; ", "]") }
    .mkString(", ")

  /** `df` projected onto `target`: matched columns under the target's
    * spelling and type ([[Conform.cast]]), missing ones as typed nulls,
    * extras dropped or, with `keepExtra`, appended. A frame that already
    * has the output's names, order and types comes back as itself. */
  def project(context: String, keepExtra: Boolean = false): DataFrame = {
    val kept = if (keepExtra) extra else Nil
    if (missing.isEmpty && retyped.isEmpty &&
        df.columns.toSeq == target.fieldNames.toSeq ++ kept.map(_.name)) df
    else df.select(target.map(t => find(df.schema, t.name).fold(lit(null).cast(t.dataType))(
      f => Conform.cast(col(f.name), t.name, f.dataType, t.dataType, context)).as(t.name)) ++
      kept.map(f => col(f.name)): _*)
  }

  /** [[project]], after failing on any missing, extra or retyped column. */
  def exact(context: String): DataFrame = {
    require(missing.isEmpty && extra.isEmpty && retyped.isEmpty, s"$context — $describe")
    project(context)
  }
}

object Conform {
  /** Column `c` (named `name`) of type `from` as type `to`: `c` itself when
    * the types agree, a cast when it widens, an overflow-checked cast for a
    * same-scale decimal narrowing. Any other change fails here. */
  private def cast(c: Column, name: String, from: DataType, to: DataType,
      context: String): Column = (from, to) match {
    case _ if GraftSqlBridge.sameType(from, to) => c
    case _ if Cast.canUpCast(from, to) => c.cast(to)
    case (f: DecimalType, t: DecimalType) if f.scale == t.scale =>
      checked(c, name, from, to, context)
    case _ => throw new IllegalArgumentException(
      s"$context: column '$name' is ${from.sql}, which does not widen to " +
        s"${to.sql} — only widening casts conform; cast upstream")
  }

  /** A SQL UPDATE's store assignment of `c` (of type `from`) into column
    * `name` of type `to`. Looser than [[Conform]]'s widening rule, as SQL
    * UPDATE is: any type Spark can ANSI-store-assign is accepted (so
    * `price * 1.1` rounds back onto a DECIMAL(12,2) column), cast with the
    * overflow check; any other fails here, before a job runs. */
  def assign(c: Column, name: String, from: DataType, to: DataType,
      context: String): Column =
    if (GraftSqlBridge.sameType(from, to)) c
    else if (Cast.canUpCast(from, to)) c.cast(to)
    else if (Cast.canANSIStoreAssign(from, to)) checked(c, name, from, to, context)
    else throw new IllegalArgumentException(
      s"$context: column '$name' is ${to.sql}, which cannot store a " +
        s"${from.sql} value — cast the expression")

  /** `c` cast to `to`, failing loud whatever `spark.sql.ansi.enabled`
    * says when a non-null value does not fit. */
  private def checked(c: Column, name: String, from: DataType, to: DataType,
      context: String): Column =
    when(c.isNotNull && c.try_cast(to).isNull, raise_error(lit(
      s"$context: column '$name' (${from.sql}) holds a value that overflows ${to.sql}")))
      .otherwise(c.try_cast(to))

  /** The type two keys compare at: their tightest common type. */
  def keyType(name: String, a: DataType, b: DataType, context: String): DataType =
    if (GraftSqlBridge.sameType(a, b)) a
    else TypeCoercion.findTightestCommonType(a, b).getOrElse(
      throw new IllegalArgumentException(s"$context: key '$name' type " +
        s"mismatch — ${a.sql} vs ${b.sql} have no common type; cast both " +
        "sides to one type"))

  /** `df`'s columns named by `keys`, as `keys`' types. A value that cannot
    * round-trip into its key type can equal no key of that type, so its
    * row is dropped; the rest cast losslessly. */
  def keys(df: DataFrame, keys: StructType, context: String): DataFrame = {
    val c = Conform(df, keys)
    require(c.missing.isEmpty, s"$context — ${c.describe}")
    val wider = c.retyped.filterNot { case (k, f) => GraftSqlBridge.sameType(
      keyType(k.name, f.dataType, k.dataType, context), k.dataType) }
    wider.foldLeft(df) { case (d, (k, f)) =>
      d.where(col(f.name).try_cast(k.dataType) === col(f.name)) }
      .select(c.matched.map { case (k, f) => (if (c.retyped.contains((k, f)))
        col(f.name).try_cast(k.dataType) else col(f.name)).as(k.name) }: _*)
  }
}
