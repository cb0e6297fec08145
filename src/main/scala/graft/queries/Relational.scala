package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Det, Tables}
import graft.core.Det._

/** SURVEY.md §2.A scans + §2.B row-level transforms + the §7.1 flagship.
  *
  * Scale notes: every query here is scan → narrow ops → (agg|sort); filters
  * and projections reach the parquet reader (verified via explain in
  * PlanSpec), so at 100 TB the scan is the only full-data pass.
  */
object Relational extends QueryPack {
  import QueryDef._

  /** §7.1 flagship: TPC-H Q1-shaped pricing summary (A1+B4+E1+E3+G1). */
  val pricingSummary: QueryDef = m(
    "pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_charge,
      |  CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    li.where(col("l_shipdate") <= Tables.tsLit("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        money(sum(dec2(col("l_quantity")))).as("sum_qty"),
        money(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
        money(sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount"))))).as("sum_disc_price"),
        money(sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount"))) * (one + rate(col("l_tax"))))).as("sum_charge"),
        avg2(sum(dec2(col("l_quantity"))), count(col("l_quantity"))).as("avg_qty"),
        avg2(sum(dec2(col("l_extendedprice"))), count(col("l_extendedprice"))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** §2.A1 — bare parquet scan with projection + total order. */
  val a1: QueryDef = m(
    "a1_scan_parquet",
    """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") {
    (spark, dir) =>
      Tables.region(spark, dir)
        .select(col("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
  }

  /** §2.A2 — events scan through the dual-format timestamp recipe: the
    * query name keeps its historical `_nanos` suffix, but Tables.events
    * adapts to either physical encoding (TIMESTAMP(NANOS) rounds 1–12,
    * TIMESTAMP(MICROS) round 13+) and `event_ts` is identical for both. */
  val a2: QueryDef = m(
    "a2_scan_events_nanos",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS event_ts, user_id, event_type,
      |  CAST(value AS DOUBLE) AS value
      |FROM events
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_ts"), col("user_id"),
        col("event_type"), col("value").cast(DoubleType).as("value"))
      .orderBy(col("event_id"))
  }

  /** §2.B1 — project / rename / drop. */
  val b1: QueryDef = m(
    "b1_project_rename",
    """SELECT o_orderkey AS order_id, o_orderstatus AS status, o_orderpriority
      |FROM orders ORDER BY order_id""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("order_id"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority"))
      .orderBy(col("order_id"))
  }

  /** §2.B2 — derived column from a full SQL expression (config `derive`). */
  val b2: QueryDef = m(
    "b2_derived_column",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS net_price,
      |  CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS order_class
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, net_price, order_class""".stripMargin) { (spark, dir) =>
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // the final sort covers every projected column so tied rows are
    // identical and engine interleaving cannot differ (D-rule 1).
    Tables.lineitem(spark, dir)
      .withColumn("net_price",
        money(dec2(col("l_extendedprice")) * (one - rate(col("l_discount")))))
      .withColumn("order_class",
        when(col("l_quantity") >= 25, "bulk").otherwise("small"))
      .select(col("l_orderkey"), col("l_linenumber"), col("net_price"), col("order_class"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("net_price"), col("order_class"))
  }

  /** §2.B3 — literal / run-metadata columns. */
  val b3: QueryDef = m(
    "b3_literal_columns",
    """SELECT r_regionkey, r_name, 'tpch' AS source_system, 42 AS load_id,
      |  CAST(1 AS BOOLEAN) AS is_active
      |FROM region ORDER BY r_regionkey""".stripMargin) { (spark, dir) =>
    Tables.region(spark, dir)
      .withColumn("source_system", lit("tpch"))
      .withColumn("load_id", lit(42))
      .withColumn("is_active", lit(true))
      .orderBy(col("r_regionkey"))
  }

  /** §2.B4 — filter over the full predicate grammar. */
  val b4: QueryDef = m(
    "b4_filter_grammar",
    """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderstatus IN ('O','F') AND o_totalprice BETWEEN 1000 AND 200000
      |  AND o_orderpriority LIKE '1-%' AND NOT (o_orderkey % 7 = 0)
      |  AND o_custkey IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .where(col("o_orderstatus").isin("O", "F")
        && col("o_totalprice").between(1000, 200000)
        && col("o_orderpriority").like("1-%")
        && !(col("o_orderkey") % 7 === 0)
        && col("o_custkey").isNotNull)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** §2.B5 — conditional split: the pass side. */
  val b5Pass: QueryDef = m(
    "b5_split_pass",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      |FROM lineitem
      |WHERE l_discount BETWEEN 0 AND 0.1 AND l_quantity > 0
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin) { (spark, dir) =>
    Validation.splitLineitem(spark, dir)._1
  }

  /** §2.B5 — conditional split: the quarantine side (complement). */
  val b5Fail: QueryDef = m(
    "b5_split_quarantine",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      |FROM lineitem
      |WHERE NOT (l_discount BETWEEN 0 AND 0.1 AND l_quantity > 0)
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin) { (spark, dir) =>
    Validation.splitLineitem(spark, dir)._2
  }

  /** §2.B6 — cast / schema conform with TRY_CAST null-on-failure. The
    * decimal round-trip stays internal; the FINAL projection re-casts to
    * DOUBLE (exact: 2-dp decimal < 2^53) so both engines emit the same
    * physical type — the driver comparator hashes physical outputs. */
  val b6: QueryDef = m(
    "b6_cast_conform",
    """SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
      |  TRY_CAST(o_orderstatus AS INTEGER) AS status_int,
      |  CAST(o_orderkey AS VARCHAR) AS okey_str
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    // sort-first, cast-after (round-21, see Scalars.i1): the range sort
    // runs over the 4 narrow base columns and the casts run once above
    // the exchange — previously the range sampler re-computed every cast
    // just to sample o_orderkey and the exchange carried the cast
    // strings. o_orderkey is unique, the projection is 1:1, so rows,
    // values and order are identical. Measured 2.4 → 0.7 s at sf0.1.
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
      .select(
        col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast(DoubleType).as("price_dec"),
        col("o_orderdate").cast(DateType).cast(StringType).as("order_date"),
        expr("try_cast(o_orderstatus AS INT)").as("status_int"),
        col("o_orderkey").cast(StringType).as("okey_str"))
  }

  /** §2.B8 — parse JSON props → extracted scalars (D-rule 6). */
  val b8: QueryDef = m(
    "b8_json_extract",
    """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k_val,
      |  props->>'$.missing' AS missing_val
      |FROM events ORDER BY event_id""".stripMargin) { (spark, dir) =>
    // sort-first (see Scalars.i1): event_id is unique, the JSON parse
    // runs once above the exchange instead of also inside the sampler
    Tables.events(spark, dir)
      .select(col("event_id"), col("props"))
      .orderBy(col("event_id"))
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"),
        get_json_object(col("props"), "$.missing").as("missing_val"))
  }

  /** §2.B9 — surrogate key: stable dense ids from a total order.
    * Scale note: a global row_number() over one ordering is a single-
    * partition window — fine for surrogate keys on dimension tables
    * (bounded), wrong for facts; fact-side keys should derive from
    * natural keys (hash) instead, see i9_hash_misc. The builder enforces
    * that contract through [[surrogateKeyOf]], the code the YAML
    * `surrogate_key` op runs too: refuse fact-sized inputs up front, so
    * nobody copies this window shape into an unbounded pipeline. */
  val b9: QueryDef = m(
    "b9_surrogate_key",
    """SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS sk, c_custkey, c_name
      |FROM customer ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    // declared dimension bound: 10M rows
    surrogateKeyOf(Tables.customer(spark, dir), Seq(col("c_custkey")), 10000000L,
      "sk", "b9_surrogate_key")
      .select(col("sk"), col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Dense surrogate ids 1..n from the total order `order`, as BIGINT
    * column `out` — the engine behind b9 and the YAML `surrogate_key` op.
    * A global row_number is a single-partition window, safe only on a
    * bounded (dimension) input, so the input must hold at most `maxRows`
    * rows: the probe is limit(maxRows+1).count() — early exit, never a
    * full count — and runs once, on the driver, when the frame is built.
    * `context` names the caller in the error. */
  def surrogateKeyOf(df: DataFrame, order: Seq[Column], maxRows: Long,
      out: String, context: String): DataFrame = {
    require(df.limit((maxRows + 1).toInt).count() <= maxRows,
      s"$context: input exceeds declared max_rows=$maxRows — a global " +
        "row_number window is single-partition, for bounded dimension " +
        "tables; hash natural keys for facts")
    df.withColumn(out, row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(order: _*)).cast(LongType))
  }

  override def defs: Seq[QueryDef] = Seq(
    pricingSummary, a1, a2, b1, b2, b3, b4, b5Pass, b5Fail, b6, b8, b9)
}
