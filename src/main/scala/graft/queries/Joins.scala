package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Det._

/** SURVEY.md §2.D — joins (enrichment backbone).
  *
  * Scale notes per operator are inline; the common themes:
  *  - dimension sides are pinned with broadcast() (D1) — no shuffle of the
  *    fact at any scale;
  *  - big-big joins (D2) shuffle on the join key and rely on AQE for skew;
  *  - the interval self-join (D8) is equi-joined on (user, time-bucket)
  *    probes instead of a per-user nested loop, so the comparison count is
  *    bounded by bucket occupancy, not per-user-event².
  */
object Joins extends QueryPack {
  import QueryDef._

  /** §2.D1 — broadcast hash join: fact ⋈ two small dims. */
  val d1: QueryDef = m(
    "d1_broadcast_join",
    s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
       |  ${oMoney(s"SUM(${oDec2("c_acctbal")})")} AS sum_acctbal
       |FROM customer c
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin) { (spark, dir) =>
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        money(sum(dec2(col("c_acctbal")))).as("sum_acctbal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** §2.D2 — shuffle/sort-merge join: big ⋈ big (hinted to SMJ so the
    * sf-scale plan exercises what the planner picks at 100 TB). */
  val d2: QueryDef = m(
    "d2_sortmerge_join",
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${oMoney(s"SUM(${oDec2("l_extendedprice")} * ($oOne - ${oRate("l_discount")}))")} AS revenue
       |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir).hint("merge")
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        money(sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount"))))).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** §2.D3 — left semi (EXISTS). */
  val d3: QueryDef = m(
    "d3_semi_join",
    """SELECT o_orderkey, o_totalprice FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir).where(col("l_discount") > 0.09)
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** §2.D4 — left anti (NOT EXISTS). */
  val d4: QueryDef = m(
    "d4_anti_join",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** §2.D5 — cross join of two bounded inputs. */
  val d5: QueryDef = m(
    "d5_cross_join",
    """SELECT r_name, s.status FROM region r
      |CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders) s
      |ORDER BY r_name, status""".stripMargin) { (spark, dir) =>
    val r = Tables.region(spark, dir).select(col("r_name"))
    val s = Tables.orders(spark, dir)
      .select(col("o_orderstatus").as("status")).distinct()
    r.crossJoin(s).orderBy(col("r_name"), col("status"))
  }

  /** §2.D6 — theta/banded join: events banded by value range against an
    * inline bands table (broadcast nested loop — the bands side is tiny
    * and config-bounded, so BNLJ is the right physical plan at any scale). */
  val d6: QueryDef = m(
    "d6_range_band_join",
    """SELECT b.band, COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users
      |FROM events e
      |JOIN (VALUES ('p0_low', -1e18, 10.0), ('p1_mid', 10.0, 100.0),
      |             ('p2_high', 100.0, 1e18)) AS b(band, lo, hi)
      |  ON e.value >= b.lo AND e.value < b.hi
      |GROUP BY b.band
      |ORDER BY b.band""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val bands = Seq(("p0_low", -1e18, 10.0), ("p1_mid", 10.0, 100.0),
      ("p2_high", 100.0, 1e18)).toDF("band", "lo", "hi")
    e.join(broadcast(bands), e("value") >= bands("lo") && e("value") < bands("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("band"))
  }

  /** §2.D7 — as-of join: for each purchase, the latest view of the same
    * user at-or-before its time. Spark has no native as-of join; the
    * scale-correct construction is union-tag + running last_value over a
    * (user_id, ts) window — ONE shuffle/sort by user, no join at all, vs
    * DuckDB's native ASOF JOIN as the independent cross-check.
    * Tie rule (at-or-before): a view at the exact purchase ts counts —
    * encoded by sorting views before purchases at equal ts. */
  val d7: QueryDef = m(
    "d7_asof_join",
    """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |  CAST(v.ts AS TIMESTAMP) AS last_view_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin) { (spark, dir) =>
    val e = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_ts"),
        col("event_type"),
        when(col("event_type") === "view", col("event_ts")).as("view_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, when(col("event_type") === "view", 0).otherwise(1).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("event_ts").as("purchase_ts"), col("last_view_ts"))
      .orderBy(col("event_id"))
  }

  /** §2.D7 again, as the native whole-operator route (§2.M tier (c)):
    * graft.plans.AsOfJoin — custom LogicalPlan + SparkStrategy +
    * merge-pass SparkPlan, from graft.ext.GraftSparkExtensions. Same
    * oracle as d7 (DuckDB's native ASOF LEFT JOIN), so the two
    * implementations cross-check each other.
    * Scale contrast with d7's window form: each side shuffles only on
    * user_id and the merge streams with O(1) state per partition —
    * no union of both row shapes through one window sort. */
  val d7b: QueryDef = m(
    "d7b_asof_native",
    """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |  CAST(v.ts AS TIMESTAMP) AS last_view_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin) { (spark, dir) =>
    val e = Tables.events(spark, dir)
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_ts").as("purchase_ts"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("ts").as("v_ts"),
        col("event_ts").as("last_view_ts"))
    graft.plans.AsOf.join(purchases, views,
        Seq("user_id"), Seq("v_user_id"), "ts", "v_ts")
      .select(col("event_id"), col("user_id"), col("purchase_ts"),
        col("last_view_ts"))
      .orderBy(col("event_id"))
  }

  /** §2.D8 — interval self-join: same-user event pairs within 1 second.
    * Scale path: instead of a per-user nested loop, each left row is
    * exploded to 3 adjacent 1s-bucket probes and equi-joined on
    * (user_id, bucket) — a pair lands in exactly one (probe = b.bucket)
    * slot, so no dedup is needed and the join is a plain shuffle hash
    * join bounded by bucket occupancy. */
  val d8: QueryDef = m(
    "d8_interval_pairs",
    """SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      |  AND abs(epoch_ns(a.ts) - epoch_ns(b.ts)) < 1000000000
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        expr("ts div 1000000000").as("bucket"))
    val probes = e.select(col("event_id"), col("user_id"), col("ts"),
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("probe"))
    val a = probes.toDF("id_a", "user_id", "ts_a", "probe")
    val b = e.toDF("id_b", "user_id_b", "ts_b", "bucket_b")
    a.join(b, a("user_id") === b("user_id_b") && a("probe") === b("bucket_b"))
      .where(col("id_a") < col("id_b")
        && abs(col("ts_a") - col("ts_b")) < 1000000000L)
      .select(col("id_a"), col("id_b"), col("user_id"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** §2.D9 — SALTED shuffle join for skewed keys (the 100-TB mitigation
    * SURVEY §7.4.7 promises for events.user_id's Zipf distribution, made
    * executable and oracle-checked — salting must not change the result).
    *
    * Shape: the fact side gets a deterministic salt (`xxhash64(event_id)
    * mod S` — never rand(): re-runs must agree), the per-user dim side is
    * exploded into S copies, and the join key becomes (user_id, salt), so
    * one hot user's rows spread over S shuffle partitions instead of one
    * straggler. S multiplies only the DIM side (the small one); the merge
    * hint forces the shuffle path because a broadcast would dodge the
    * skew problem this query exists to demonstrate. AQE's skew-join split
    * is the runtime alternative; explicit salting is the plan-level
    * guarantee that also covers stragglers inside a single AQE block. */
  val d9: QueryDef = m(
    "d9_salted_join",
    """WITH d AS (SELECT user_id, COUNT(*) AS user_events FROM events GROUP BY user_id)
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(d.user_events) AS BIGINT) AS sum_user_events
      |FROM events e JOIN d ON e.user_id = d.user_id
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin) { (spark, dir) =>
    val S = 8
    val e = Tables.events(spark, dir)
    val fact = e.select(col("event_type"), col("user_id"),
      pmod(xxhash64(col("event_id")), lit(S.toLong)).as("salt"))
    val dim = e.groupBy(col("user_id").as("d_user_id"))
      .agg(count(lit(1)).as("user_events"))
      .withColumn("d_salt",
        explode(sequence(lit(0L), lit((S - 1).toLong))))
      .hint("merge") // force the shuffle path; broadcast would dodge skew
    fact.join(dim, fact("user_id") === dim("d_user_id")
        && fact("salt") === dim("d_salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("user_events")).cast("long").as("sum_user_events"))
      .orderBy(col("event_type"))
  }

  /** D-tier extension — SNAPSHOT DIFF (CDC-style change detection): given
    * two versions of a keyed table, emit exactly the insert/delete/update
    * rows between them — the step that turns full-snapshot ingestion (the
    * only thing many upstream systems can export) into an incremental
    * change stream a merge/scd2 op can consume.
    *
    * Shape: ONE full-outer equi-join shuffle on the key; classification
    * is pure row-local algebra over the joined frame (null key side →
    * insert/delete, null-safe value comparison → update), and unchanged
    * rows — the overwhelming majority in a 100 TB daily snapshot — are
    * filtered before anything downstream sees them. Value comparison is
    * null-safe (`<=>`) so NULL→value and value→NULL transitions register
    * as updates instead of vanishing. The two snapshots here are derived
    * deterministically from `orders` (drop keys ≡9 mod 10 from the old
    * version, keys ≡0 mod 10 from the new, bump price on keys ≡0 mod 7)
    * so the oracle replays the identical construction. */
  val d10: QueryDef = m(
    "d10_snapshot_diff",
    """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      |prev AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
      |next AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderstatus
      |  FROM o WHERE o_orderkey % 10 > 0)
      |SELECT * FROM (
      |  SELECT COALESCE(prev.o_orderkey, next.o_orderkey) AS o_orderkey,
      |    CASE WHEN prev.o_orderkey IS NULL THEN 'insert'
      |         WHEN next.o_orderkey IS NULL THEN 'delete'
      |         WHEN (prev.o_totalprice IS DISTINCT FROM next.o_totalprice)
      |           OR (prev.o_orderstatus IS DISTINCT FROM next.o_orderstatus)
      |           THEN 'update' END AS change,
      |    prev.o_totalprice AS price_old, next.o_totalprice AS price_new
      |  FROM prev FULL JOIN next ON prev.o_orderkey = next.o_orderkey)
      |WHERE change IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val prev = o.where(col("o_orderkey") % 10 < 9)
      .toDF("k_old", "price_old", "status_old")
    val next = o.where(col("o_orderkey") % 10 > 0)
      .select(col("o_orderkey").as("k_new"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")).as("price_new"),
        col("o_orderstatus").as("status_new"))
    prev.join(next, prev("k_old") === next("k_new"), "full_outer")
      .withColumn("change",
        when(col("k_old").isNull, lit("insert"))
          .when(col("k_new").isNull, lit("delete"))
          .when(!(col("price_old") <=> col("price_new"))
            || !(col("status_old") <=> col("status_new")), lit("update")))
      .where(col("change").isNotNull)
      .select(coalesce(col("k_old"), col("k_new")).as("o_orderkey"),
        col("change"), col("price_old"), col("price_new"))
      .orderBy(col("o_orderkey"))
  }

  override def defs: Seq[QueryDef] =
    Seq(d1, d2, d3, d4, d5, d6, d7, d7b, d8, d9, d10)
}
