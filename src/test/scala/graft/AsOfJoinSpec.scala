package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.AsOf
import graft.queries.Joins

/** The native as-of join (custom LogicalPlan + Strategy + merge-pass
  * SparkPlan) must agree with the compositional d7 window form — two
  * independent implementations of the same semantics — and with hand-built
  * edge cases the sf fixtures don't cover (null timestamps, empty right
  * side, multi-key). */
class AsOfJoinSpec extends SparkSpecBase {

  test("d7b plans through AsOfJoinExec (custom strategy fires)") {
    val p = Joins.d7b.build(spark, sf).queryExecution.executedPlan.toString
    p should include("AsOfJoin") // AsOfJoinExec renders without the suffix
    // both sides shuffle ONLY on their key and sort (key, ts) — the SMJ
    // cost class the Scaladoc claims
    p should include regex "Exchange hashpartitioning\\(user_id"
    p should include regex "Exchange hashpartitioning\\(v_user_id"
    (p should not).include("SortMergeJoin")
  }

  test("d7b native as-of equals d7 window-form as-of on the fixture") {
    val native = Joins.d7b.build(spark, sf)
    val window = Joins.d7.build(spark, sf)
    native.schema.fieldNames shouldBe window.schema.fieldNames
    val n = native.collect().toSeq
    val w = window.collect().toSeq
    n.length shouldBe w.length
    n should contain theSameElementsInOrderAs w
  }

  private val rowSchema = StructType(Seq(
    StructField("k", StringType), StructField("t", LongType),
    StructField("tag", StringType)))

  private def side(rows: Seq[(String, java.lang.Long, String)],
                   prefix: String) = {
    val data = rows.map { case (k, t, g) => Row(k, t, g) }
    spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(data).asJava), rowSchema)
      .toDF(s"${prefix}k", s"${prefix}t", s"${prefix}tag")
  }

  test("edge cases: inclusive tie, no-match nulls, null ts, empty right") {
    val left = side(Seq(
      ("a", 5L, "a5"), ("a", 10L, "a10"), ("b", 1L, "b1"),
      ("c", 7L, "c7"), ("d", null.asInstanceOf[java.lang.Long], "dnull")), "l_")
    val right = side(Seq(
      ("a", 5L, "r_a5"),   // tie: at-or-before includes equal ts
      ("a", 9L, "r_a9"),
      ("b", 2L, "r_b2"),   // after left's only b row -> no match
      ("c", null.asInstanceOf[java.lang.Long], "r_cnull"), // dropped
      ("e", 1L, "r_e1")), "r_") // key with no left rows
    val out = AsOf.join(left, right, Seq("l_k"), Seq("r_k"), "l_t", "r_t")
      .select(col("l_tag"), col("r_tag")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    out shouldBe Map(
      "a5" -> Some("r_a5"), "a10" -> Some("r_a9"),
      "b1" -> None, "c7" -> None, "dnull" -> None)

    val empty = right.where(lit(false))
    val out2 = AsOf.join(left, empty, Seq("l_k"), Seq("r_k"), "l_t", "r_t")
      .select(col("l_tag"), col("r_tag")).collect()
    out2.length shouldBe 5
    all(out2.map(_.isNullAt(1))) shouldBe true
  }

  test("multi-key as-of join clusters on both keys") {
    val mk = StructType(Seq(StructField("k1", StringType),
      StructField("k2", IntegerType), StructField("t", LongType)))
    def df(prefix: String, rows: Seq[(String, Int, Long)]) =
      spark.createDataFrame(new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            rows.map { case (a, b, c) => Row(a, b, c) }).asJava), mk)
        .toDF(s"${prefix}k1", s"${prefix}k2", s"${prefix}t")
    val l = df("l_", Seq(("x", 1, 10L), ("x", 2, 10L)))
    val r = df("r_", Seq(("x", 1, 3L), ("x", 2, 7L)))
    val got = AsOf.join(l, r, Seq("l_k1", "l_k2"), Seq("r_k1", "r_k2"),
        "l_t", "r_t")
      .select(col("l_k2"), col("r_t")).collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    got shouldBe Map(1 -> 3L, 2 -> 7L)
  }

  test("optimizer rule: left-only filters push through the as-of join") {
    import graft.plans.AsOfJoinPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val df = Joins.d7b.build(spark, sf).where(col("event_id") > 100)
    val ajs = df.queryExecution.optimizedPlan.collect {
      case aj: AsOfJoinPlan => aj }
    ajs should have size 1
    // the event_id predicate must sit INSIDE the left child, not above
    // the join (above, it would filter AFTER the shuffles)
    val leftFilters = ajs.head.left.collect { case f: LFilter => f.condition.sql }
    leftFilters.mkString(";") should include("event_id")
    // semantics unchanged: pushed plan equals post-hoc filtering
    val want = Joins.d7b.build(spark, sf).collect().filter(_.getLong(0) > 100)
    df.collect() should contain theSameElementsInOrderAs want
  }

  test("optimizer rule: projections prune unused columns below the join") {
    import graft.plans.AsOfJoinPlan
    import spark.implicits._
    val l = Seq(("a", 1L, "x", "wideL")).toDF("lk", "lt", "lpay", "lwide")
    val r = Seq(("a", 1L, "y", "wideR")).toDF("rk", "rt", "rpay", "rwide")
    val joined = graft.plans.AsOf.join(l, r, Seq("lk"), Seq("rk"), "lt", "rt")
      .select("lk", "rpay") // lwide / lpay / rwide / rt are dead
    val aj = joined.queryExecution.optimizedPlan.collect {
      case a: AsOfJoinPlan => a }.head
    aj.left.output.map(_.name) should not contain "lwide"
    aj.right.output.map(_.name) should not contain "rwide"
    // keys/timestamps survive pruning — the operator needs them
    aj.left.output.map(_.name) should contain allOf ("lk", "lt")
    aj.right.output.map(_.name) should contain allOf ("rk", "rt")
    joined.collect().map(_.toSeq) shouldBe Array(Seq("a", "y"))
  }

  test("extensions-conf session: pushed filter reaches the parquet scan") {
    import org.apache.spark.sql.SparkSession
    val old = spark // keep the shared suite session to restore afterwards
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // same SparkContext, fresh session state built the graft way, with
      // the extension conf — here AsOfJoinRules runs INSIDE the operator-
      // optimization fixed point, so the pushed conjunct keeps sinking
      // into the scan
      val s2 = graft.core.Session.local(4)
      val p = Joins.d7b.build(s2, sf).where(col("event_id") > 100)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      p should include("AsOfJoin")
      // (plain toString elides long filter lists; formatted mode is full)
      p should include regex "PushedFilters: \\[[^\\]]*GreaterThan\\(event_id,100\\)"
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(old)
      SparkSession.setDefaultSession(old)
    }
  }

  test("null equi-keys never match (SQL equality, not null==null)") {
    val left = side(Seq(
      (null.asInstanceOf[String], 10L, "lnull"), ("a", 10L, "a10")), "l_")
    val right = side(Seq(
      (null.asInstanceOf[String], 5L, "r_null"), ("a", 5L, "r_a5")), "r_")
    val out = AsOf.join(left, right, Seq("l_k"), Seq("r_k"), "l_t", "r_t")
      .select(col("l_tag"), col("r_tag")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // the null-key left row keeps a null right side even though a
    // null-key right row at an earlier ts exists
    out shouldBe Map("lnull" -> None, "a10" -> Some("r_a5"))
  }

  test("directly-built plan survives null right timestamps (no wrapper filter)") {
    import graft.plans.{AsOfJoinPlan => AJP}
    import org.apache.spark.sql.GraftSqlBridge
    val left = side(Seq(("a", 10L, "a10")), "l_")
    val right = side(Seq(
      ("a", null.asInstanceOf[java.lang.Long], "r_null"), // ts null: never latest
      ("a", 4L, "r_a4")), "r_")
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          n: String) = p.output.find(_.name == n).get
    val out = GraftSqlBridge.ofRows(spark, AJP(lp, rp,
        Seq(a(lp, "l_k")), Seq(a(rp, "r_k")), a(lp, "l_t"), a(rp, "r_t")))
      .select(col("l_tag"), col("r_tag")).collect()
    out.map(r => r.getString(0) -> r.getString(1)).toMap shouldBe
      Map("a10" -> "r_a4")
  }

  test("mismatched key types widen to the common type; incompatible ones fail") {
    import spark.implicits._
    val l = Seq((1, 10L, "L1"), (2, 10L, "L2")).toDF("lk", "lt", "lid")
    val r = Seq((1L, 5L, "R1")).toDF("rk", "rt", "rid") // BIGINT key vs INT
    val got = AsOf.join(l, r, Seq("lk"), Seq("rk"), "lt", "rt")
      .select(col("lid"), col("rid")).collect()
      .map(x => x.getString(0) -> Option(x.getString(1))).toMap
    got shouldBe Map("L1" -> Some("R1"), "L2" -> None)

    // INT ts vs BIGINT ts widens too
    val r2 = Seq((1L, 5, "R1")).toDF("rk", "rt", "rid")
    AsOf.join(l, r2, Seq("lk"), Seq("rk"), "lt", "rt").count() shouldBe 2

    // string key vs int key has no tightest common type → clear failure
    val rs = Seq(("1", 5L, "R1")).toDF("rk", "rt", "rid")
    val e = intercept[IllegalArgumentException] {
      AsOf.join(l, rs, Seq("lk"), Seq("rk"), "lt", "rt")
    }
    e.getMessage should include("type mismatch")
  }

  test("as-of join of two unsorted bigger sides matches a SQL subquery oracle") {
    import spark.implicits._
    // deterministic pseudo-random data, unsorted input order
    val ls = (1 to 400).map { i =>
      (s"u${i % 13}", ((i * 2654435761L) % 1000) + 1, s"L$i") }
    val rs = (1 to 600).map { i =>
      (s"u${i % 17}", ((i * 40503L) % 1000) + 1, s"R$i") }
    val l = ls.toDF("lk", "lt", "lid")
    val r = rs.toDF("rk", "rt", "rid")
    val got = AsOf.join(l, r, Seq("lk"), Seq("rk"), "lt", "rt")
      .select(col("lid"), col("rt")).collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    l.createOrReplaceTempView("asof_l")
    r.createOrReplaceTempView("asof_r")
    val want = spark.sql("""
      SELECT lid, (SELECT max(rt) FROM asof_r WHERE rk = lk AND rt <= lt) m
      FROM asof_l""").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    got shouldBe want
  }
}
