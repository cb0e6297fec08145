package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.functions.col

import graft.ext.GraftFunctions
import graft.pipeline.PipelineRunner
import graft.plans.{AsOf, AsOfJoinExec}

/** `core.Session.local` is the one session builder of every graft entry
  * point; these are the confs query results and plans depend on, and the
  * two routes graft's extension takes into a session: the build-time conf,
  * and `core.Session.ensure` for a session built elsewhere. */
class SessionSpec extends SparkSpecBase {
  private def invariant(cpus: Int) = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.ext.GraftSparkExtensions")

  /** `f` on a fresh `Session.local(2)` over the JVM's one SparkContext;
    * the shared test session is the active and default one again after. */
  private def withFreshLocal(f: SparkSession => Unit): Unit = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = core.Session.local(2)
      s should not be theSameInstanceAs(shared)
      f(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  /** A session over the shared SparkContext whose own extensions are
    * empty: what a session built elsewhere looks like. Every builder-made
    * session here gets graft's extension from the context's conf (the
    * test context is built by `Session.local`), so only the constructor
    * leaves it out. Its conf still reports `spark.sql.extensions`. */
  private def foreignSession(): SparkSession = {
    val ctor = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    ctor.newInstance(spark.sparkContext,
      Some(spark.asInstanceOf[classic.SparkSession].sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String],
      Map.empty[String, String]).asInstanceOf[SparkSession]
  }

  private def resolves(s: SparkSession, fn: String): Boolean =
    s.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(fn))

  private def assertTable(s: SparkSession): Unit = {
    GraftFunctions.functions.foreach { case (id, _, _) =>
      withClue(id.funcName)(resolves(s, id.funcName) shouldBe true) }
    s.sql("SELECT graft_norm_text('  A  Bc ') AS n, graft_geomean(x) AS g " +
      "FROM VALUES (1.0D), (4.0D) AS t(x)").collect().map(r =>
      (r.getString(0), r.getDouble(1))) shouldBe Array(("a bc", 2.0))
  }

  test("Session.local(2) carries all six invariant confs") {
    withFreshLocal { s =>
      // a fresh session over the JVM's one SparkContext: its conf holds
      // exactly what the builder set
      invariant(2).foreach { case (k, v) => withClue(k)(s.conf.get(k) shouldBe v) }
    }
    // building it left the shared test session's confs alone
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
  }

  test("TestSpark.spark carries the same invariant confs") {
    invariant(4).foreach { case (k, v) => withClue(k)(spark.conf.get(k) shouldBe v) }
    spark.sparkContext.master shouldBe "local[4]"
  }

  test("build-time extension: one table in local, derived and stream sessions") {
    withFreshLocal { s =>
      assertTable(s)
      assertTable(s.newSession())
      val ss = core.Session.stream(s)
      assertTable(ss)
      ss.conf.get("spark.sql.shuffle.partitions") shouldBe
        core.Session.envStreamPartitions.toString
      ss.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      ss.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
      // the as-of strategy and rules come with the extension: AsOf.join
      // plans the native node and adds nothing to `spark.experimental`
      import s.implicits._
      val l = Seq(("a", 10L, "L")).toDF("lk", "lt", "lid")
      val r = Seq(("a", 5L, "R")).toDF("rk", "rt", "rid")
      val j = AsOf.join(l, r, Seq("lk"), Seq("rk"), "lt", "rt")
      j.queryExecution.sparkPlan.collect { case a: AsOfJoinExec => a } should have size 1
      j.select(col("rid")).collect().map(_.getString(0)) shouldBe Array("R")
      s.experimental.extraStrategies shouldBe empty
      s.experimental.extraOptimizations shouldBe empty
    }
  }

  test("foreign session: ensure at PipelineRunner.run and AsOf.join installs the table") {
    val f = foreignSession()
    resolves(f, "graft_norm_text") shouldBe false
    f.conf.get("spark.sql.extensions") shouldBe "graft.ext.GraftSparkExtensions"
    // the examples/validate_enrich.yaml derive, batch and streaming; the
    // streaming run applies the derive after a per-batch gate, inside
    // foreachBatch on the stream session's clone
    val batch = PipelineRunner.run(f,
      s"""name: foreign_batch
         |source: {format: parquet, path: "$sf/lineitem.parquet"}
         |transforms:
         |  - {op: derive, name: normalized_flag, expr: "graft_norm_text(l_returnflag)"}
         |  - {op: select, cols: [l_returnflag, normalized_flag]}
         |""".stripMargin).passed
    batch.where(col("normalized_flag") =!= org.apache.spark.sql.functions.lower(
      col("l_returnflag"))).count() shouldBe 0
    batch.count() should be > 0L
    val streamed = PipelineRunner.run(f,
      s"""name: foreign_stream
         |mode: streaming
         |source: {format: parquet, path: "$sf",
         |         options: {pathGlobFilter: "documents.parquet"},
         |         schema: "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}
         |transforms:
         |  - {op: derive, name: lang_n, expr: "graft_norm_text(lang)"}
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: decontaminate, cols: [doc_id, toks], k: 5,
         |     where: "doc_id < 20",
         |     table: {format: parquet, path: "$sf/documents.parquet"}}
         |  - {op: derive, name: source_n, expr: "graft_norm_text(source)"}
         |""".stripMargin).passed
    val rows = streamed.select("lang", "lang_n", "source", "source_n").collect()
    rows should not be empty
    def norm(s: String) = Option(s).map(_.replaceAll(" +", " ").trim.toLowerCase).orNull
    rows.foreach { r =>
      r.getString(1) shouldBe norm(r.getString(0))
      r.getString(3) shouldBe norm(r.getString(2))
    }
    // AsOf.join plans the native node; ensure is idempotent, so the
    // session holds one strategy and one rule after three entry calls
    import f.implicits._
    val l = Seq(("a", 10L, "L")).toDF("lk", "lt", "lid")
    val r = Seq(("a", 5L, "R")).toDF("rk", "rt", "rid")
    val j = AsOf.join(l, r, Seq("lk"), Seq("rk"), "lt", "rt")
    AsOf.join(l, r, Seq("lk"), Seq("rk"), "lt", "rt")
    j.queryExecution.sparkPlan.collect { case a: AsOfJoinExec => a } should have size 1
    j.select(col("rid")).collect().map(_.getString(0)) shouldBe Array("R")
    f.experimental.extraStrategies shouldBe Seq(graft.plans.AsOfJoinStrategy)
    f.experimental.extraOptimizations shouldBe Seq(graft.plans.AsOfJoinRules)
  }
}
