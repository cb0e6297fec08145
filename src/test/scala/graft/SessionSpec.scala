package graft

import org.apache.spark.sql.SparkSession

/** `core.Session.local` is the one session builder of every graft entry
  * point; these are the confs query results and plans depend on. */
class SessionSpec extends SparkSpecBase {
  private def invariant(cpus: Int) = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  test("Session.local(2) carries all five invariant confs") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a fresh session over the JVM's one SparkContext: its conf holds
      // exactly what the builder set
      val s = core.Session.local(2)
      s should not be theSameInstanceAs(shared)
      invariant(2).foreach { case (k, v) => withClue(k)(s.conf.get(k) shouldBe v) }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
    // building it left the shared test session's confs alone
    shared.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
  }

  test("TestSpark.spark carries the same invariant confs") {
    invariant(4).foreach { case (k, v) => withClue(k)(spark.conf.get(k) shouldBe v) }
    spark.sparkContext.master shouldBe "local[4]"
  }
}
