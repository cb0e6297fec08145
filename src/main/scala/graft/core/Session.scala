package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its SparkSession (Bench,
  * Verify, Dev and the test session all call [[local]]), so the confs
  * that query results and plans depend on cannot drift between them:
  *
  *   - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *   - `spark.sql.session.timeZone = UTC` (timestamp renders and
  *     `unix_micros` match the DuckDB oracle);
  *   - `spark.sql.legacy.parquet.nanosAsLong = true`, set at build time so
  *     no plan depends on whether [[Tables.events]] ran first;
  *   - `spark.ui.enabled = false`.
  */
object Session {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Cpu count of the Bench/Verify/Dev session: `SPARK_GRAFT_CPUS`,
    * default 32 (the grading environment's core count). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
