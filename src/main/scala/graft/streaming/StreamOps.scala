package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** SURVEY.md §2.L — Structured Streaming plumbing.
  *
  * Verification model (S-tier): every streaming query here runs a REAL
  * MicroBatchExecution over the static events parquet via
  * Trigger.AvailableNow, captures its final result with foreachBatch →
  * parquet overwrite, and returns the read-back batch DataFrame — which
  * the driver then oracle-checks like any M-tier query. Since the whole
  * file arrives in one micro-batch, update-mode emission after the final
  * batch is the complete result set and watermarks cannot drop anything —
  * late-data semantics are exercised separately (StreamingSpec) with a
  * two-file ordered replay.
  *
  * Scale posture: state stores are keyed by (group, partition); shuffle
  * partitions = session setting (32); at cluster scale the same plan
  * shards state across executors with checkpointed WALs — nothing here is
  * driver-resident.
  */
object StreamOps {

  /** events schema as the streaming source must declare it. Streaming file
    * sources disable schema inference, and a WRONG declared type for `ts`
    * is silently mis-read (INT64 micros loaded as "nanos" longs are 1000×
    * off — the round-13 regression). So: probe the batch reader's view of
    * the same file ONCE and declare exactly that. Under the legacy conf a
    * TIMESTAMP(NANOS) file probes as BIGINT; a TIMESTAMP(MICROS) file
    * probes as a timestamp type. One driver-side footer read — negligible
    * at any scale. */
  def eventsSchema(spark: SparkSession, dir: String): StructType =
    spark.read
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .schema

  /** Unbounded view of the events table (§2.A9 streaming file source),
    * normalized to the same contract as Tables.events: `ts` BIGINT
    * epoch-nanos, `event_ts` TIMESTAMP (session TZ pinned UTC —
    * watermarks reject TIMESTAMP_NTZ event-time columns, so queries cast
    * their window bounds to NTZ at output instead). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Tables.pinNanosAsLong(spark)
    val schema = eventsSchema(spark, dir)
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) file, declared nanos-as-BIGINT
        raw.withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType | TimestampType => // TIMESTAMP(MICROS) file.
        // The NTZ→TIMESTAMP cast (event_ts must be zoned — watermarks
        // reject NTZ) and the nanos derivation both consult the session
        // zone for naive values: pin UTC like the nanosAsLong guard above,
        // so a foreign non-UTC session cannot silently shift event times
        graft.core.Tables.pinUtc(spark)
        raw
          .withColumn("event_ts", col("ts").cast(TimestampType))
          .withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts probed as unsupported type ${other.sql} — driver data drift?")
    }
  }

  def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) {
      scala.util.Using.resource(Files.walk(path))(
        _.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f)))
    }
  }

  /** Run a streaming query to completion (AvailableNow), capturing each
    * micro-batch's emitted rows under out/batch_<id>, and return the union
    * as a batch read-back (§2.A10 streaming sink).
    *
    * `mkStream` builds the stream against `core.Session.stream(spark)`,
    * whose isolated SQLConf keeps the stream's shuffle-partition override
    * out of the shared batch conf — a batch plan built concurrently keeps
    * the session's 32 partitions. State-store partition count is fixed at
    * checkpoint creation; the per-partition fixed cost (provider init,
    * snapshot, WAL) dominates at test scale, so streams default to 8
    * partitions here; at real scale set SPARK_GRAFT_STREAM_PARTITIONS to
    * shard state wide.
    *
    * Per-batch dirs (not a single overwrite) because append-mode
    * stateful queries emit in a LATER batch than the data arrives in
    * (the final no-data batch advances the watermark and evicts closed
    * windows) — batches are disjoint in append mode, so the union is the
    * full result. The whole file arrives in one data batch here, so
    * update-mode emissions are also one batch (no key repeats). */
  def runToBatch(spark: SparkSession, name: String,
      mkStream: SparkSession => DataFrame, mode: String): DataFrame =
    runToBatch(spark, name, mkStream, mode, (b, _) => (b, () => ()))

  /** runToBatch with a per-micro-batch hook: `perBatch(batch, batchId)`
    * maps each batch frame to (output, publish). The output is written to
    * the batch dir FIRST, then `publish()` runs — the hook's
    * external-state advance (streaming minhash_dedup appending survivors
    * to its published corpus; the graft_table sink committing the batch
    * with its txn stamp). Ordering gives the same publish-then-advance
    * recovery contract as the batch runner: a crash between write and
    * publish replays the batch against UNCHANGED state, reproducing the
    * same output (overwrite, same batch id), and each publish is
    * idempotent (state appends anti-join; table commits txn-dedupe on
    * batchId). Batches run sequentially (one MicroBatchExecution), so
    * each hook sees every prior batch's published state. */
  def runToBatch(spark: SparkSession, name: String,
      mkStream: SparkSession => DataFrame, mode: String,
      perBatch: (DataFrame, Long) => (DataFrame, () => Unit)): DataFrame = {
    val base = s"/tmp/graft_stream/$name"
    rmrf(base)
    val out = s"$base/out"
    val q = mkStream(graft.core.Session.stream(spark)).writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (o, publish) = perBatch(batch, id)
        o.write.mode("overwrite").parquet(s"$out/batch_$id")
        publish()
      }
      .start()
    q.awaitTermination()
    // Explicit multi-path read (not a glob): Spark's single-path batch read
    // probes FileStreamSink metadata with the raw string, and a glob there
    // throws FileNotFoundException instead of expanding.
    val batchDirs = scala.util.Using.resource(Files.list(Paths.get(out)))(
      _.iterator().asScala.map(_.toString).toSeq.sorted)
    spark.read.parquet(batchDirs: _*)
  }
}
