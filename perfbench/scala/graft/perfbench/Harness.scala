package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.SparkEntry
import graft.config.{PipelineSpec, SinkSpec}
import graft.core.{Attribution, Checkpoints}
import graft.pipeline.PipelineRunner
import graft.tables.{GraftTable, MaterializedView}

/** Closed-loop, single-client driver for one benchmark workload.
  *
  * Usage (normally launched by perfbench/run.py):
  * {{{
  * graft.perfbench.Harness --workload W --data DIR --out DIR
  *   --seconds S --passes P --trace 0|1 --seed N --cpus C [--examples DIR]
  * }}}
  * Pass 1 is the set-up pass: it runs every activity once on the inputs,
  * cold, and its outputs are the ones checked against the oracles. Timed
  * passes over the same inputs follow until `--seconds` have elapsed (at
  * least P), one activity at a time; each must reproduce pass 1. Writes
  * every op's timing, result checksums and (traced) census to
  * `OUT/result.json`; run.py verifies the outputs and derives the metrics. */
object Harness {
  private val mapper = new ObjectMapper()

  /** One timed call: an activity (build + sink write), a sink write or
    * read-back, or a lakehouse op. */
  final class Op(val name: String, val kind: String, val activity: Boolean) {
    var secs = 0.0
    var error: String = null
    val fields = mutable.LinkedHashMap.empty[String, Any]
  }

  final class Pass(val id: String) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val fields = mutable.LinkedHashMap.empty[String, Any]
    /** Time the pass spent on the benchmark's own accounting and
      * verification reads, which `wall_s` leaves out. */
    var untimedNs = 0L
    def untimed[T](f: => T): T = {
      val t0 = System.nanoTime()
      try f finally untimedNs += System.nanoTime() - t0
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cpus = a("cpus")
    val out = a("out")
    val trace = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    OldGenPeak.install()
    val census = new Census
    if (trace) {
      spark.sparkContext.addSparkListener(census)
      spark.listenerManager.register(census)
      Spans.enabled = true
    }
    def drained(): Map[String, Double] =
      if (!trace) Map.empty
      else { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); census.snapshot() }

    val seed = a("seed").toLong
    val workload: (String, String, Pass) => Unit = a("workload") match {
      case "pipeline_batch" => activities(spark, Workloads.pipelineBatch, seed, trace, drained)
      case "lakehouse_cdc"  => new Lakehouse(spark, trace, drained).pass
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val seconds = a("seconds").toDouble
    val minPasses = 1 + a("passes").toInt
    val passes = mutable.ArrayBuffer.empty[Pass]
    var tRun = 0L
    while (passes.size < minPasses || (System.nanoTime() - tRun) / 1e9 < seconds) {
      if (passes.size == 1) tRun = System.nanoTime()
      val p = new Pass(s"p${passes.size + 1}")
      resetState(spark)
      System.gc() // every pass starts from the same collected heap
      OldGenPeak.reset()
      Spans.pass = p.id
      val c0 = drained()
      val ms0 = System.currentTimeMillis()
      val steal0 = stealTicks()
      val t0 = System.nanoTime()
      Spans("bench.pass")(workload(a("data"), s"$out/${p.id}", p))
      val wall = (System.nanoTime() - t0 - p.untimedNs) / 1e9
      val ms1 = System.currentTimeMillis()
      p.fields("steal_s") = (stealTicks() - steal0) / 100.0
      val c1 = drained()
      p.fields("wall_s") = wall
      if (trace) {
        p.fields("census") = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
        p.fields("in_job_s") = census.inJobMillis(ms0, ms1) / 1e3
      }
      passes += p
    }

    // context only: the config layer's parse cost over the shipped examples
    if (trace) a.get("examples").foreach { d =>
      Spans.pass = "config"
      scala.util.Using.resource(Files.list(Paths.get(d)))(_.iterator().asScala.toSeq)
        .filter(_.toString.endsWith(".yaml")).sorted.foreach { f =>
          Files.readString(f).replace("SFDIR", a("data")).replace("OUTDIR", s"$out/examples")
            .split("(?m)^---\\s*$").map(_.trim).filter(_.nonEmpty)
            .foreach(doc => Spans("config.parse")(PipelineSpec.parse(doc)))
        }
    }

    // tracing overhead: one more pass with the listeners and spans detached
    val untracedWall = if (!trace) None else {
      spark.sparkContext.removeSparkListener(census)
      spark.listenerManager.unregister(census)
      Spans.enabled = false
      resetState(spark)
      System.gc()
      val p = new Pass("untraced")
      val t0 = System.nanoTime()
      workload(a("data"), s"$out/untraced", p)
      Some((System.nanoTime() - t0 - p.untimedNs) / 1e9)
    }

    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "cpus" -> cpus.toInt,
      "session_ready_s" -> sessionReadyS,
      "passes" -> passes.map(passJson).toSeq,
      "untraced_wall_s" -> untracedWall,
      "oracle_sql" -> SparkEntry.oracleSql)
    if (trace) res("spans") = Spans.all.map(s => Seq(s.id, s.parent, s.name,
      s.startNs, s.endNs, s.pass))
    Files.writeString(Paths.get(out, "result.json"), json(res))
    spark.stop()
  }

  private def passJson(p: Pass): Map[String, Any] =
    p.fields.toMap ++ Map("id" -> p.id, "ops" -> p.ops.map { o =>
      o.fields.toMap ++ Map("name" -> o.name, "kind" -> o.kind,
        "activity" -> o.activity, "s" -> o.secs, "error" -> o.error)
    }.toSeq)

  /** The machine's steal ticks (1/100 s, all CPUs) from /proc/stat: host
    * context for each pass, 0 where the file is unreadable. */
  def stealTicks(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f(0) == "cpu" && f.length > 8) f(8).toLong else 0L
    } catch { case _: Exception => 0L }

  /** Drop what one pass leaves behind for the next: the program's shared
    * scratch directories under /tmp, catalog tables and cached storage. */
  def resetState(spark: SparkSession): Unit = {
    Seq("/tmp/graft_io", "/tmp/graft_stream").foreach(graft.streaming.StreamOps.rmrf)
    spark.catalog.listTables().collect().foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    Checkpoints.releaseAll(spark)
    Attribution.clear()
  }

  /** Time `f` as op `o` of pass `p`, recording a failure instead of
    * throwing (the run goes on; the op counts as failed). */
  def timed(p: Pass, o: Op, span: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try Spans(span)(f)
    catch { case e: Throwable =>
      o.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    o.secs = (System.nanoTime() - t0) / 1e9
    p.ops += o
  }

  /** Peak old-generation occupancy after any collection since `reset`,
    * in MB, from the JVM's GC notifications. */
  object OldGenPeak {
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def mb: Double = peak / 1048576.0
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if pool.contains("Old Gen") => u.getUsed }
              .foreach(u => synchronized { if (u > peak) peak = u })
          }, null, null)
      case _ => ()
    }
  }

  /** Every regular file under `root`: relative path -> size. */
  def listing(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else scala.util.Using.resource(Files.walk(r))(_.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map((f: Path) => r.relativize(f).toString -> Files.size(f)).toMap)
  }

  /** The pipeline-shaped workloads: each activity is a registered query
    * (`SparkEntry.queries`) whose result is published through the
    * product's sink path (`PipelineRunner.write`, atomic parquet
    * overwrite), then read back in full by a downstream consumer. The
    * seed permutes the activity order. */
  def activities(spark: SparkSession, names: Seq[String], seed: Long, trace: Boolean,
      drained: () => Map[String, Double]): (String, String, Pass) => Unit = {
    val order = new scala.util.Random(seed).shuffle(names)
    (dir: String, outRoot: String, p: Pass) => {
      val written = mutable.HashMap.empty[String, Long]
      order.foreach { name =>
        val path = s"$outRoot/$name"
        val act = new Op(name, "activity", activity = true)
        val sink = new Op(s"$name.sink_write", "write", activity = false)
        val read = new Op(s"$name.read_back", "read", activity = false)
        Attribution.clear()
        val c0 = drained()
        timed(p, act, "bench.activity") {
          val df = Spans("queries.build")(SparkEntry.queries(name)(spark, dir))
          timed(p, sink, "pipeline.sink_write")(PipelineRunner.write(df,
            SinkSpec("parquet", path, "overwrite", Nil, Map.empty, None, Nil, Nil,
              None, None, Nil, None)))
          if (sink.error != null) throw new RuntimeException(sink.error)
        }
        val c1 = drained()
        if (act.error == null)
          timed(p, read, "pipeline.read_back")(
            spark.read.parquet(path).write.format("noop").mode("overwrite").save())
        act.fields("path") = path
        p.untimed {
          act.fields("attribution") = Attribution.snapshotJson()
          if (trace) {
            act.fields("census") = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
            act.fields("cached_bytes") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
          }
        }
        val rel = new Op(s"$name.release", "release", activity = false)
        timed(p, rel, "core.release")(Checkpoints.releaseAll(spark))
        p.untimed(written ++= listing(outRoot))
      }
      p.fields("heap_peak_mb") = OldGenPeak.mb
      p.untimed {
        val end = listing(outRoot)
        p.fields("written_bytes") = written.values.sum
        p.fields("root_bytes") = end.values.sum
        p.fields("live_bytes") = end.collect { case (f, n) if f.endsWith(".parquet") => n }.sum
        p.fields("input_bytes") = listing(dir).values.sum
      }
    }
  }

  /** The lakehouse CDC workload: one graft_table seeded from `base.parquet`
    * per pass, then the op sequence in `ops.json` (written by
    * datagen.gen_cdc for the seed) driven through GraftTable's public
    * functions. Every read is forced through the script's checksum
    * aggregate so it can be checked against a DuckDB replay. */
  final class Lakehouse(spark: SparkSession, trace: Boolean,
      drained: () => Map[String, Double]) {
    def pass(dir: String, outRoot: String, p: Pass): Unit = {
      val script = mapper.readTree(Paths.get(dir, "ops.json").toFile)
      val sums = script.get("checksum_sql").asScala.map(n => expr(n.asText())).toSeq
      val mvKeys = script.get("mv_keys").asScala.map(_.asText()).toSeq
      val mvAggs = script.get("mv_aggs").asScala.map(n =>
        MaterializedView.AggSpec(n.get(0).asText(), n.get(1).asText(), n.get(2).asText())).toSeq
      val root = s"$outRoot/table"
      val mvRoot = s"$outRoot/mv"
      var seedVersion = 0L
      var feedFrom = 0L
      val written = mutable.HashMap.empty[String, Long]
      def latest: Long = GraftTable.latestVersion(root).get
      def checksum(df: DataFrame): Map[String, Any] = rowMap(df.select(sums: _*).collect()(0))

      script.get("ops").asScala.zipWithIndex.foreach { case (o, i) =>
        val kind = o.get("op").asText()
        val opKind = kind match {
          case "seed" | "merge_small" | "merge_large" | "merge_delete" |
               "delete_where" | "update_where" | "optimize" => "write"
          case "checkpoint" | "vacuum" | "mv_refresh" => "maint"
          case "row_count" | "snapshot" => "meta" // log-only, no data read
          case _ => "read"
        }
        val op = new Op(s"tables.$kind", opKind, activity = true)
        op.fields("index") = i
        def file(n: JsonNode) = Paths.get(dir, n.get("path").asText()).toString
        Attribution.clear()
        val c0 = drained()
        timed(p, op, op.name) {
          kind match {
            case "seed" =>
              val base = spark.read.parquet(file(o))
              GraftTable.create(root, base.schema, properties = Map("changeDataFeed" -> "true"))
              seedVersion = GraftTable.write(spark,
                base.repartitionByRange(o.get("files").asInt(), col("o_orderkey")), root, "append")
              feedFrom = seedVersion
              op.fields("version") = seedVersion
            case "merge_small" | "merge_large" =>
              op.fields("version") = GraftTable.merge(spark, root,
                spark.read.parquet(file(o)), Seq("o_orderkey"))
            case "merge_delete" =>
              op.fields("version") = GraftTable.merge(spark, root,
                spark.read.parquet(file(o)), Seq("o_orderkey"), how = "delete")
            case "delete_where" =>
              op.fields("version") = GraftTable.deleteWhere(spark, root,
                o.get("predicate").asText())
            case "update_where" =>
              op.fields("version") = GraftTable.updateWhere(spark, root,
                o.get("predicate").asText(),
                o.get("set").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
            case "optimize" =>
              op.fields("version") = GraftTable.optimize(spark, root,
                o.get("target_files").asInt())
            case "checkpoint" => op.fields("version") = GraftTable.checkpoint(root)
            case "vacuum" => op.fields("removed") = GraftTable.vacuum(root, retentionMillis = 0).size
            case "read_asof" =>
              val v = math.max(seedVersion, latest - o.get("back").asLong())
              op.fields("version") = v
              op.fields("checksum") = checksum(GraftTable.read(spark, root, Some(v)))
            case "read_range" =>
              val (lo, hi) = (o.get("lo").asLong(), o.get("hi").asLong())
              op.fields("version") = latest
              op.fields("checksum") = checksum(GraftTable.readRange(spark, root, "o_orderkey", lo, hi))
            case "row_count" =>
              op.fields("version") = latest
              op.fields("rows") = GraftTable.rowCount(root)
            case "snapshot" =>
              val s = GraftTable.snapshot(root)
              op.fields("version") = s.version
              op.fields("files") = s.files.size
            case "changes" =>
              val to = latest
              val df = GraftTable.changesWithImages(spark, root, feedFrom, Some(to))
              op.fields("from") = feedFrom
              op.fields("version") = to
              op.fields("checksum") = df.groupBy(col("_change_type")).agg(sums.head, sums.tail: _*)
                .collect().map(r => r.getString(0) -> rowMap(r, from = 1)).toMap
              feedFrom = to
            case "mv_refresh" =>
              op.fields("version") = latest
              op.fields("mv_version") = MaterializedView.refresh(spark, root, mvRoot, mvKeys, mvAggs)
                .getOrElse(-1L)
          }
        }
        val c1 = drained()
        // accounting and verification reads, outside the op's and the pass's timing
        p.untimed {
          if (trace) {
            op.fields("census") = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
            op.fields("attribution") = Attribution.snapshotJson()
            if (kind == "read_range") GraftTable.lastReadIndex.flatMap(_.lastPrune)
              .foreach { case (kept, live) => op.fields("prune") = Seq(kept, live) }
          }
          if (kind == "mv_refresh" && op.error == null)
            op.fields("mv_rows") = GraftTable.read(spark, mvRoot).collect().map(rowMap(_)).toSeq
          val now = listing(root)
          if (kind != "seed") written ++= now.filterNot { case (f, _) => written.contains(f) }
          else written ++= now.map { case (f, _) => f -> 0L } // the seed is not CDC output
        }
      }
      p.fields("heap_peak_mb") = OldGenPeak.mb
      p.untimed {
        val snap = GraftTable.snapshot(root)
        val end = listing(root)
        p.fields("final_version") = snap.version
        p.fields("final_checksum") = checksum(GraftTable.read(spark, root))
        p.fields("written_bytes") = written.values.sum
        p.fields("root_bytes") = end.values.sum
        p.fields("live_bytes") = snap.files.map(f => end.getOrElse(f, 0L)).sum
        p.fields("root") = root
      }
    }
  }

  private def rowMap(r: Row, from: Int = 0): Map[String, Any] =
    r.schema.fieldNames.zipWithIndex.drop(from).map { case (n, i) =>
      n -> (if (r.isNullAt(i)) null else r.get(i) match {
        case d: java.math.BigDecimal => d.toBigInteger.toString
        case v => v
      })
    }.toMap

  /** Minimal JSON rendering for the result file (maps, sequences,
    * strings, numbers, booleans, null). */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(json).mkString("[", ",", "]")
    case o: Option[_] => json(o.orNull)
    case other => json(other.toString)
  }
}

/** The pipeline_batch activities: YAML config pipelines (registered
  * queries in SparkEntry), including the LLM-curation ones whose time is in
  * the similarity operators, native expressions and checkpoints. */
object Workloads {
  val pipelineBatch: Seq[String] = Seq(
    "ep1_config_pipeline", "ep2_config_aggregate", "ep3_config_stream",
    "ep7_config_textdedup", "ep14_config_branches", "ep15_config_semdedup")
}
