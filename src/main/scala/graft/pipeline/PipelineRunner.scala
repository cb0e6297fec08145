package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructType}

import graft.config._
import graft.core.Conform
import graft.queries.{Events, Relational, TextOps2}
import graft.streaming.StreamOps

/** SURVEY.md §3.2 EP1 — the config-driven pipeline interpreter: YAML →
  * source → checks (pass/quarantine split + metrics) → transforms → sink.
  *
  * Execution model (the Spark-native design decision): every stage only
  * grows one Catalyst LogicalPlan — `build` performs no action. Checks are
  * evaluated as N boolean columns in a single projection (codegen fuses
  * them into one pass over the scan; never one job per check), the split
  * reuses the same conjunction predicate, and metrics aggregate those
  * booleans map-side. At 100 TB a pipeline run is: one scan, one fused
  * validation projection, the transforms' own shuffles, one write.
  */
object PipelineRunner {

  /** Everything a run produces. `metrics` rides the sink write via
    * observe() when a sink is declared (no extra job), else one dedicated
    * aggregate job; `passed`/`quarantined` are unexecuted plans unless
    * sinks write them. */
  final case class RunResult(
      spec: PipelineSpec,
      passed: DataFrame,
      quarantined: DataFrame,
      metrics: Seq[CheckMetric])

  final case class CheckMetric(check: String, passCnt: Long, failCnt: Long)

  def runFile(spark: SparkSession, yamlPath: String): RunResult =
    run(spark, Files.readString(Paths.get(yamlPath)))

  /** Run a multi-document YAML (`---`-separated) as ONE declared chain of
    * activities executed IN ORDER — ADF "pipeline with activities"
    * parity, and the natural home of the maintenance lifecycle (ingest →
    * delete_where → optimize → vacuum in one file). Each document is a
    * complete pipeline spec; later documents read what earlier ones
    * published. Fail-fast: the first failing activity aborts the chain —
    * everything before it has published (each single pipeline's sink is
    * atomic), nothing after it runs. Returns the LAST pipeline's result. */
  def runAll(spark: SparkSession, yaml: String): RunResult = {
    val docs = yaml.split("(?m)^---\\s*$").map(_.trim).filter(_.nonEmpty)
    require(docs.nonEmpty, "runAll: no pipeline documents in the YAML")
    docs.init.foreach(run(spark, _))
    run(spark, docs.last)
  }

  def runAllFile(spark: SparkSession, yamlPath: String): RunResult =
    runAll(spark, Files.readString(Paths.get(yamlPath)))

  def run(spark: SparkSession, yaml: String): RunResult = {
    val spec = PipelineSpec.parse(yaml)
    graft.core.Session.ensure(spark) // M1 UDFs usable in derive/filter exprs
    if (spec.mode == "streaming") return runStreaming(spark, spec)
    if (spec.mode == "mv_refresh") {
      // declared incremental materialized view: advance it to the base's
      // latest version (incremental over the feed when the log allows,
      // full recompute when it doesn't — see MaterializedView), then
      // return the CURRENT view with sketch columns estimated
      val mv = spec.mv.get
      val aggs = mv.aggs.map { case (fn, e, out) =>
        graft.tables.MaterializedView.AggSpec(fn, e, out) }
      if (spec.mvStreaming) {
        // CONTINUOUS maintenance: the streaming table source paces the
        // work (offsets = commit versions, maxVersionsPerTrigger bounds a
        // batch) and each micro-batch advances the view to ITS high
        // watermark via the same refresh — so the MV tracks the base
        // version-by-version instead of jumping to latest once. The
        // foreachBatch body reads ONLY the synthesized _commit_version
        // column (column pruning reaches the scan: no data IO beyond row
        // counts); refresh re-reads the actual delta from the change feed
        // where the incremental algebra needs it. Exactly-once comes from
        // the MV's own txn cursor, NOT the stream checkpoint: a replayed
        // batch (fresh checkpoint, crash-rerun, startingVersion 0) finds
        // lastTxn ≥ its watermark and no-ops — so the checkpoint here is
        // run-scoped scratch, like every other run-to-completion stream
        // in this runner.
        val base = graftRoot(spark, spec.source.path, spec.source.table)
        val cpBase = s"/tmp/graft_stream/mv_${spec.name}"
        graft.streaming.StreamOps.rmrf(cpBase)
        val ss = graft.core.Session.stream(spark)
        // case-insensitive on KEY and VALUE: the stream source honors
        // `withimages: True` via CaseInsensitiveStringMap.getBoolean
        // (Boolean.parseBoolean ignores case), so the dispatch must
        // match it or "True" would stream classified change rows into
        // the per-version refresh branch
        val direct = spec.source.options.exists { case (k, v) =>
          k.equalsIgnoreCase("withImages") && v.equalsIgnoreCase("true") }
        val src = readStream(ss, spec.source)
        val q = (if (direct) src
          else src.select(col("_commit_version"))).writeStream
          .option("checkpointLocation", s"$cpBase/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (direct)
              // DIRECT retraction consumption: the batch IS the change
              // delta (classified rows) — one signed merge, no
              // per-version refresh calls, no re-read of the feed
              graft.tables.MaterializedView.applyChangeBatch(
                batch, base, mv.path, mv.keys, aggs)
            else {
              val hi = batch.agg(max(col("_commit_version"))).head()
              if (!hi.isNullAt(0)) // an all-skipped batch advances nothing
                graft.tables.MaterializedView.refresh(spark, base, mv.path,
                  mv.keys, aggs, toVersion = Some(hi.getLong(0)))
            }
            ()
          }
          .start()
        q.awaitTermination()
      } else graft.tables.MaterializedView.refresh(
        spark, graftRoot(spark, spec.source.path, spec.source.table),
        mv.path, mv.keys, aggs)
      val out = graft.tables.MaterializedView.estimated(
        graft.tables.GraftTable.read(spark, mv.path), aggs)
      return RunResult(spec, out, out.limit(0), Nil)
    }
    if (spec.mode == "maintenance") {
      // declared ACID-table maintenance: run the one op, return the
      // post-op table as the result (vacuum changes no version — the
      // read-back is simply the current snapshot). Parse already
      // enforced the one-op contract and knob hygiene.
      val m = spec.maintenance.get
      import graft.tables.GraftTable
      if (m.op == "verify_constraints") {
        // audit, not mutation: the RESULT is the per-constraint violation
        // count (the one full-scan consumer — run after a restore or over
        // externally-produced files), not the table itself
        import spark.implicits._
        val out = GraftTable.verifyConstraints(spark, m.path).toSeq.sorted
          .toDF("constraint", "violations")
        return RunResult(spec, out, out.limit(0), Nil)
      }
      m.op match {
        case "delete_where" => GraftTable.deleteWhere(spark, m.path, m.where.get)
        case "update_where" =>
          GraftTable.updateWhere(spark, m.path, m.where.get, m.set)
        case "restore" => GraftTable.restore(spark, m.path, m.toVersion.get)
        case "optimize" => GraftTable.optimize(spark, m.path,
          m.targetFiles.get, m.zorderBy, m.zorderBits.getOrElse(12))
        case "vacuum" => GraftTable.vacuum(m.path,
          (m.retentionHours.getOrElse(168.0) * 3600 * 1000).toLong)
        case "add_constraint" => GraftTable.addConstraint(spark, m.path,
          m.constraintName.get, m.check.get)
        case "drop_constraint" =>
          GraftTable.dropConstraint(m.path, m.constraintName.get)
        case "drop_partition" =>
          GraftTable.dropPartition(m.path, m.partition)
        case "set_property" =>
          m.set.toSeq.sortBy(_._1).foreach { case (k, v) =>
            GraftTable.setProperty(m.path, k, Some(v)) }
        case "rename_column" => // pure metadata via column mapping
          val (from, to) = m.set.head
          GraftTable.renameColumn(m.path, from, to)
        case "drop_column" =>
          GraftTable.dropColumn(m.path, m.column.get)
        case "auto_compact" => // no-op when the layout is healthy —
          // the streaming-ingest post-batch policy as a declared op
          m.deadRowFraction.fold(GraftTable.autoCompact(spark, m.path))(f =>
            GraftTable.autoCompact(spark, m.path, deadRowFraction = f))
      }
      val out = GraftTable.read(spark, m.path)
      return RunResult(spec, out, out.limit(0), Nil)
    }
    val src = read(spark, spec.source)

    val (passed0, quarantined, metricsOf) = validate(spark, src, spec.checks)
    // Curation-gate accounting: minhash_dedup / quality_filter /
    // decontaminate (in their dropping variants — `name:` tags instead of
    // dropping) remove rows invisibly; a 100 TB curation run that cannot
    // report per-gate rows-in/rows-out is not operable. Capture the frame
    // pair around each dropping gate; counts run later (see gateMetrics)
    // and ONLY when a metrics_sink asked for them — zero cost otherwise.
    //
    // Why these do NOT ride observe() like the check metrics: a
    // CollectMetrics node must be unique in a query, but decontaminate
    // and minhash_dedup consume their input from TWO plan branches
    // (corpus + shingle sides; idOk join + idNull union), so an observe
    // node placed below them appears twice in one plan — Spark rejects
    // the duplicate metric name at analysis, and a dedup that tolerated
    // it would double-count. The same duplication can hit a gate's
    // OUTPUT node when a later self-joining transform sits above it.
    // Dedicated aggregate-only count jobs are the correct price.
    val gateOps = Set("minhash_dedup", "semdedup", "quality_filter", "decontaminate")
    val gateFrames = Seq.newBuilder[(String, DataFrame, DataFrame)]
    // state publications a transform wants to make only AFTER the run's
    // sinks commit (minhash_dedup's cross-run cluster state) — the same
    // publish-then-advance contract as the incremental watermark below
    val deferred = scala.collection.mutable.Buffer.empty[() => Unit]
    val out = spec.transforms.zipWithIndex.foldLeft(passed0) {
      case (df, (t, i)) =>
        val res = applyTransform(spark, df, t, deferred)
        if (gateOps(t.op) && t.name.isEmpty && spec.metricsSink.isDefined)
          gateFrames += ((s"gate_${t.op}_$i", df, res))
        res
    }

    // dataset-level assertions gate the PUBLISH: one aggregate-only job
    // over the transformed result BEFORE any sink writes — a failed SLA
    // aborts the run with the exact failing expressions, and nothing
    // lands. (Aggregate expressions only; a scalar expression here is a
    // row-level check and belongs in `checks`.)
    if (spec.assertions.nonEmpty) {
      val aggs = spec.assertions.zipWithIndex.map { case (a, i) =>
        expr(a).cast("boolean").as(s"__a_$i")
      }
      val row = out.agg(aggs.head, aggs.tail: _*).head()
      val failed = spec.assertions.zipWithIndex.collect {
        case (a, i) if row.isNullAt(i) || !row.getBoolean(i) => a
      }
      if (failed.nonEmpty) throw new IllegalStateException(
        s"pipeline '${spec.name}': assertions failed, nothing published — " +
          failed.mkString("[", "; ", "]"))
    }

    spec.sink.foreach(write(out, _))
    spec.quarantine.foreach(write(quarantined, _))
    // branches (ADF "new branch"): side flows forked from the validated
    // source, each with its own transform chain and sink. They publish
    // AFTER the assertion gate (above) so the run-level SLA covers every
    // output, and BEFORE the watermark advances (below) so a failed
    // branch write leaves the mark untouched and the rerun re-reads.
    // Ordering also protects the check metrics: the main sink/quarantine
    // actions above latch the Observation on the FULL plan first, so a
    // branch carrying a truncating op (limit/sample) can never pre-latch
    // partial counts — the hazard documented at `observed` below.
    spec.branches.foreach { b =>
      write(b.transforms.foldLeft(passed0)((df, t) => applyTransform(spark, df, t, deferred)),
        b.sink)
    }
    // Deferred state publications (minhash_dedup state_path appends) run
    // only once EVERY sink above committed: a failed write leaves the
    // dedup state untouched, so the rerun re-clusters the same batch
    // against the same published corpus instead of double-appending.
    deferred.foreach(_())
    // Advance the high-water mark AFTER the sinks committed (a failed
    // write must not skip data on retry — sinks are idempotent
    // overwrites, the mark only moves on success). The max runs as a
    // dedicated aggregate-only job over the rows read THIS run: column-
    // pruned scan + map-side max, the cheapest correct probe. No new
    // rows (empty filtered read → NULL max) leaves the mark in place.
    // The mark is rendered to a string BY SPARK (cast in the session
    // timezone) — java.sql.Timestamp.toString would render in the JVM
    // default TZ while the re-read CAST parses in the session TZ,
    // shifting the mark by the offset between them (re-ingest or skip).
    spec.source.incremental.foreach { inc =>
      val top = src.agg(max(col(inc.watermarkCol)).cast("string")).head()
      if (!top.isNullAt(0))
        IncrementalState.write(inc.statePath, top.getString(0),
          src.schema(inc.watermarkCol).dataType.sql)
    }
    // Metrics ride the sink write via observe() — no separate aggregate
    // job when a sink ran. Fallbacks to a dedicated (cheap, aggregate-only)
    // job: no sink wrote the observed plan, or a TRUNCATING operator sat
    // above the observe node. The latter matters beyond the `limit` op:
    // surrogate_key's bound probe and ann_topk's one-query-row probe run
    // limit(...).count() actions at BUILD time on the observed plan, and
    // Spark's Observation latches on the FIRST completed action containing
    // the node — a truncated probe would latch partial (wrong) counts.
    val observed = (spec.sink.isDefined || spec.quarantine.isDefined) &&
      !spec.transforms.exists(t => truncatingOps(t.op))
    // Per-gate kill rates, AFTER the sinks: the dropping gates' internal
    // checkpoints (minhash_dedup's cluster labels) are materialized by
    // now, so the rows-out count reads cheap checkpointed blocks, and the
    // rows-in count is an aggregate-only (empty-ReadSchema) pass. Rendered
    // in check-metric terms: pass = rows retained, fail = rows killed.
    val gateMetrics = gateFrames.result().map { case (g, inF, outF) =>
      val nIn = inF.count()
      val nOut = outF.count()
      CheckMetric(g, nOut, nIn - nOut)
    }
    val metrics = metricsOf(observed) ++ gateMetrics
    // run-metadata sink: one row per check, stamped with the run time.
    // The counts were already collected (observe or fallback) — this is a
    // driver-local write of |checks| rows, not another pass over data.
    spec.metricsSink.foreach { ms =>
      import spark.implicits._
      write(metrics.toDF()
        .select(lit(spec.name).as("pipeline"),
          current_timestamp().as("run_ts"),
          col("check"), col("passCnt").as("pass_cnt"),
          col("failCnt").as("fail_cnt")), ms)
    }
    RunResult(spec, out, quarantined, metrics)
  }

  /** §3.2 EP3 — the same YAML executed as a Structured Streaming query.
    *
    * Checks become stream-side filters (scalar predicates only — `unique`
    * needs a window and `ref` a dim join, neither a single-pass stream
    * op); the streamable transform prefix builds the streaming plan (a
    * `join` op against a batch source is a stream-static join); trailing
    * `sort`/`limit` — not streaming operators by nature — apply to the
    * captured result after the run. Execution is AvailableNow via
    * StreamOps.runToBatch: a REAL MicroBatchExecution with checkpoint +
    * state store, the result read back as a batch DataFrame. At cluster
    * scale the same plan runs unbounded with a real trigger; nothing here
    * is test-only plumbing. Metrics are not collected in streaming mode
    * (they would be per-batch observations, not one run-level row). */
  private def runStreaming(spark: SparkSession, spec: PipelineSpec): RunResult = {
    require(spec.metricsSink.isEmpty,
      "metrics_sink is batch-only — streaming metrics would be per-batch " +
        "observations, not one run-level row set")
    require(spec.branches.isEmpty,
      "branches are batch-only — fork a stream by declaring one streaming " +
        "pipeline per output (each needs its own checkpoint lifecycle)")
    require(spec.assertions.isEmpty,
      "assertions are batch-only — a run-level SLA gate has no single " +
        "evaluation point on an unbounded stream")
    spec.checks.foreach(c => require(c.typ != "unique" && c.typ != "ref",
      s"check ${c.checkName}: '${c.typ}' is not supported in streaming mode"))
    val nTail = spec.transforms.reverse.takeWhile(t => Set("sort", "limit")(t.op)).size
    val (streamable, tail) = spec.transforms.splitAt(spec.transforms.size - nTail)
    streamable.foreach(t => require(!Set("sort", "limit")(t.op),
      s"streaming mode: '${t.op}' only allowed at the pipeline tail"))
    streamable.foreach(t => require(t.op != "asof_join",
      "streaming mode: 'asof_join' is batch-only (use a stream-stream " +
        "interval join for streaming time alignment)"))
    streamable.foreach(t => require(!Set("pivot", "surrogate_key", "merge",
      "shuffle", "diff", "sessionize")(t.op),
      s"streaming mode: '${t.op}' is batch-only (pivot needs a finished " +
        "group; a global row_number window has no streaming equivalent; " +
        "merge anti-joins the full base; shuffle is a global sort; diff " +
        "full-outer-joins two complete snapshots; sessionize's running " +
        "window has no streaming equivalent — use session_window on the " +
        "stream instead)"))
    // §2.L10 — streaming incremental dedup gates: `minhash_dedup` and
    // `semdedup` WITH `state_path` are allowed in streaming mode,
    // executed PER MICRO-BATCH against the published survivor state
    // (read state → cluster the batch against it → emit survivors →
    // append them to state). Batches run sequentially in one
    // MicroBatchExecution, so batch N sees every prior batch's published
    // corpus — the exact cross-run incremental semantics of the batch
    // ops, applied at micro-batch granularity. Without state a gate has
    // no cross-batch memory (each batch would dedup only against
    // itself) — rejected rather than silently weaker.
    // Ops AFTER the first gate also run per-batch, so they must be
    // row-local or a further stateful gate (per-batch application ≡
    // streaming application); whole-corpus ops stay ahead of the gate or
    // in another pipeline.
    val gateOpSet = Set("minhash_dedup", "semdedup")
    // decontaminate also runs per-batch, but STATELESS-exactly: the
    // verdict is per-DOC against a static broadcast benchmark, and a doc
    // is one row, so per-batch application IS the batch answer — it just
    // isn't expressible as a pure stream transform (explode + distinct +
    // join-back on the stream side)
    val perBatchEligible = gateOpSet + "decontaminate"
    val gateIdx = streamable.indexWhere(t => perBatchEligible(t.op))
    val (streamPrefix, perBatchOps) =
      if (gateIdx < 0) (streamable, Nil) else streamable.splitAt(gateIdx)
    perBatchOps.filter(t => gateOpSet(t.op)).foreach { g =>
      require(g.statePath.isDefined,
        s"streaming mode: '${g.op}' needs `state_path` — without " +
          "published survivor state each micro-batch would dedup only " +
          "against itself, not the corpus seen so far")
      require(spec.outputMode.forall(_ == "append"),
        s"streaming mode: '${g.op}' requires append output (each " +
          "batch's survivors are emitted exactly once; update/complete " +
          "re-emissions would re-enter the dedup gate)")
    }
    val rowLocal = Set("select", "rename", "drop", "derive", "filter",
      "cast", "flatten", "tokenize", "redact", "quality_filter")
    perBatchOps.drop(1).foreach(t =>
      require(rowLocal(t.op) || perBatchEligible(t.op),
        s"streaming mode: '${t.op}' cannot follow a dedup gate — " +
          "downstream of the gate runs per micro-batch, so only row-local " +
          s"ops (${rowLocal.toSeq.sorted.mkString(", ")}) or a further " +
          "per-batch gate keep streaming semantics; move it ahead of the gate"))
    streamPrefix.foreach(t => require(
      !Set("tfidf", "minhash_dedup", "semdedup", "ann_topk", "decontaminate",
        "mix", "span_dedup")(t.op),
      s"streaming mode: '${t.op}' is batch-only (idf / LSH or semantic " +
        "clustering / top-k / the contaminated-id set / the mixture counts " +
        "/ the span election all need the whole corpus; `tokenize` and " +
        "`quality_filter` stream fine, and the dedup gates stream with " +
        "`state_path`)"))

    // Transforms apply to the PASS side only — batch parity: the batch
    // quarantine keeps pre-transform rows (+ failed_checks), and a select
    // here would silently strip the reasons column.
    def mk(pass: Boolean)(ss: SparkSession): DataFrame = {
      val src = readStream(ss, spec.source)
      if (spec.checks.isEmpty) {
        if (pass) streamPrefix.foldLeft(src)((df, t) => applyTransform(ss, df, t))
        else src.where(lit(false)) // empty quarantine stream
      } else {
        val preds = spec.checks.map(checkPredicate(ss, src, _))
        val allPass = preds.reduce(_ && _)
        if (pass) streamPrefix.foldLeft(src.where(allPass))(
          (df, t) => applyTransform(ss, df, t))
        else src.where(!allPass) // quarantine says WHY, same as batch
          .withColumn("failed_checks",
            failedChecksOf(preds.zip(spec.checks.map(_.checkName))))
      }
    }

    // ACID streaming ingest: a graft_table sink commits PER MICRO-BATCH,
    // each commit stamped with a (appId, batchId) txn action — a replayed
    // batch (crash between table commit and checkpoint advance) finds its
    // txn in the log and no-ops, the lakehouse exactly-once protocol.
    val tableSink = spec.sink.filter(_.format == "graft_table")
    tableSink.foreach(s => require(s.mode == "append",
      "streaming mode: graft_table sink is per-micro-batch ACID append " +
        s"(txn-idempotent); mode '${s.mode}' is batch-only — merge/delete " +
        "recompute file rewrites against a snapshot and belong in a batch run"))
    // a `limit` tail applies to the CAPTURED result after the stream ends,
    // but the table committed every micro-batch before it — the same YAML
    // in batch mode would write only the limited rows. Divergence must be
    // loud, not silent (a `sort` tail is harmless: tables are unordered).
    tableSink.foreach(_ => require(!tail.exists(_.op == "limit"),
      "streaming mode: a `limit` tail is incompatible with a graft_table " +
        "sink — the table commits every micro-batch before the tail " +
        "applies, so it would receive ALL rows while batch mode writes " +
        "only the limited ones; drop the limit or run in batch mode"))
    // appId is stable across replays WITHIN this run and fresh across
    // runs (a rerun is a new job whose batch 0 must append, not be
    // skipped as last run's). Production runs with a durable checkpoint
    // pin `options.txn_app_id` so recovery after a process death still
    // dedupes against the previous process's commits.
    val txnAppId = tableSink.flatMap(_.options.get("txn_app_id"))
      .getOrElse(java.util.UUID.randomUUID().toString)
    // per-micro-batch commits grow the log one version per batch — seal a
    // checkpoint every N batches so snapshot/lastTxn replay stays O(N)
    // instead of O(stream lifetime). 10 is Delta's cadence.
    val ckptEvery = tableSink.flatMap(_.options.get("checkpoint_interval"))
      .map { v =>
        val n = scala.util.Try(v.toInt).getOrElse(throw
          new IllegalArgumentException(
            s"sink.options.checkpoint_interval: must be an integer, got '$v'"))
        require(n > 0,
          s"sink.options.checkpoint_interval: must be > 0, got $n")
        n
      }.getOrElse(10)

    // The gate + its row-local suffix run inside foreachBatch; each batch
    // publishes its state advance (and its ACID table commit) only AFTER
    // the batch output committed (same publish-then-advance recovery
    // contract as the batch runner — see StreamOps.runToBatch's perBatch
    // doc).
    val perBatch: (DataFrame, Long) => (DataFrame, () => Unit) = (batch, id) => {
      val bs = batch.sparkSession // the micro-batch's own (stream) session
      val deferred = scala.collection.mutable.Buffer.empty[() => Unit]
      val o = perBatchOps.foldLeft(batch)(
        (df, t) => applyTransform(bs, df, t, deferred))
      // cache only when two consumers exist (batch-dir capture + table
      // staging) — otherwise the transform chain would run twice per batch
      val oc = if (tableSink.isDefined) o.persist() else o
      (oc, () => {
        deferred.foreach(_())
        tableSink.foreach { s =>
          val tRoot = graftRoot(bs, Some(s.path).filter(_.nonEmpty), s.table)
          graft.tables.GraftTable.appendBatch(bs, oc, tRoot, txnAppId, id,
            evolve = s.evolve.contains("add_nulls"))
          if ((id + 1) % ckptEvery == 0)
            graft.tables.GraftTable.checkpoint(tRoot)
          // the per-batch small-file check is log metadata only; the
          // rewrite itself fires only past the sprawl threshold
          if (s.options.get("auto_compact").contains("true"))
            graft.tables.GraftTable.autoCompact(bs, tRoot)
        }
        if (tableSink.isDefined) oc.unpersist()
      })
    }

    val outMode = spec.outputMode.getOrElse("append")
    val streamed =
      if (perBatchOps.isEmpty && tableSink.isEmpty)
        StreamOps.runToBatch(spark, s"ep_${spec.name}", mk(pass = true), outMode)
      else
        StreamOps.runToBatch(spark, s"ep_${spec.name}", mk(pass = true), outMode, perBatch)
    val passed = tail.foldLeft(streamed)((df, t) => applyTransform(spark, df, t))
    val quarantined = spec.quarantine match {
      case Some(q) =>
        val b = StreamOps.runToBatch(spark, s"ep_${spec.name}_q", mk(pass = false), "append")
        write(b, q); b
      case None => passed.limit(0)
    }
    // graft_table already committed per micro-batch above — an end-of-run
    // write would double-append every row
    spec.sink.filterNot(_.format == "graft_table").foreach(write(passed, _))
    RunResult(spec, passed, quarantined, Nil)
  }

  /** §2.A9 — streaming file source from the same SourceSpec vocabulary,
    * plus the message-bus (`format: kafka`) pass-through contract. */
  /** graft_table addressing: a root `path`, or a catalog `table` name
    * (db.tbl) resolved through the graft catalog's warehouse — the YAML
    * face of [[graft.catalog.GraftCatalog]], so configs name tables
    * exactly like SQL does instead of copy-pasting path strings. */
  private def graftRoot(spark: SparkSession, path: Option[String],
      table: Option[String]): String =
    path.filter(_.nonEmpty).getOrElse(
      graft.catalog.GraftCatalog.tablePath(spark, table.getOrElse(
        throw new IllegalArgumentException(
          "graft_table needs `path` or `table`"))))

  def readStream(spark: SparkSession, s: SourceSpec): DataFrame = {
    require(s.incremental.isEmpty,
      "incremental watermark state is batch-only — a streaming source " +
        "already tracks its progress in the query checkpoint")
    if (s.format == "kafka") {
      // YAML → connector translation is a verbatim options pass-through
      // (kafka.bootstrap.servers, subscribe/subscribePattern/assign,
      // startingOffsets, maxOffsetsPerTrigger, …). The connector jar
      // (spark-sql-kafka-0-10) does NOT ship in this offline image, so
      // the provider lookup is guarded with an actionable error; the
      // translation itself — and the downstream pipeline semantics over
      // kafka's fixed record schema — are spec-tested against a
      // MemoryStream stand-in (StreamingOpsSpec).
      try return spark.readStream.format("kafka").options(s.options).load()
      catch {
        case e: Exception if Option(e.getMessage)
            .exists(_.contains("Failed to find data source")) =>
          throw new IllegalStateException(
            "kafka source: the Kafka connector jar (spark-sql-kafka-0-10 + " +
              "kafka-clients) is not on the classpath — add it to the " +
              "cluster's jars to use `format: kafka`; the YAML contract " +
              "itself is validated and translated correctly", e)
      }
    }
    if (s.format == "graft_table") {
      // the table as a STREAMING source (GraftTableStreamSource): offsets
      // are commit versions, schema comes from the log, options
      // startingVersion / skipChangeCommits pass through. The query
      // checkpoint + commit log give exactly-once table-to-table
      // pipelines — the streaming dual of the changesFrom batch feed.
      return spark.readStream
        .format("graft.tables.GraftTableStreamSource")
        .options(s.options)
        .option("path", graftRoot(spark, s.path, s.table)).load()
    }
    val path = s.path.orElse(s.table.map(t => s"${t}.parquet")).getOrElse(
      throw new IllegalArgumentException("source needs path or table"))
    val ddl = s.schema.getOrElse(throw new IllegalArgumentException(
      "streaming sources must declare a schema (file-stream inference is " +
        "disabled) — use `schema: auto` to infer from the files at start"))
    // `schema: auto`: probe the batch reader's view of the same path ONCE at
    // stream construction. A hard-coded schema string silently mis-reads a
    // drifted physical type (the round-13 events INT64-micros regression);
    // auto keeps config pipelines correct across driver-side re-generation.
    // One footer read on the driver — negligible at any scale.
    val schema =
      if (ddl.trim.equalsIgnoreCase("auto")) {
        val probe = spark.read.options(s.options)
        try (s.format match {
          case "parquet" => probe.parquet(path)
          case "orc"     => probe.orc(path)
          case "csv"     => probe.option("inferSchema", "true").csv(path)
          case "json"    => probe.json(path)
          case other => throw new IllegalArgumentException(
            s"source format '$other' is not streamable")
        }).schema
        catch {
          // the normal bootstrap for a file stream is "directory exists,
          // files arrive later" — the probe then fails with a bare
          // 'unable to infer schema'. Say what `auto` actually requires.
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
            throw new IllegalArgumentException(
              s"`schema: auto` needs at least one readable file at $path " +
                "when the stream STARTS (the probe reads the batch view " +
                "once) — declare a DDL schema for empty-at-start sources", e)
        }
      } else StructType.fromDDL(ddl)
    val r = spark.readStream.schema(schema).options(s.options)
    s.format match {
      case "parquet" => r.parquet(path)
      case "orc"     => r.orc(path)
      case "csv"     => r.csv(path)
      case "json"    => r.json(path)
      case other => throw new IllegalArgumentException(
        s"source format '$other' is not streamable")
    }
  }

  // -- sources (§2.A) -------------------------------------------------------
  def read(spark: SparkSession, s: SourceSpec): DataFrame = {
    // lazy: jdbc sources address their data via options (url/dbtable),
    // not a filesystem path
    lazy val path = s.path.orElse(s.table.map(t => s"${t}.parquet")).getOrElse(
      throw new IllegalArgumentException("source needs path or table"))
    val base = s.format match {
      case "parquet" =>
        // any drift policy needs evolved files MERGED: allow conforms the
        // union, strict COMPARES the union (otherwise the detected shape
        // depends on which file Spark samples the schema from). User
        // options still win (set after). Scale note: mergeSchema reads
        // every file's footer — at 100 TB the catalog (or a declared
        // union schema via the `schema` + user mergeSchema=false) is the
        // cheap path; the policy semantics stay identical.
        val r = if (s.drift.isDefined)
          spark.read.option("mergeSchema", "true") else spark.read
        r.options(s.options).parquet(path)
      case "orc" => // self-describing like parquet; same drift contract
        // (ORC footers carry the schema, mergeSchema unions evolved files)
        val r = if (s.drift.isDefined)
          spark.read.option("mergeSchema", "true") else spark.read
        r.options(s.options).orc(path)
      case "binaryfile" => // whole-blob multimodal ingest: one row per
        // file (path, modificationTime, length, content). The connector
        // never decodes — blobs stay opaque bytes until a downstream
        // transform (the mm* ops) asks. Scale note: each blob must fit in
        // one row (spark.sql.sources.binaryFile.maxLength caps at 2 GB);
        // shard larger media at the edge. pathGlobFilter/
        // recursiveFileLookup ride through verbatim.
        spark.read.format("binaryFile").options(s.options).load(path)
      case "csv" =>
        val r = spark.read.options(s.options)
        s.schema.map(ddl => r.schema(StructType.fromDDL(ddl))).getOrElse(r).csv(path)
      case "json" =>
        val r = spark.read.options(s.options)
        s.schema.map(ddl => r.schema(StructType.fromDDL(ddl))).getOrElse(r).json(path)
      case "xml" => // ADF copy-activity parity via Spark 4's BUILT-IN XML
        // datasource (ships in spark-sql since 4.0 — no external jar).
        // `rowTag` names the repeating record element; a declared schema
        // rides the same contract as csv/json. Batch-only here (the
        // streaming source set stays parquet/csv/json/kafka).
        val r = spark.read
          .option("rowTag", s.options.getOrElse("rowTag", "ROW"))
          .options(s.options)
        s.schema.map(ddl => r.schema(StructType.fromDDL(ddl))).getOrElse(r)
          .format("xml").load(path)
      case "graft_table" => // ACID commit-log table: snapshot-isolated
        // read of the latest version, options.versionAsOf for time
        // travel, or options.changesFrom (exclusive; + changesTo) for the
        // incremental change feed — rows added after that version,
        // addressed by root path or by graft-catalog `table:` name
        val path = graftRoot(spark, s.path, s.table)
        // stamped _commit_version, OPTIMIZE rewrites skipped. Schema
        // comes from the log (parse-time validation rejected a declared
        // one). changesFrom composes with `incremental` on the
        // _commit_version column for cross-run catch-up.
        // rangeCol+rangeLo+rangeHi: log-level file skipping — only files
        // whose logged min/max can hold a matching row are ever listed
        // (readRange also applies the residual row filter)
        // one resolved snapshot selector: versionAsOf directly, or
        // timestampAsOf → the newest commit at or before it (naive
        // timestamp = UTC, the convention every literal here follows;
        // all-digits = epoch millis). Parse-time validation enforced
        // mutual exclusion.
        val asOfVer: Option[Long] = s.options.get("versionAsOf").map(_.toLong)
          .orElse(s.options.get("timestampAsOf").map { t =>
            val ms =
              if (t.forall(_.isDigit)) t.toLong
              else {
                val ldt =
                  if (t.contains(" ") || t.contains("T"))
                    java.time.LocalDateTime.parse(t.replace(' ', 'T'))
                  else java.time.LocalDate.parse(t).atStartOfDay()
                ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
              }
            graft.tables.GraftTable.versionAtTimestamp(path, ms)
          })
        (s.options.get("changesFrom"), s.options.get("rangeCol")) match {
          case (Some(cf), _)
            if s.options.exists { case (k, v) =>
              k.equalsIgnoreCase("withImages") && v.equalsIgnoreCase("true") } =>
            // FULL feed: _change_type-classified pre/post images (cdf/
            // sidecars; appends deliver as inserts)
            graft.tables.GraftTable.changesWithImages(spark, path,
              cf.toLong, s.options.get("changesTo").map(_.toLong))
          case (Some(cf), _) => graft.tables.GraftTable.changes(spark, path,
            cf.toLong, s.options.get("changesTo").map(_.toLong))
          case (None, Some(rc)) =>
            def bound(k: String): Any = {
              val v = s.options(k)
              scala.util.Try(v.toLong).getOrElse(
                scala.util.Try(v.toDouble).getOrElse(v: Any))
            }
            graft.tables.GraftTable.readRange(spark, path, rc,
              bound("rangeLo"), bound("rangeHi"), asOfVer)
          case _ => graft.tables.GraftTable.read(spark, path, asOfVer)
        }
      case "jdbc" => // §2.A5: options pass through verbatim — url/dbtable/
        // driver, plus partitionColumn/lowerBound/upperBound/numPartitions
        // for the parallel scan a cluster-scale read requires (one
        // connection per partition). Executed against in-process Derby by
        // a5_jdbc_roundtrip and ConfigPipelineSpec.
        spark.read.format("jdbc").options(s.options).load()
      case "kafka" => throw new IllegalArgumentException(
        "kafka sources are streaming-only here (`mode: streaming`) — a " +
          "batch kafka scan re-reads the topic every run; parse-time " +
          "validation should have caught this (kafka in a transform " +
          "`table:` or check `ref_table:` is not supported)")
    }
    // schema drift policy (see SourceSpec): project under the DECLARED
    // names and types; strict also rejects any column-level drift
    val conformed = s.drift.fold(base) { policy =>
      val c = Conform(base, StructType.fromDDL(s.schema.get))
      if (policy == "strict") c.exact("source schema drift under strict policy")
      else c.project(s"source $path drift") // allow
    }
    // incremental high-water mark: a plain typed comparison that pushes
    // down into the scan (parquet stats pruning / jdbc WHERE); no state
    // file yet = the initial full load.
    s.incremental.fold(conformed) { inc =>
      IncrementalState.read(inc.statePath).fold(conformed) { case (v, t) =>
        conformed.where(
          col(inc.watermarkCol) > expr(s"CAST('${v.replace("'", "''")}' AS $t)"))
      }
    }
  }

  // -- validation (§2.C) ----------------------------------------------------
  /** One boolean Column per check (null-safe: null comparisons fail the
    * check rather than vanishing). */
  def checkPredicate(spark: SparkSession, df: DataFrame, c: CheckSpec): Column = {
    def cl: Column = col(c.col.getOrElse(
      throw new IllegalArgumentException(s"check ${c.checkName}: col required")))
    val p = c.typ match {
      case "not_null" => cl.isNotNull
      case "range"    => cl.between(c.lo.get, c.hi.get)
      case "in_set"   => cl.isin(c.values: _*)
      case "regex"    => cl.rlike(c.pattern.get)
      case "str_len"  => length(cl).between(c.lo.get, c.hi.get)
      case "cross"    => expr(c.expr.get)
      case "unique"   =>
        // window count per key == 1; one extra shuffle by the key only
        import org.apache.spark.sql.expressions.Window
        count(lit(1)).over(Window.partitionBy(cl)) === 1
      case "ref" => throw new IllegalStateException(
        "ref checks join a dim table — handled in validate(), not as a scalar predicate")
      case other => throw new IllegalArgumentException(s"unknown check type $other")
    }
    coalesce(p, lit(false))
  }

  /** The quarantine reason column from (flag, name) pairs: names of
    * failed checks in declaration order (shared by the batch flag-column
    * path and the streaming predicate path). */
  private def failedChecksOf(flags: Seq[(Column, String)]): Column =
    array_compact(array(flags.map { case (p, n) => when(!p, lit(n)) }: _*))

  private def failedChecksCol(checks: Seq[CheckSpec]): Column =
    failedChecksOf(checks.zipWithIndex.map { case (c, i) =>
      col(s"__chk_$i") -> c.checkName
    })

  /** Split + metrics in one pass: add all check booleans, conjunction
    * splits rows, the same booleans aggregate into per-check counts.
    *
    * Metrics are attached to the plan with `observe()` (a CollectMetrics
    * node above the check projection): when a sink write executes the
    * plan, the per-check counts come back on that SAME action — one scan
    * for split + metrics instead of a dedicated aggregate job. The
    * returned thunk takes "did a full-plan action already run?": true →
    * read the observation; false → run the (aggregate-only, map-side
    * combined) fallback job. */
  def validate(spark: SparkSession, df: DataFrame, checks: Seq[CheckSpec])
      : (DataFrame, DataFrame, Boolean => Seq[CheckMetric]) = {
    if (checks.isEmpty) return (df, df.limit(0), _ => Nil)

    // `ref` checks need a join, not a scalar predicate: fold them in first
    // as boolean columns via a broadcast left join on the dim key.
    var work = df
    val flags = checks.zipWithIndex.map { case (c, i) =>
      val flag = s"__chk_$i"
      c.typ match {
        case "ref" =>
          val key = c.col.get
          val dim = read(spark, c.refTable.get)
            .select(col(c.refCol.get).as(s"__ref_$i")).distinct()
          work = work.join(broadcast(dim), col(key) === col(s"__ref_$i"), "left")
            .withColumn(flag, col(s"__ref_$i").isNotNull)
            .drop(s"__ref_$i")
        case _ =>
          work = work.withColumn(flag, coalesce(checkPredicate(spark, work, c), lit(false)))
      }
      flag
    }
    val aggExprs = count(lit(1)).as("__n") +:
      flags.map(f => sum(col(f).cast("long")).as(s"${f}_pass"))
    val obs = Observation()
    val observed = work.observe(obs, aggExprs.head, aggExprs.tail: _*)
    val allPass = flags.map(col).reduce(_ && _)
    val passed = observed.where(allPass).drop(flags: _*)
    // quarantine rows say WHY (ADF Assert parity): `failed_checks` lists
    // the names of every check the row failed, in declaration order —
    // computed from the same fused flag projection, zero extra passes.
    val quarantined = observed.where(!allPass)
      .withColumn("failed_checks", failedChecksCol(checks))
      .drop(flags: _*)

    def toMetrics(n: Long, passOf: Int => Long): Seq[CheckMetric] =
      checks.zipWithIndex.map { case (c, i) =>
        val p = passOf(i)
        CheckMetric(c.checkName, p, n - p)
      }
    val metricsOf: Boolean => Seq[CheckMetric] = {
      case true =>
        val m = obs.get // already complete: the sink action ran
        toMetrics(m("__n").asInstanceOf[Long],
          i => Option(m(s"__chk_${i}_pass")).map(_.asInstanceOf[Long]).getOrElse(0L))
      case false =>
        val row = work.agg(aggExprs.head, aggExprs.tail: _*).head()
        toMetrics(row.getAs[Long]("__n"),
          i => Option(row.getAs[Long](s"__chk_${i}_pass")).getOrElse(0L))
    }
    (passed, quarantined, metricsOf)
  }

  // -- transforms (§2.B, §2.D) ---------------------------------------------
  /** Sort-order entry: "expr DESC"/"expr ASC" (any case) or a bare
    * expression. NOT `expr(s)` alone — Spark's expression parser reads
    * "n_name DESC" as `n_name AS DESC` (an alias!), silently sorting
    * ascending. */
  private[graft] def sortExpr(s: String): Column = {
    val t = s.trim
    val lower = t.toLowerCase
    if (lower.endsWith(" desc")) expr(t.dropRight(5)).desc
    else if (lower.endsWith(" asc")) expr(t.dropRight(4)).asc
    else expr(t)
  }

  /** Ops whose applyTransform case runs a TRUNCATED build-time action
    * (limit(...).count() probes) over the incoming plan. Keep in sync
    * with the cases below: a probe over the observed plan latches the
    * check-metrics Observation with partial counts, so run() must fall
    * back to the dedicated metrics job whenever one of these is present.
    * (merge's duplicate-key probe is exempt ONLY because it probes the
    * freshly-read change set, never the observed plan.) */
  private[pipeline] val truncatingOps = Set("limit", "surrogate_key", "ann_topk")

  /** Shared output-name collision guard: fails fast instead of letting
    * withColumn/select silently overwrite an unrelated column. */
  private def requireFreshColumn(df: DataFrame, out: String, op: String): Unit =
    require(!df.columns.contains(out),
      s"$op: output column '$out' already exists — pick another `name`")

  /** `deferred` collects post-publish state writes (minhash_dedup's
    * cross-run state append); callers that can't publish state (the
    * streaming path, which rejects stateful batch ops anyway) may omit
    * it — registrations land in a throwaway buffer and never run. */
  def applyTransform(spark: SparkSession, df: DataFrame, t: TransformSpec,
      deferred: scala.collection.mutable.Buffer[() => Unit] =
        scala.collection.mutable.Buffer.empty): DataFrame =
    t.op match {
      case "select" => df.selectExpr(t.cols: _*)
      case "rename" => // cols as ["old:new", ...]
        t.cols.foldLeft(df) { (d, spec) =>
          val Array(from, to) = spec.split(":", 2)
          d.withColumnRenamed(from, to)
        }
      case "drop"   => df.drop(t.cols: _*)
      case "derive" => df.withColumn(t.name.get, expr(t.expr.get))
      case "filter" => df.where(expr(t.expr.get))
      case "cast"   => df.withColumn(t.name.orElse(t.cols.headOption).get,
        col(t.cols.head).cast(t.to.get))
      case "join" =>
        val right0 = read(spark, t.table.get)
        val right = if (t.broadcast) broadcast(right0) else right0
        val how = t.how.getOrElse("inner")
        if (t.on.nonEmpty) df.join(right, t.on, how)
        else df.join(right, expr(t.expr.getOrElse(
          throw new IllegalArgumentException("join needs `on` cols or an `expr` condition"))), how)
      case "limit" => df.limit(t.expr.get.toInt)
      case "sort"  => df.orderBy(t.cols.map(sortExpr): _*)
      case "shuffle" => // deterministic corpus shuffle (g5 through the
        // config surface): reorder rows by a seeded md5 of the key
        // columns — a pseudorandom permutation that is reproducible
        // across runs AND engines (md5 is engine-neutral, unlike
        // xxhash64 / rand()). Spark executes it as a range-partitioned
        // global sort on a uniform key: balanced partitions by
        // construction, no skew, restart-stable. A new seed = a new
        // epoch order. `cols` must be a unique row key — duplicate keys
        // would collide to the same slot and make the permutation
        // ambiguous across engines. Each key column is md5'd
        // INDEPENDENTLY before the outer hash: a raw concat_ws(":")
        // would make ["a:b","c"] collide with ["a","b:c"] and silently
        // DROP null columns (["a",NULL] ≡ ["a"]). Per-column encoding is
        // a prefix code — "N" for NULL, "V"+md5hex (fixed 32 chars)
        // otherwise — so the concatenation is injective on the key tuple
        // and NULL is a distinct value, not an erasure.
        require(t.cols.nonEmpty,
          "shuffle needs `cols: [keyCols...]` (a unique row key)")
        val shSeed = t.seed.getOrElse(throw new IllegalArgumentException(
          "shuffle needs `seed` (an unseeded shuffle is not reproducible)"))
        val encoded = t.cols.map { c =>
          when(col(c).isNull, lit("N"))
            .otherwise(concat(lit("V"), md5(col(c).cast("string"))))
        }
        df.orderBy(md5(concat(lit(shSeed.toString + ":") +: encoded: _*)))
      case "aggregate" => // §2.E through the config surface
        require(t.aggs.nonEmpty, "aggregate needs `aggs` expressions")
        val aggs = t.aggs.map(expr)
        if (t.cols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
        else df.groupBy(t.cols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      case "union" => // §2.H1: by-name union — positional would silently
        // misalign when the other source's column order drifts
        df.unionByName(read(spark, t.table.getOrElse(
          throw new IllegalArgumentException("union needs `table`"))))
      case "dedup" => // §2.K1/K2 through the config surface
        if (t.cols.isEmpty) df.distinct()
        else {
          // deterministic survivor (first row under orderBy per key) —
          // bare dropDuplicates keeps a partition-order-dependent row
          require(t.orderBy.nonEmpty,
            "dedup with `cols` needs `orderBy` for a deterministic survivor")
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(t.cols.map(col): _*).orderBy(t.orderBy.map(sortExpr): _*)
          df.withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1).drop("__rn")
        }
      case "asof_join" => // §2.D7 through the config surface (batch only):
        // native whole-operator as-of join (graft.plans.AsOfJoinExec) —
        // each side shuffles once on its key, then one merge pass
        val right0 = read(spark, t.table.getOrElse(
          throw new IllegalArgumentException("asof_join needs `table`")))
        val filtered = t.where.map(w => right0.where(expr(w))).getOrElse(right0)
        val right = if (t.cols.nonEmpty) filtered.select(t.cols.map { spec =>
            spec.split(":", 2) match {
              case Array(from, to) => col(from).as(to)
              case _               => col(spec)
            }
          }: _*) else filtered
        def pair(spec: String, what: String): (String, String) =
          spec.split(":", 2) match {
            case Array(l, r) => (l, r)
            case _ => throw new IllegalArgumentException(
              s"asof_join $what: expected 'left:right', got '$spec'")
          }
        require(t.on.nonEmpty, "asof_join needs `on` key pairs 'leftKey:rightKey'")
        val (lKeys, rKeys) = t.on.map(pair(_, "on")).unzip
        val (lTs, rTs) = pair(t.expr.getOrElse(
          throw new IllegalArgumentException(
            "asof_join needs `expr: leftTs:rightTs`")), "expr")
        graft.plans.AsOf.join(df, right, lKeys, rKeys, lTs, rTs)
      case "flatten" => // §2.B7 through the config surface: one array → rows
        val arr = t.cols.headOption.getOrElse(
          throw new IllegalArgumentException("flatten needs `cols: [arrayCol]`"))
        val out = t.name.getOrElse(arr)
        val outer = t.how.contains("outer")
        // fail fast on output-name collisions — withColumn/select would
        // silently overwrite an unrelated column or emit duplicate names
        require(out == arr || !df.columns.contains(out),
          s"flatten: output column '$out' already exists (and is not the " +
            "flattened array) — pick another `name` or drop it first")
        t.to match {
          case Some(posName) => // positional flatten rides posexplode
            require(!df.columns.contains(posName) || posName == arr,
              s"flatten: position column '$posName' already exists — " +
                "pick another `to` or drop it first")
            require(posName != out,
              s"flatten: `to` and `name` must differ (both '$posName')")
            val keep = df.columns.filterNot(_ == arr).map(col).toSeq
            val gen = if (outer) posexplode_outer(col(arr)) else posexplode(col(arr))
            df.select(keep :+ gen.as(Seq(posName, out)): _*)
          case None =>
            val gen = if (outer) explode_outer(col(arr)) else explode(col(arr))
            val flat = df.withColumn(out, gen)
            if (out == arr) flat else flat.drop(arr) // the array is consumed
        }
      case "pivot" => // §2.E8 through the config surface
        require(t.name.isDefined, "pivot needs `name` (the pivot column)")
        require(t.values.nonEmpty, "pivot needs explicit `values` — implicit " +
          "value discovery is a hidden full scan of the source at scale")
        require(t.aggs.nonEmpty, "pivot needs `aggs` expressions")
        val aggs = t.aggs.map(expr)
        df.groupBy(t.cols.map(col): _*)
          .pivot(t.name.get, t.values).agg(aggs.head, aggs.tail: _*)
      case "unpivot" => // §2.E9 through the config surface (columns → rows)
        require(t.values.nonEmpty, "unpivot needs `values` (the measure columns)")
        df.unpivot(t.cols.map(col).toArray, t.values.map(col).toArray,
          t.name.getOrElse("name"), t.to.getOrElse("value"))
      case "surrogate_key" => // §2.B9 through the config surface: dense ids
        // from a declared total order (Relational.surrogateKeyOf).
        // Single-partition window by design — the op is for bounded
        // dimension tables; fact-side keys should hash natural keys via
        // `derive` (xxhash64) instead. The declared bound turns "oops,
        // pointed it at a fact table" into a fast failure instead of a
        // silent one-task sort.
        require(t.orderBy.nonEmpty,
          "surrogate_key needs `orderBy` for a deterministic sequence")
        val maxRows = t.maxRows.getOrElse(throw new IllegalArgumentException(
          "surrogate_key needs `max_rows`: the global row_number window is " +
            "single-partition, safe only on a declared-bounded input"))
        require(maxRows > 0 && maxRows < Int.MaxValue,
          s"surrogate_key max_rows must be in (0, 2^31), got $maxRows — a " +
            "bound that large is not a dimension table")
        Relational.surrogateKeyOf(df, t.orderBy.map(sortExpr),
          maxRows, t.name.getOrElse("sk"), "surrogate_key")
      case "sessionize" => // gap-based sessionization (ev1 through the
        // config surface, Events.sessionsOf): stamp each row with a
        // per-key session sequence — a new session starts at the key's
        // first row or after a gap > `threshold` in the TIME column's own
        // unit. `cols.head` must be numeric (epoch micros/nanos via a prior
        // `derive` — integer gap math is exact and engine-portable; a raw
        // timestamp would drag zone semantics into the compare); remaining
        // cols break ties.
        require(t.on.nonEmpty, "sessionize needs `on` (the session key)")
        require(t.cols.nonEmpty,
          "sessionize needs `cols`: [time_col, tiebreak...] — time_col is " +
            "the numeric ordering column the gap compares")
        val gap = t.threshold.getOrElse(throw new IllegalArgumentException(
          "sessionize needs `threshold`: the max in-session gap, in the " +
            "time column's own unit"))
        require(gap > 0, s"sessionize threshold must be > 0, got $gap")
        require(df.schema(t.cols.head).dataType.isInstanceOf[
          org.apache.spark.sql.types.NumericType],
          s"sessionize: time column '${t.cols.head}' must be numeric " +
            "(derive epoch micros/nanos first) — got " +
            df.schema(t.cols.head).dataType.sql)
        Events.sessionsOf(df, t.on, t.cols.map(col), lit(gap), "__is_start",
          t.name.getOrElse("session_seq")).drop("__is_start")
      case "diff" => // CDC snapshot diff (d10 through the config surface):
        // df is the OLD snapshot, `table` the NEW one. Emits ONLY the
        // changed rows — the new values for insert/update, the key with
        // nulls for delete, plus a `change` column (rename via `name`) —
        // i.e. exactly the incremental change stream `merge`/`scd2`
        // consume, derived from the full snapshots that are all many
        // upstream systems can export. ONE full-outer equi-join shuffle;
        // the unchanged majority filters out row-locally right after it.
        // `cols` limits which columns count as "changed" (default: every
        // shared non-key column); comparison is null-safe, so NULL→value
        // and value→NULL transitions register as updates.
        require(t.on.nonEmpty, "diff needs `on` key columns")
        val nxt = read(spark, t.table.getOrElse(throw new IllegalArgumentException(
          "diff needs `table` (the new snapshot)")))
        val sharedCmp = nxt.columns.toSeq
          .filter(df.columns.toSet)
          .filterNot(t.on.toSet)
        val cmpCols = if (t.cols.nonEmpty) t.cols else sharedCmp
        require(cmpCols.nonEmpty, "diff: no comparable columns — the two " +
          "snapshots share only the key")
        cmpCols.foreach(c => require(sharedCmp.contains(c),
          s"diff: compare column '$c' must be a shared non-key column " +
            s"(available: ${sharedCmp.mkString(",")})"))
        val changeCol = t.name.getOrElse("change")
        require(!nxt.columns.contains(changeCol), s"diff: output column " +
          s"'$changeCol' collides with a snapshot column — rename via `name`")
        // the old side carries only key + compared columns, renamed so the
        // join output is unambiguous; existence markers beat key-null
        // tests (a legitimately-null key column would misclassify), and
        // the join itself is null-safe (<=>) so a NULL-valued key still
        // MATCHES its counterpart — plain === would emit a spurious
        // delete+insert pair for it and break the OLD+diff=NEW law
        // (Spark plans EqualNullSafe as a normal equi-join key, so this
        // costs nothing)
        val prevSide = df.select((t.on ++ cmpCols)
          .map(c => col(c).as(s"__old_$c")) :+ lit(true).as("__old_ex"): _*)
        val nextSide = nxt.withColumn("__new_ex", lit(true))
        val joinCond = t.on.map(k => nextSide(k) <=> col(s"__old_$k"))
          .reduce(_ && _)
        val anyDiff = cmpCols.map(c => !(col(s"__old_$c") <=> col(c)))
          .reduce(_ || _)
        nextSide.join(prevSide, joinCond, "full_outer")
          .withColumn(changeCol,
            when(col("__old_ex").isNull, lit("insert"))
              .when(col("__new_ex").isNull, lit("delete"))
              .when(anyDiff, lit("update")))
          .where(col(changeCol).isNotNull)
          .select(t.on.map(k => coalesce(col(k), col(s"__old_$k")).as(k)) ++
            nxt.columns.filterNot(t.on.toSet).map(col) :+ col(changeCol): _*)
      case "merge" => // SCD1 upsert/delete + SCD2 effective-dated history,
        // all as plain join algebra (no storage transaction log): one
        // shuffle on the merge key + shuffle-free by-name unions. At
        // 100 TB, bucket the base on the merge key and the joins read
        // co-located buckets.
        require(t.on.nonEmpty, "merge needs `on` key columns")
        val updates = read(spark, t.table.getOrElse(
          throw new IllegalArgumentException("merge needs `table` (the change set)")))
        // SQL MERGE errors when one target row matches several source
        // rows — enforce the same for the row-replacing modes (a
        // duplicate-keyed change set would silently emit every duplicate
        // or double-version a key). One aggregate-only job over the
        // (small) change side; delete is dup-insensitive.
        def requireUniqueKeys(): Unit = {
          val dup = updates.groupBy(t.on.map(col): _*)
            .count().where(col("count") > 1).limit(1).collect()
          require(dup.isEmpty, s"merge: change set has duplicate keys on " +
            s"(${t.on.mkString(",")}), e.g. ${dup.headOption.fold("")(_.toString)} — " +
            "dedup the change set first (op: dedup with orderBy)")
        }
        t.how.getOrElse("upsert") match {
          case "upsert" => // updates win on key match; unmatched inserts
            requireUniqueKeys()
            df.join(updates, t.on, "left_anti").unionByName(updates)
          case "delete" => // remove base rows whose key appears in the set
            df.join(updates.select(t.on.map(col): _*), t.on, "left_anti")
          case "scd2" => // effective-dated history close-out (the ADF
            // "Alter Row" + history-table pattern): a change row whose
            // attributes DIFFER from the key's current version closes
            // that version (valid_to = effective ts, is_current = false)
            // and opens a new current one; an identical change row is a
            // no-op (classic SCD2 versions on actual change, not on
            // every arrival); a change row with an unseen key inserts as
            // a new current row; historical rows pass through untouched.
            // Plan shape: ONE equi-join shuffle on the keys builds the
            // matched frame, and close-out/new-version/no-op rows all
            // come out of a SINGLE pass over it — each joined row emits
            // an array of pre-shaped structs (two when versioning, one
            // otherwise) that one generate (explode) flattens. A
            // filter-per-branch + union would re-execute the join subtree
            // once per branch (Spark does not dedupe union legs) — 3× the
            // dominant cost at scale. Inserts are one anti-join
            // (broadcast when the change set is small); unions are
            // shuffle-free.
            val effCol = t.expr.getOrElse(throw new IllegalArgumentException(
              "merge scd2 needs `expr` (the change set's effective-date column)"))
            val scdCols = Seq("valid_from", "valid_to", "is_current")
            scdCols.foreach(cn => require(df.columns.contains(cn),
              s"merge scd2: base lacks SCD column '$cn' " +
                s"(needs ${scdCols.mkString(", ")})"))
            val baseAttrs = df.columns.filterNot(scdCols.contains).toSeq
            require(t.on.forall(baseAttrs.contains),
              s"merge scd2: `on` keys must be non-SCD base columns")
            require(updates.columns.contains(effCol),
              s"merge scd2: change set lacks effective-date column '$effCol'")
            val carried = updates.columns.filterNot(_ == effCol).toSeq
            require(carried.toSet == baseAttrs.toSet,
              s"merge scd2: change set must carry exactly the base's non-SCD " +
                s"columns (${baseAttrs.sorted.mkString(", ")}) plus '$effCol'; " +
                s"got (${updates.columns.sorted.mkString(", ")})")
            // types too, not just names: a type-drifted change set would
            // otherwise coerce through the struct-array conditional and
            // silently WIDEN the published dimension's schema
            val typed = Conform(updates.drop(effCol), df.drop(scdCols: _*).schema)
            require(typed.retyped.isEmpty, "merge scd2: change-set column " +
              s"types must match the base (${typed.describe}) — cast " +
              "upstream (op: cast) before the merge")
            requireUniqueKeys()
            // a null effective date would silently corrupt both the
            // close-out and the new version — fail fast (bounded probe,
            // same cost class as the duplicate-key guard)
            val nullEff = updates.where(col(effCol).isNull).limit(1).collect()
            require(nullEff.isEmpty, s"merge scd2: change set has null " +
              s"'$effCol' values, e.g. ${nullEff.headOption.fold("")(_.toString)}")
            val attrsOnly = baseAttrs.filterNot(t.on.contains)
            val vfType = df.schema("valid_from").dataType
            val vtType = df.schema("valid_to").dataType
            val curFlag = coalesce(col("is_current"), lit(false))
            val cur = df.where(curFlag)
            val hist = df.where(!curFlag)
            val u = updates.withColumn("__matched", lit(true))
            val cond = t.on.map(k => col(s"c.$k") === col(s"u.$k")).reduce(_ && _)
            val j = cur.alias("c").join(u.alias("u"), cond, "left")
            // null-safe attribute comparison: a NULL→value (or value→NULL)
            // flip IS a change; NULL→NULL is not
            val differs = attrsOnly.map(a => !(col(s"c.$a") <=> col(s"u.$a")))
              .reduceOption(_ || _).getOrElse(lit(false))
            val versioned = col("u.__matched").isNotNull && differs
            // pre-shaped output rows as structs (field order = base
            // schema, so r.* conforms without a second projection)
            def shaped(vf: Column, vt: Column, isCur: Column,
                attr: String => Column): Column =
              struct(df.columns.toSeq.map {
                case "valid_from" => vf.cast(vfType).as("valid_from")
                case "valid_to" => vt.cast(vtType).as("valid_to")
                case "is_current" => isCur.as("is_current")
                case cn => attr(cn).as(cn)
              }: _*)
            val keepR = shaped(col("c.valid_from"), col("c.valid_to"),
              col("c.is_current"), cn => col(s"c.$cn"))
            val closedR = shaped(col("c.valid_from"), col(s"u.$effCol"),
              lit(false), cn => col(s"c.$cn"))
            val openedR = shaped(col(s"u.$effCol"), lit(null),
              lit(true), cn => col(s"u.$cn"))
            val merged = j.select(explode(
                when(versioned, array(closedR, openedR))
                  .otherwise(array(keepR))).as("r"))
              .select(col("r.*"))
            val inserts = updates
              .join(cur.select(t.on.map(col): _*), t.on, "left_anti")
              .select(df.columns.toSeq.map {
                case "valid_from" => col(effCol).cast(vfType).as("valid_from")
                case "valid_to" => lit(null).cast(vtType).as("valid_to")
                case "is_current" => lit(true).as("is_current")
                case cn => col(cn)
              }: _*)
            hist.unionByName(merged).unionByName(inserts)
          case other => throw new IllegalArgumentException(
            s"merge how: unknown '$other' (upsert | delete | scd2)")
        }
      case "tokenize" => // §2.J1/J2 through the config surface
        val src = t.cols.headOption.getOrElse(throw new IllegalArgumentException(
          "tokenize needs `cols: [textCol]`"))
        val out = t.name.getOrElse("toks")
        requireFreshColumn(df, out, "tokenize")
        val toks = split(lower(col(src)), " ")
        // filter() (not array_except) so duplicate non-stopwords survive
        val kept = if (t.values.isEmpty) toks else {
          val stopArr = array(t.values.map(lit): _*)
          filter(toks, tok => !array_contains(stopArr, tok))
        }
        df.withColumn(out, kept)
      case "tfidf" => // §2.J5 through the config surface (batch only —
        // idf is a whole-corpus aggregate). RESHAPES to (id, term, tf, score).
        require(t.cols.length == 2, "tfidf needs `cols: [idCol, tokensCol]`")
        graft.queries.TextOps.tfidfOf(df, t.cols(0), t.cols(1))
      case "span_dedup" => // exact-substring SPAN removal (Lee et al.
        // 2022, arXiv:2107.06499) through the config surface (batch only
        // — the window election is a corpus-wide keyed shuffle): every
        // duplicated span of >= min_len tokens loses all but its first
        // occurrence, matched via k-token windows. Adds n_tokens /
        // kept_tokens / `name` (default text_dedup); all other columns
        // ride through. min_len DEFAULTS to the paper's 50-token bar.
        require(t.cols.length == 2, "span_dedup needs `cols: [idCol, textCol]`")
        val out = t.name.getOrElse("text_dedup")
        Seq(out, "n_tokens", "kept_tokens").foreach(c =>
          requireFreshColumn(df, c, "span_dedup"))
        TextOps2.spanDedupOf(df, t.cols(0), t.cols(1),
          t.k.getOrElse(8), t.minLen.getOrElse(50), out)
      case "minhash_dedup" => // §2.K6+K12 through the config surface
        // (batch only): banded LSH candidates → exact Jaccard verify →
        // connected components. Default: keep only cluster survivors
        // (min id). With `name`: TAG every row with its cluster id
        // instead of dropping — the audit-friendly variant (inspect or
        // re-weight near-dup groups rather than discarding them).
        require(t.cols.length == 2, "minhash_dedup needs `cols: [idCol, tokensCol]`")
        val (id, toks) = (t.cols(0), t.cols(1))
        val thr = t.threshold.getOrElse(1.0)
        require(thr > 0.0 && thr <= 1.0,
          s"minhash_dedup threshold must be in (0, 1], got $thr")
        // id contract: unique, non-null. Rows with a NULL id have no
        // identity to dedup against — they PASS THROUGH untouched (tag
        // mode labels them null) rather than silently vanishing in the
        // label joins.
        val idNull = df.where(col(id).isNull)
        val idOk = df.where(col(id).isNotNull)
        val docs = idOk.select(col(id).as("doc_id"), array_distinct(col(toks)).as("ts"))
        // Cross-run incremental mode (`state_path`): the parquet there
        // holds every ALREADY-PUBLISHED survivor (doc_id, ts, lbl). The
        // batch clusters against those rows, so a doc near-duplicating
        // published data joins the published cluster (and is killed in
        // drop mode / tagged with the published label in tag mode).
        // First run: no state file yet → plain single-batch clustering.
        val state = t.statePath
          .filter(p => Files.exists(Paths.get(p)))
          .map { p =>
            val st = spark.read.parquet(p)
            require(st.columns.toSet == Set("doc_id", "ts", "lbl"),
              s"minhash_dedup state at $p: expected columns " +
                s"(doc_id, ts, lbl), got ${st.columns.mkString(",")}")
            require(st.schema("doc_id").dataType == docs.schema("doc_id").dataType,
              s"minhash_dedup state at $p: doc_id type " +
                s"${st.schema("doc_id").dataType.sql} does not match the " +
                s"batch's ${docs.schema("doc_id").dataType.sql}")
            st
          }
        // state rows whose id reappears in the batch are the SAME doc
        // being rerun (ids are unique across runs) — keep the batch copy
        // only, so a rerun reproduces its original output instead of
        // colliding with its own published rows
        val combined = state.fold(docs)(st =>
          docs.unionByName(st.select(col("doc_id"), col("ts"))
            .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti")))
        val labels0 = graft.queries.Similarity
          .lshClusters(combined, thr, t.bucketCap.getOrElse(4096))
        // Components containing published state inherit the PUBLISHED
        // label (min stored lbl if a bridging batch doc merged several —
        // at threshold 1.0 merges cannot happen, set-equality is an
        // equivalence relation, so incremental labels are oracle-exact).
        // Components of batch docs only keep their min-id label; ids are
        // unique across runs (the state contract), so vec_id == lbl
        // still identifies survivors and never collides with old labels.
        val labels = state.fold(labels0) { st =>
          val stLbl = st.select(col("doc_id").as("__sid"), col("lbl").as("__slbl"))
          val published = labels0
            .join(stLbl, col("vec_id") === col("__sid"))
            .groupBy(col("lbl")).agg(min(col("__slbl")).as("__plbl"))
          labels0.join(published, Seq("lbl"), "left")
            .select(col("vec_id"),
              coalesce(col("__plbl"), col("lbl")).as("lbl"))
        }
        // state advance = this batch's survivors (they ARE the newly
        // published corpus); DEFERRED until the run's sinks commit. The
        // append anti-joins against the ids already in state, so
        // rerunning a committed batch (the failure-recovery path) adds
        // zero rows — state never accumulates retry duplicates, without
        // paying a distinct() shuffle over the full state on every read.
        // The eager checkpoint materializes the append set BEFORE the
        // write opens the directory, so the job never reads the path it
        // is appending to.
        t.statePath.foreach { p =>
          val newState = labels.where(col("vec_id") === col("lbl"))
            .join(docs, col("vec_id") === col("doc_id"))
            .select(col("doc_id"), col("ts"), col("lbl"))
          deferred += { () =>
            val toAppend =
              if (Files.exists(Paths.get(p)))
                newState.join(spark.read.parquet(p).select(col("doc_id")),
                  Seq("doc_id"), "left_anti")
              else newState
            val cp = graft.core.Checkpoints.eager(toAppend)
            cp.write.mode("append").parquet(p)
            graft.core.Checkpoints.release(cp)
          }
        }
        t.name match {
          case Some(out) =>
            requireFreshColumn(df, out, "minhash_dedup")
            idOk.join(labels.toDF("__mid", out), col(id) === col("__mid"))
              .drop("__mid")
              .unionByName(idNull.withColumn(out,
                lit(null).cast(df.schema(id).dataType)))
          case None => // left semi on survivors: original schema, fewer rows
            val survivors = labels.where(col("vec_id") === col("lbl"))
              .select(col("vec_id").as("__surv_id"))
            idOk.join(survivors, col(id) === col("__surv_id"), "left_semi")
              .unionByName(idNull)
        }
      case "semdedup" => // §2.K11 through the config surface (batch only):
        // SemDeDup (arXiv:2303.09540) — the embedding-semantic dedup
        // family beside minhash_dedup's token-set one: coarse-quantize
        // each vector to its nearest centroid (broadcast codebook,
        // map-only), verify cosine >= threshold WITHIN cells only, label
        // connected components. Default: keep survivors (min id per
        // cluster). With `name`: tag every row with its cluster id.
        // `k` = centroid count (the recall/cost dial — SemDeDup's cell
        // blocking means cross-cell near-dups are out of scope by the
        // published algorithm's definition, which is also what keeps the
        // pair volume Σ|cell|² instead of n²).
        require(t.cols.length == 2, "semdedup needs `cols: [idCol, embeddingCol]`")
        val (sid, embc) = (t.cols(0), t.cols(1))
        val sthr = t.threshold.getOrElse(throw new IllegalArgumentException(
          "semdedup needs `threshold` (min cosine to count as a near-dup)"))
        require(sthr > -1.0 && sthr <= 1.0,
          s"semdedup threshold must be in (-1, 1], got $sthr")
        val nc = t.k.getOrElse(16)
        require(nc > 0, s"semdedup centroid count `k` must be positive, got $nc")
        // same NULL-id contract as minhash_dedup: rows without identity
        // pass through untouched (tagged null) rather than vanishing
        val sIdNull = df.where(col(sid).isNull)
        val sIdOk = df.where(col(sid).isNotNull)
        val vecs = sIdOk.select(col(sid).as("vec_id"),
          col(embc).cast(ArrayType(DoubleType)).as("e"))
        // Cross-run incremental mode (`state_path`) — minhash_dedup's
        // contract applied to the semantic family: the parquet holds
        // every published survivor (vec_id, e, lbl); the batch clusters
        // against those, near-dups of published vectors join the
        // published cluster, survivors append AFTER sinks commit.
        // Centroids stay stable across runs for free: they are the k
        // smallest ids of state ∪ batch, and ids are unique across runs.
        // Same recall budget as minhash below 1.0: a batch doc similar
        // only to a KILLED near-dup of a survivor can slip through (the
        // state stores survivors, not every seen vector — the price of
        // state growing with the deduped corpus, not the raw one).
        val sState = t.statePath
          .filter(p => Files.exists(Paths.get(p)))
          .map { p =>
            val st = spark.read.parquet(p)
            require(st.columns.toSet == Set("vec_id", "e", "lbl"),
              s"semdedup state at $p: expected columns (vec_id, e, lbl), " +
                s"got ${st.columns.mkString(",")}")
            require(st.schema("vec_id").dataType == vecs.schema("vec_id").dataType,
              s"semdedup state at $p: vec_id type " +
                s"${st.schema("vec_id").dataType.sql} does not match the " +
                s"batch's ${vecs.schema("vec_id").dataType.sql}")
            st
          }
        // a rerun of a committed batch keeps the batch copy of its own
        // ids (ids are unique across runs sharing a state_path)
        val sCombined = sState.fold(vecs)(st =>
          vecs.unionByName(st.select(col("vec_id"),
              col("e").cast(ArrayType(DoubleType)).as("e"))
            .join(vecs.select(col("vec_id")), Seq("vec_id"), "left_anti")))
        val sLabels0 = graft.queries.Similarity
          .semDedupLabels(sCombined, nc, sthr).select(col("vec_id"), col("lbl"))
        // components touching published state inherit the PUBLISHED label
        val sLabels = sState.fold(sLabels0) { st =>
          val stLbl = st.select(col("vec_id").as("__sid"), col("lbl").as("__slbl"))
          val published = sLabels0
            .join(stLbl, col("vec_id") === col("__sid"))
            .groupBy(col("lbl")).agg(min(col("__slbl")).as("__plbl"))
          sLabels0.join(published, Seq("lbl"), "left")
            .select(col("vec_id"),
              coalesce(col("__plbl"), col("lbl")).as("lbl"))
        }
        // state advance = this batch's survivors, deferred + retry-idempotent
        t.statePath.foreach { p =>
          val newState = sLabels.where(col("vec_id") === col("lbl"))
            .join(vecs.select(col("vec_id").as("__bid"), col("e")),
              col("vec_id") === col("__bid"))
            .select(col("vec_id"), col("e"), col("lbl"))
          deferred += { () =>
            val toAppend =
              if (Files.exists(Paths.get(p)))
                newState.join(spark.read.parquet(p).select(col("vec_id")),
                  Seq("vec_id"), "left_anti")
              else newState
            val cp = graft.core.Checkpoints.eager(toAppend)
            cp.write.mode("append").parquet(p)
            graft.core.Checkpoints.release(cp)
          }
        }
        t.name match {
          case Some(out) =>
            requireFreshColumn(df, out, "semdedup")
            sIdOk.join(sLabels.toDF("__mid", out), col(sid) === col("__mid"))
              .drop("__mid")
              .unionByName(sIdNull.withColumn(out,
                lit(null).cast(df.schema(sid).dataType)))
          case None => // left semi on survivors: original schema, fewer rows
            val survivors = sLabels.where(col("vec_id") === col("lbl"))
              .select(col("vec_id").as("__surv_id"))
            sIdOk.join(survivors, col(sid) === col("__surv_id"), "left_semi")
              .unionByName(sIdNull)
        }
      case "ann_topk" => // §2.K4 through the config surface (batch only):
        // broadcast the single query vector, exact cosine over every other
        // row, top-k via TakeOrderedAndProject — no global sort.
        require(t.cols.length == 2, "ann_topk needs `cols: [idCol, vectorCol]`")
        val (id, vec) = (t.cols(0), t.cols(1))
        val pred = t.where.getOrElse(throw new IllegalArgumentException(
          "ann_topk needs `where` (a predicate selecting the ONE query row)"))
        val q = df.where(expr(pred))
          .select(expr(s"CAST($vec AS ARRAY<DOUBLE>)").as("__q"))
        // a multi-row query side would silently cross-score every result —
        // enforce exactly one (early-exit 2-row probe, driver side, like merge)
        val nq = q.limit(2).count()
        require(nq == 1, s"ann_topk: `where` must select exactly 1 query row, got " +
          s"${if (nq > 1) ">1" else "0"}")
        df.where(!coalesce(expr(pred), lit(false)))
          .crossJoin(broadcast(q))
          .select(col(id),
            round(expr(s"graft_cosine(CAST($vec AS ARRAY<DOUBLE>), __q)"), 6)
              .as("cos_sim"))
          .orderBy(col("cos_sim").desc, col(id))
          .limit(t.k.getOrElse(10))
      case "sample" => // §2.E10/E10b through the config surface: map-side
        // only, no shuffle. Seed REQUIRED — an unseeded sample changes
        // row-by-row between runs, unacceptable in a declared pipeline.
        val seed = t.seed.getOrElse(throw new IllegalArgumentException(
          "sample needs `seed` (unseeded sampling is not reproducible)"))
        (t.cols, t.values) match {
          case (Nil, Nil) =>
            val f = t.fraction.getOrElse(throw new IllegalArgumentException(
              "sample needs `fraction` (or cols+values for stratified)"))
            require(f > 0.0 && f <= 1.0, s"sample fraction must be in (0, 1], got $f")
            df.sample(withReplacement = false, f, seed)
          case (Seq(stratum), specs) if specs.nonEmpty =>
            // stratified class rebalancing (sampleBy): listed strata get
            // their fraction, unlisted fall back to `fraction` (default 0
            // = dropped — the explicit-keep contract)
            val fractions = specs.map { sp =>
              sp.split(":", 2) match {
                case Array(cls, f) => cls -> f.toDouble
                case _ => throw new IllegalArgumentException(
                  s"sample values: expected 'stratum:fraction', got '$sp'")
              }
            }.toMap
            fractions.values.foreach(f => require(f >= 0.0 && f <= 1.0,
              s"sample stratum fractions must be in [0, 1], got $f"))
            val dflt = t.fraction.getOrElse(0.0)
            // sampleBy's per-row Map lookup compares NATIVE values against
            // the YAML's String keys — an integer stratum column would
            // miss every key and silently drop whole strata. Sample on a
            // string shadow of the column, with the declared keys
            // NORMALIZED through the column's own type first: "5" on a
            // DECIMAL(10,2) stratum must become "5.00" to match the
            // shadow rendering (one driver-local literal fold, no scan).
            val dt = df.schema(stratum).dataType
            val normRow = spark.range(1).select(
              fractions.keys.toSeq.map(k => lit(k).cast(dt).cast("string")): _*).head()
            val norm = fractions.keys.toSeq.zipWithIndex.map { case (k, i) =>
              require(!normRow.isNullAt(i),
                s"sample: stratum key '$k' does not parse as ${dt.sql}")
              k -> normRow.getString(i)
            }.toMap
            val fractionsN = fractions.map { case (k, f) => norm(k) -> f }
            val sCol = "__stratum_s"
            val keys = fractionsN.keys.toSeq
            val shadowed = df.withColumn(sCol, col(stratum).cast("string"))
            // sampleBy needs every key enumerated; keys beyond `values`
            // take the default via a union of the explicit map with a
            // filtered default-rate sample of the rest
            val listed = shadowed.where(col(sCol).isin(keys: _*))
              .stat.sampleBy(sCol, fractionsN, seed)
            (if (dflt == 0.0) listed
             else listed.unionByName(
               shadowed.where(!coalesce(col(sCol).isin(keys: _*), lit(false)))
                 .sample(withReplacement = false, dflt, seed))
            ).drop(sCol)
          case _ => throw new IllegalArgumentException(
            "sample: use `fraction`+`seed`, or `cols: [stratumCol]` + " +
              "`values: [\"stratum:fraction\", ...]` (+ optional default `fraction`)")
        }
      case "mix" => // declared-mixture rebalancing (the LLM-pretraining
        // domain-reweighting step; batch only — the counts need the whole
        // corpus): sample each declared domain so the output approximates
        // the declared target proportions while keeping as much data as
        // possible. The binding domain — the one whose rows run out first
        // at its target share — keeps EVERYTHING (fraction 1.0); every
        // other domain downsamples to match. Plan shape: one
        // aggregate-only count job (driver result bounded by the declared
        // domain list), then a map-only seeded sampleBy — the data itself
        // never shuffles. Undeclared-domain rows are dropped: they have
        // no target share, and silently keeping them would skew the
        // mixture the op exists to enforce.
        require(t.cols.length == 1, "mix needs `cols: [domainCol]`")
        require(t.values.nonEmpty, "mix needs `values: [\"domain:weight\", ...]`")
        val mixSeed = t.seed.getOrElse(throw new IllegalArgumentException(
          "mix needs `seed` (unseeded sampling is not reproducible)"))
        val domain = t.cols.head
        val weights = t.values.map { sp =>
          sp.split(":", 2) match {
            case Array(dm, w) => dm -> w.toDouble
            case _ => throw new IllegalArgumentException(
              s"mix values: expected 'domain:weight', got '$sp'")
          }
        }
        require(weights.map(_._1).distinct.size == weights.size,
          "mix: duplicate domain in `values`")
        weights.foreach { case (dm, w) =>
          require(w > 0, s"mix: weight for '$dm' must be positive, got $w") }
        // declared keys normalized through the column's own type (same
        // contract as `sample` — an integer/decimal domain column must
        // match its string shadow rendering, one driver-local fold)
        val domT = df.schema(domain).dataType
        val mixNormRow = spark.range(1).select(
          weights.map { case (dm, _) => lit(dm).cast(domT).cast("string") }: _*).head()
        val normed = weights.zipWithIndex.map { case ((dm, w), i) =>
          require(!mixNormRow.isNullAt(i),
            s"mix: domain key '$dm' does not parse as ${domT.sql}")
          mixNormRow.getString(i) -> w
        }
        val wSum = normed.map(_._2).sum
        val share = normed.map { case (dm, w) => dm -> w / wSum }.toMap
        val dCol = "__domain_s"
        val shadowed = df.withColumn(dCol, col(domain).cast("string"))
          .where(col(dCol).isin(normed.map(_._1): _*))
        val counts = shadowed.groupBy(col(dCol)).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        normed.foreach { case (dm, _) => require(counts.getOrElse(dm, 0L) > 0L,
          s"mix: domain '$dm' has no rows — drop it from the mixture or fix " +
            "the data (a zero-row domain makes the target unreachable)") }
        // the largest achievable output T satisfies T * share_d <= count_d
        // for every domain; the argmin domain binds at fraction 1.0
        val totalT = share.map { case (dm, s) => counts(dm) / s }.min
        val fractions = share.map { case (dm, s) =>
          dm -> math.min(1.0, totalT * s / counts(dm)) }
        shadowed.stat.sampleBy(dCol, fractions, mixSeed).drop(dCol)
      case "redact" => // §2.J14 through the config surface: PII scrub as
        // a regexp_replace chain — map-only, streams fine
        require(t.cols.length == 1, "redact needs `cols: [textCol]`")
        require(t.values.nonEmpty,
          "redact needs `values: [\"LABEL:regex\", ...]`")
        val rules = t.values.map { v =>
          val i = v.indexOf(':')
          require(i > 0 && i < v.length - 1,
            s"redact rule '$v' must be \"LABEL:regex\"")
          (v.substring(0, i), v.substring(i + 1))
        }
        val out = t.name.getOrElse(t.cols.head)
        if (t.name.isDefined) requireFreshColumn(df, out, "redact")
        df.withColumn(out, TextOps2.redactOf(col(t.cols.head), rules))
      case "quality_filter" => // §2.J13 through the config surface:
        // repetition-based quality gate, pure per-row array math
        // (TextOps2.dupFrac: an empty or null token array scores null)
        require(t.cols.length == 1, "quality_filter needs `cols: [tokensCol]`")
        val thr = t.threshold.getOrElse(0.3)
        require(thr >= 0.0 && thr <= 1.0,
          s"quality_filter threshold must be in [0, 1], got $thr")
        val frac = TextOps2.dupFrac(col(t.cols.head))
        t.name match {
          case Some(out) =>
            requireFreshColumn(df, out, "quality_filter")
            df.withColumn(out, round(frac, 6))
          case None => // null/empty token rows have no signal → drop
            df.where(frac <= thr)
        }
      case "decontaminate" => // §2.J12 through the config surface (batch
        // only): benchmark shingles broadcast, corpus side map-only
        require(t.cols.length == 2, "decontaminate needs `cols: [idCol, tokensCol]`")
        val (id, toks) = (t.cols(0), t.cols(1))
        val benchSrc = t.table.getOrElse(throw new IllegalArgumentException(
          "decontaminate needs `table` (the benchmark source)"))
        val textCol = t.to.getOrElse("text")
        val ng = t.k.getOrElse(5)
        require(ng > 0, s"decontaminate shingle size `k` must be positive, got $ng")
        val benchRaw = read(spark, benchSrc)
        val bench = t.where.fold(benchRaw)(w => benchRaw.where(expr(w)))
          .select(split(lower(col(textCol)), " ").as("__bt"))
        val benchShingles = TextOps2.shinglesOf(bench, "__bt", ng, Nil, "__g")
          .select(col("__g")).distinct()
        val contaminated = TextOps2.shinglesOf(df, toks, ng, Seq(col(id).as("__cid")), "__g")
          .join(broadcast(benchShingles), "__g")
          .select(col("__cid")).distinct()
        t.name match {
          case Some(out) => // audit variant: flag, don't drop
            requireFreshColumn(df, out, "decontaminate")
            df.join(contaminated.withColumn(out, lit(true)),
                col(id) === col("__cid"), "left")
              .withColumn(out, coalesce(col(out), lit(false)))
              .drop("__cid")
          case None =>
            df.join(contaminated, col(id) === col("__cid"), "left_anti")
        }
      case "pack" => // §2.J11 through the config surface (TextOps2.packOf):
        // greedy sequence packing per shard, pack id = shard × 1e6 +
        // (cumsum − count) div budget. No global sort at any scale: shards
        // pack independently.
        require(t.cols.length == 2, "pack needs `cols: [shardCol, orderCol]`")
        val (shard, order) = (t.cols(0), t.cols(1))
        val cnt = t.expr.getOrElse(throw new IllegalArgumentException(
          "pack needs `expr` (the per-row token count, e.g. \"size(toks)\")"))
        val budget = t.k.getOrElse(4096)
        require(budget > 0, s"pack budget `k` must be positive, got $budget")
        val out = t.name.getOrElse("pack_id")
        requireFreshColumn(df, out, "pack")
        TextOps2.packOf(df, shard, order, expr(cnt).cast("long"), budget, out)
      case "bpe_train" => // learn a BPE merge table from the corpus
        // (graft.ext.Bpe — Sennrich et al. 2016). REPLACES the frame with
        // the merges table (a, b, rank) — sink it, then feed it to
        // `bpe_tokenize` runs. Shape: ONE distributed word-count agg,
        // top-K words (`max_rows`, default 2000 — the standard
        // frequency-cutoff trainer) to the driver, k merges (`k`,
        // default 200) learned over that bounded table. The collect is
        // aggregate-bounded by construction, never data-sized.
        require(t.cols.length == 1, "bpe_train needs `cols: [textCol]`")
        val numMerges = t.k.getOrElse(200)
        require(numMerges > 0 && numMerges <= (1 << 17),
          s"bpe_train: k (merge count) must be in [1, 131072], got $numMerges")
        val topWords = t.maxRows.getOrElse(2000L).toInt
        require(topWords > 0 && topWords <= 1000000,
          s"bpe_train: max_rows (vocab cutoff) must be in [1, 1e6], got $topWords")
        val wordFreqs = df
          .select(explode(org.apache.spark.sql.functions.filter(
            split(lower(col(t.cols.head)), "[^a-z0-9]+"),
            w => length(w) > 0)).as("w"))
          .groupBy(col("w")).count()
          .orderBy(col("count").desc, col("w"))
          .limit(topWords)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val merges = graft.ext.Bpe.trainMerges(wordFreqs, numMerges)
        import spark.implicits._
        merges.zipWithIndex
          .map { case ((a, b), i) => (a, b, i + 1) }
          .toDF("a", "b", "rank")
      case "bpe_tokenize" => // apply a learned merge table: `table` = the
        // merges source (a, b, rank), `cols: [textCol]`, `name` = output
        // pieces column (array<string>). The vocabulary is bounded, so it
        // ships inside a map-only codegen expression — no join, no
        // shuffle, one tokenizer call per row (the 100 TB shape).
        require(t.cols.length == 1, "bpe_tokenize needs `cols: [textCol]`")
        val out = t.name.getOrElse("bpe_pieces")
        requireFreshColumn(df, out, "bpe_tokenize")
        val msrc = read(spark, t.table.getOrElse(throw new IllegalArgumentException(
          "bpe_tokenize needs `table` (the merges table from bpe_train)")))
        val cap = 1 << 17
        val mrows = msrc.select(col("a").cast("string"), col("b").cast("string"),
            col("rank").cast("int"))
          .orderBy(col("rank")).limit(cap + 1).collect()
        require(mrows.length <= cap,
          s"bpe_tokenize: merges table exceeds $cap entries — not a vocabulary")
        val merges = mrows.map(r => (r.getString(0), r.getString(1))).toSeq
        df.withColumn(out, org.apache.spark.sql.GraftSqlBridge.column(
          graft.ext.BpeTokens(
            org.apache.spark.sql.GraftSqlBridge.expression(col(t.cols.head)),
            merges)))
      case other   => throw new IllegalArgumentException(s"unknown transform $other")
    }

  // -- sinks (§2.A6-A8) -----------------------------------------------------
  def write(df: DataFrame, s: SinkSpec): Unit = {
    if (s.format == "graft_table") {
      // ACID commit-log sink (graft.tables.GraftTable): overwrite/append
      // commit atomically with optimistic concurrency; merge/delete are
      // the lakehouse MERGE — only files containing matched keys are
      // rewritten, and the commit aborts if another writer raced in
      // (its rewrite would be against a stale snapshot). No rename-swap
      // needed here: the log IS the commit protocol.
      val root = graftRoot(df.sparkSession,
        Some(s.path).filter(_.nonEmpty), s.table)
      s.mode match {
        case "merge" | "delete" =>
          val on = s.options("on").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val how = if (s.mode == "merge")
            s.options.getOrElse("how", "upsert") else "delete"
          graft.tables.GraftTable.merge(df.sparkSession, root, df, on, how,
            condition = s.options.get("condition"))
        case "append" if s.evolve.contains("add_nulls") =>
          graft.tables.GraftTable.writeEvolve(df.sparkSession, df, root)
        case m => graft.tables.GraftTable.write(df.sparkSession, df, root, m,
          partitionBy = s.partitionBy) // overwrite declares the layout
          // (parse rejects partitionBy on other modes; appends inherit)
      }
      return
    }
    s.buckets match {
      case Some(n) => // §2.A7b from config: shuffle once at write time,
        // join exchange-free ever after (parquet + catalog table)
        var w = df.write.mode(s.mode).options(s.options)
        if (s.partitionBy.nonEmpty) w = w.partitionBy(s.partitionBy: _*)
        w = w.format(s.format) // never inherit spark.sql.sources.default —
        // PipelineSpec guarantees parquet for bucketed sinks and the table
        // must honor that even in a session with a different default
        w = w.bucketBy(n, s.bucketBy.head, s.bucketBy.tail: _*)
        if (s.sortBy.nonEmpty) w = w.sortBy(s.sortBy.head, s.sortBy.tail: _*)
        // a stale table with a DIFFERENT bucket spec must not survive an
        // overwrite (appends keep the existing spec). NOTE: the drop+write
        // pair is not atomic — a failed write leaves no table; rerun the
        // pipeline (sinks are idempotent by construction, mode=overwrite)
        if (s.mode == "overwrite")
          df.sparkSession.sql(s"DROP TABLE IF EXISTS ${s.table.get}")
        w.option("path", s.path).saveAsTable(s.table.get)
      case None =>
        val evolvedOut = evolved(df, s)
        // range layout: one shuffle at write time so each output file
        // covers a narrow, non-overlapping value range — parquet min/max
        // stats then prune row groups on every later filtered read.
        // zorder(x, y): range-layout on the Morton code of the two
        // quantized dimensions instead — each file covers a small SQUARE
        // of the (x, y) grid rather than a thin full-width stripe, so
        // stats prune filters on EITHER column (see ZOrder's doc). The
        // quantization bounds come from one column-pruned min/max
        // aggregate over the output — the same cost class as
        // surrogate_key's bound probe, paid once at write time.
        val clustered = s.clusterBy match {
          case Seq(PipelineSpec.ZOrderClusterKey(colsCsv, bitsStr)) =>
            graft.ext.ZOrder.zLayout(evolvedOut,
              PipelineSpec.zorderCols(colsCsv),
              Option(bitsStr).map(_.toInt).getOrElse(12), None, Nil)
          case Seq() => evolvedOut
          case cols => evolvedOut.repartitionByRange(cols.map(col): _*)
            .sortWithinPartitions(cols.map(col): _*)
        }
        // compaction (`files: n`): the small-file fix for high-cardinality
        // ingest — coalesce merges partitions WITHOUT a shuffle (each
        // output task reads several inputs), so compacting 10k micro-files
        // to n is one cheap map-side pass. Parse-time validation already
        // rejected files+buckets/clusterBy, so this never undoes a layout.
        // At 100 TB pick n from bytes/target-file-size (128-1024 MB files
        // are the parquet sweet spot); AQE's advisory partition size does
        // the same for shuffle outputs, `files` covers the final write.
        val out = s.files.map(clustered.coalesce).getOrElse(clustered)
        def save(d: DataFrame, mode: String, path: String): Unit = {
          var w = d.write.mode(mode).options(s.options)
          if (s.partitionBy.nonEmpty) w = w.partitionBy(s.partitionBy: _*)
          s.format match {
            case "parquet" => w.parquet(path)
            case "orc"     => w.orc(path) // columnar alternative, same
              // atomic-commit/partitioning contract as parquet
            case "csv"     => w.option("header", s.options.getOrElse("header", "true")).csv(path)
            case "json"    => w.json(path)
            case "xml"     => // A8 symmetry for the built-in XML datasource
              w.option("rowTag", s.options.getOrElse("rowTag", "ROW"))
                .format("xml").save(path)
          }
        }
        if (s.mode == "overwrite") {
          // ATOMIC COMMIT for the overwrite path sink. A direct
          // mode(overwrite) write DELETES the target before producing a
          // byte — a run that dies mid-write (task failure, OOM, kill)
          // leaves the published dataset destroyed. Instead: write the
          // full output to a staging dir next to the target, then swap
          // via two directory renames (the ep9 high-water-mark pattern
          // generalized). A crash during the write leaves the target
          // untouched; the exposure window shrinks from the whole job to
          // two metadata ops. Same-parent staging keeps the rename a
          // same-filesystem metadata move on HDFS/local; on object
          // stores rename is a copy — there a real deployment publishes
          // through a table format's commit protocol instead, and this
          // stays the honest file-sink fallback.
          val target = new org.apache.hadoop.fs.Path(s.path)
          val fs = target.getFileSystem(
            df.sparkSession.sessionState.newHadoopConf())
          // siblings derived from the NORMALIZED path (Path collapses a
          // trailing slash), never by string concat — "dir/" + "__staging"
          // would nest the staging dir INSIDE the target and the retire
          // rename would try to move a directory into its own child
          val staging = new org.apache.hadoop.fs.Path(
            target.getParent, target.getName + "__staging")
          val retired = new org.apache.hadoop.fs.Path(
            target.getParent, target.getName + "__retired")
          // crash recovery BEFORE debris cleanup: a run that died between
          // the two renames left no target, and the retired dir is then
          // the ONLY committed copy — restore it (a pure-metadata rename)
          // rather than deleting it as debris; if THIS run then fails
          // mid-write, the dataset is still published
          if (!fs.exists(target) && fs.exists(retired))
            require(fs.rename(retired, target),
              s"sink commit: could not restore retired copy to ${s.path}")
          fs.delete(staging, true) // debris from a previously crashed run
          fs.delete(retired, true)
          save(out, "overwrite", staging.toString)
          if (fs.exists(target)) require(fs.rename(target, retired),
            s"sink commit: could not retire existing target ${s.path}")
          require(fs.rename(staging, target),
            s"sink commit: could not publish staging to ${s.path}")
          fs.delete(retired, true)
        } else save(out, s.mode, s.path)
    }
  }

  /** Write-side schema evolution (SinkSpec.evolve; parquet path sinks):
    * conform the output BY NAME to the EXISTING target's schema — fail
    * rejects any column-level drift, add_nulls projects onto the union
    * (target layout first, typed nulls where the output dropped a column,
    * new columns appended); a retyped column fails under both. */
  private def evolved(df: DataFrame, s: SinkSpec): DataFrame = s.evolve.fold(df) { policy =>
    // first write (no, unreadable or empty target): as-is
    scala.util.Try(df.sparkSession.read.parquet(s.path).schema).toOption.fold(df) { old =>
      val c = Conform(df, old)
      require(c.retyped.isEmpty, s"sink ${s.path}: column type drift " +
        s"(${c.describe}) — evolution never retypes; cast upstream or " +
        "version the dataset")
      if (policy == "fail") c.exact(s"sink ${s.path}: schema drift under evolve:fail")
      else c.project(s"sink ${s.path}", keepExtra = true) // add_nulls
    }
  }
}
