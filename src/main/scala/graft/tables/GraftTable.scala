package graft.tables

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.core.{Attribution, Conform}

/** Minimal ACID table format over parquet — a Delta/Iceberg-style commit
  * log, self-contained (no external jars; the container is offline).
  *
  * Layout under the table root:
  * {{{
  *   <root>/_graft_log/00000000000000000001.json   // one file per version
  *   <root>/data/<uuid>_part<i>.parquet            // immutable data files
  * }}}
  *
  * Each log file is JSON-lines of actions replayed in order:
  * `{"meta":{"schemaDdl":...}}`, `{"add":{"path":...,"numRecords":N}}`,
  * `{"remove":{"path":...}}`. The live file set of version V is the
  * replay of logs 1..V — so every historical version stays readable
  * (time travel) until `vacuum` reclaims unreferenced files.
  *
  * The ACID story, piece by piece:
  *  - ATOMIC commit: the log entry is fully written to a temp file and
  *    then HARD-LINKED into its version slot. link(2) is atomic and
  *    fails if the slot exists, so readers either see a complete log
  *    file or none, never a torn one. (On HDFS the same protocol uses
  *    `create(path, overwrite=false)`; on S3 a conditional PUT or a
  *    coordination service — this local-FS implementation is the
  *    single-filesystem instance of the standard recipe.)
  *  - ISOLATION (snapshot): readers resolve the latest version ONCE and
  *    read only files that version references. Data files are immutable
  *    and staged invisibly (never referenced until their commit lands),
  *    so a concurrent writer can never make a reader see a mix of two
  *    versions.
  *  - Optimistic CONCURRENCY: a writer resolves version V, stages its
  *    files, and claims slot V+1 (one commit path for every op, see
  *    `transact`). Losing the race is resolved per op: appends re-check
  *    against the new head and retry, overwrites also recompute their
  *    removes there; DML, OPTIMIZE and dropPartition replay the commits
  *    in between and re-commit past disjoint ones, throwing
  *    [[ConcurrentWriteException]] only on a real conflict.
  *  - DURABILITY / crash safety: an op whose commit does not land
  *    deletes the files it staged. Only a writer that dies mid-op leaves
  *    orphan files and a `.tmp` log entry — invisible to every reader,
  *    reclaimed by `vacuum`. The published table is never in an
  *    intermediate state.
  *
  * At 100 TB the log-per-version scheme is exactly what lakehouse
  * formats ship: O(changed files) metadata per commit, no directory
  * listing on the data path, and `merge` rewrites ONLY files that
  * contain matched keys — an upsert of 1k rows into a 100 TB table
  * touches a handful of files, not the table.
  */
object GraftTable {
  import GraftLog._

  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** The resolved state of one version: which files are live + schema. */
  final case class Snapshot(version: Long, files: Seq[String], schemaDdl: String)

  /** Rows a driver-held key set may have: merge's small-key mode, which
    * matches its keys by one in-plan set, and the labels an in-memory
    * connected-components run returns and broadcasts. Past it the keys
    * stay distributed. */
  private[graft] val LocalKeyCap = 64 * 1024

  private def dataDir(root: String): Path = Paths.get(root, "data")

  def isTable(root: String): Boolean = Files.isDirectory(logDir(root))

  def latestVersion(root: String): Option[Long] =
    if (!isTable(root)) None
    else {
      // checkpoint versions count too: a fully-truncated history (all
      // logs ≤ the seal dropped) is still a readable table at the seal
      val s = Files.list(logDir(root))
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".json"))
        .flatMap(n => scala.util.Try(
          n.stripSuffix(".json").stripSuffix(".checkpoint").toLong).toOption)
        .maxOption
      finally s.close()
    }

  /** Write a checkpoint at the current latest version. Idempotent and
    * race-safe (deterministic content + atomic hard-link publish).
    * Returns the checkpointed version. Policy is the caller's: a
    * streaming ingest checkpoints every N batches; `truncateHistory`
    * checkpoints before dropping old logs. */
  def checkpoint(root: String): Long = {
    val latest = headVersion(root)
    writeCheckpoint(root, latest)
    latest
  }

  /** Retention: drop log versions ≤ `upToInclusive`, first sealing their
    * state into a checkpoint at that version. Snapshots of later versions
    * replay from the checkpoint; snapshots of dropped versions fail with
    * the truncation error; `vacuum` afterwards reclaims data files only
    * the dropped versions referenced. The lakehouse retention lifecycle:
    * checkpoint → truncate → vacuum. */
  def truncateHistory(root: String, upToInclusive: Long): Unit = {
    val latest = headVersion(root)
    require(upToInclusive >= 1 && upToInclusive <= latest,
      s"graft_table $root: truncate version $upToInclusive out of [1, $latest]")
    // seal: materialize the state AT upTo so later replays never need the
    // dropped files, THEN drop them — a crash in between only leaves an
    // extra checkpoint
    writeCheckpoint(root, upToInclusive)
    (1L to upToInclusive).foreach(v => Files.deleteIfExists(verFile(root, v)))
  }

  /** Age-based retention: truncate at the newest version whose log file
    * landed before `cutoffMillis` (commit time ≈ the log's mtime — the
    * same proxy Delta's retention uses). The LATEST version always
    * survives. Returns the truncation point, if any version qualified. */
  def truncateOlderThan(root: String, cutoffMillis: Long): Option[Long] = {
    val latest = headVersion(root)
    val cut = (1L until latest).filter { v =>
      val f = verFile(root, v)
      Files.exists(f) && Files.getLastModifiedTime(f).toMillis < cutoffMillis
    }.maxOption
    cut.foreach(truncateHistory(root, _))
    cut
  }

  /** Replay logs 1..asOf (default: latest) — from the nearest checkpoint
    * when one exists. Files come back in first-add order; removes drop
    * them. */
  def snapshot(root: String, asOf: Option[Long] = None): Snapshot = {
    val latest = headVersion(root)
    val v = asOf.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"graft_table $root: version $v out of range [1, $latest]")
    val st = replayState(root, v)
    Snapshot(v, st.files.toSeq, st.schemaDdl)
  }

  /** The latest version as a [[Snapshot]] plus its replayed state — one
    * replay for the ops that need both. */
  private def current(root: String): (Snapshot, LogState) = {
    val st = stateAt(root)
    (Snapshot(st.version, st.files.toSeq, st.schemaDdl), st)
  }

  /** The latest version; fails loud on a non-table. */
  private def headVersion(root: String): Long = latestVersion(root).getOrElse(
    throw new IllegalArgumentException(s"not a graft_table: $root"))

  /** Replayed state at `asOf` (default: the latest version). */
  private def stateAt(root: String, asOf: Option[Long] = None): LogState = {
    val latest = headVersion(root) // a non-table fails loud, asOf or not
    replayState(root, asOf.getOrElse(latest))
  }

  /** Commit wall-clock of one version in epoch millis: the logged
    * commit-ts line when present, the log file's mtime for logs written
    * before timestamps were recorded. O(1) metadata. */
  def commitTimestamp(root: String, v: Long): Long = {
    val r = readVersion(root, v)
    require(r.isDefined, s"graft_table $root: version $v's log was truncated")
    r.get.timestamp
  }

  /** Timestamp time travel: the NEWEST version committed at or before
    * `tsMillis` — Delta's `timestampAsOf` resolution, O(retained
    * versions) log metadata. A timestamp older than the earliest
    * retained commit fails loud (the state at that time is unknowable
    * after truncation, not silently the earliest snapshot). */
  def versionAtTimestamp(root: String, tsMillis: Long): Long = {
    versionAtTimestampOpt(root, tsMillis).getOrElse {
      val first = (1L to latestVersion(root).get).iterator
        .flatMap(readVersion(root, _)).nextOption()
      throw new IllegalArgumentException(
        s"graft_table $root: no commit at or before ts=$tsMillis — earliest " +
          s"retained commit is version ${first.fold(-1L)(_.version)} " +
          s"at ts=${first.fold(-1L)(_.timestamp)}")
    }
  }

  /** [[versionAtTimestamp]]'s Option face: None when no retained commit
    * is at or before `tsMillis` — the ONE case a caller may legitimately
    * absorb (a stream's startingTimestamp predating the table delivers
    * everything). Not-a-table still fails loud; a blanket Try around
    * versionAtTimestamp would swallow that too and silently deliver
    * everything on a typo'd path. */
  def versionAtTimestampOpt(root: String, tsMillis: Long): Option[Long] = {
    (1L to headVersion(root)).flatMap(readVersion(root, _))
      .filter(_.timestamp <= tsMillis).map(_.version).maxOption
  }

  /** Snapshot-isolated read of `asOf` (default latest). The schema comes
    * from the log, not file inference — an empty version (everything
    * deleted) still reads as a typed empty frame, and all-file reads
    * skip per-file footer schema merging.
    *
    * The scan is built over a [[GraftFileIndex]], so file discovery is
    * the LOG (never a directory listing) and any filter the query pushes
    * down prunes whole files against the logged per-column min/max
    * before Spark opens a footer — `read(...).where("ts < X")` on a
    * clustered layout reads only the boundary files, with no declaration
    * needed. Execution is Spark's native vectorized parquet scan. */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame =
    readIndexed(spark, root, asOf)._1

  /** Spec/ops visibility: the file index behind the most recent
    * [[read]] on this JVM (its `lastPrune` shows what the query's
    * pushed filters kept of the live files). Diagnostic only. */
  @volatile private[graft] var lastReadIndex: Option[GraftFileIndex] = None

  /** [[read]] plus the live [[GraftFileIndex]] (None for an empty
    * snapshot) — spec/ops visibility into what a query's pushed filters
    * actually pruned. */
  private[graft] def readIndexed(spark: SparkSession, root: String,
      asOf: Option[Long] = None): (DataFrame, Option[GraftFileIndex]) = {
    val latest = headVersion(root)
    val v = asOf.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"graft_table $root: version $v out of range [1, $latest]")
    val st = replayState(root, v)
    val schema = StructType.fromDDL(st.schemaDdl)
    if (st.files.isEmpty)
      (spark.createDataFrame(java.util.Collections.emptyList[Row](), schema),
        None)
    else {
      val idx = new GraftFileIndex(root, st.files.toSeq,
        st.fileStats.toMap, st.fileSizes.toMap)
      lastReadIndex = Some(idx)
      // nullable read schema, as DataFrameReader.schema forces: the
      // vectorized reader must fill typed nulls for columns a
      // pre-evolution file lacks, not refuse a "required" column.
      // Column-mapped tables scan under PHYSICAL names (what the files
      // carry; the logged stats are keyed the same, so pushdown pruning
      // stays coherent) and project back to logical at the end.
      val readSchema = org.apache.spark.sql.GraftSqlBridge.asNullable(
        physicalSchema(st, schema))
      val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        idx, StructType(Nil), readSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        Map.empty)(spark)
      val scan = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
      // merge-on-read: rows a deletion vector marks dead are filtered
      // in-scan (or anti-joined over budget); a no-DV snapshot is the
      // bare scan
      val live = dvFilter(spark, root, st, st.files.toSeq, scan)
      val logical = if (st.colMap.isEmpty) live
        else live.select(schema.fields.toSeq.map(f =>
          col(physOf(st, f.name)).as(f.name)): _*)
      (logical, Some(idx))
    }
  }

  /** Log-level data skipping: which live files at `asOf` can contain a
    * `column BETWEEN lo AND hi` row, decided from the min/max recorded in
    * their add actions — NO footer is opened, no file listed. Files with
    * no logged stats for the column are kept (no stats = no skipping,
    * never a wrong skip). Returns (candidate files, all live files). */
  def filesInRange(root: String, column: String, lo: Any, hi: Any,
      asOf: Option[Long] = None): (Seq[String], Seq[String]) = {
    def big(x: Any): java.math.BigDecimal = x match {
      case n: java.math.BigDecimal => n
      case n: BigDecimal => n.bigDecimal
      case n: Number => new java.math.BigDecimal(n.toString)
      case s: String => // a timestamp bound against INT64-micros stats:
        // parse naive "yyyy-MM-dd[ HH:mm:ss[.SSSSSS]]" to epoch micros
        new java.math.BigDecimal(tsMicros(s))
      case other => throw new IllegalArgumentException(
        s"filesInRange: numeric bound expected, got $other")
    }
    val st = stateAt(root, asOf)
    val physCol = physOf(st, column) // stats are keyed physical
    val kept = st.files.toSeq.filter { f =>
      st.fileStats.get(f).flatMap(s => Option(s.get(physCol))) match {
        case None => true // conservative
        case Some(cs) =>
          val (mn, mx) = (cs.get("min"), cs.get("max"))
          if (mn == null || mx == null) true // bloom-only node: keep
          else if (mn.isTextual) { // string order: bounds must be strings
            val (l, h) = (lo.toString, hi.toString)
            !(h.compareTo(mn.asText()) < 0 || l.compareTo(mx.asText()) > 0)
          } else { // exact decimal compare — no double rounding ever
            // causes a wrong skip on 64-bit extremes
            val (l, h) = (big(lo), big(hi))
            !(h.compareTo(mn.decimalValue()) < 0 ||
              l.compareTo(mx.decimalValue()) > 0)
          }
      }
    }
    (kept, st.files.toSeq)
  }

  /** Metadata-only COUNT(*): the sum of live files' logged numRecords —
    * zero data IO at any scale (every add action carries its footer
    * count; merges re-log rewritten files with fresh counts). */
  def rowCount(root: String, asOf: Option[Long] = None): Long = {
    val st = stateAt(root, asOf)
    st.files.iterator.map(f => st.fileCounts.getOrElse(f, 0L) -
      st.dvs.get(f).map(_._2).getOrElse(0L)).sum
  }

  /** Metadata-only MIN/MAX of a column across the live files' logged
    * stats — None when any live file lacks stats for it (a partial
    * answer would be silently wrong). Zero data IO. */
  def columnRange(root: String, column: String,
      asOf: Option[Long] = None): Option[(Any, Any)] = {
    val st = stateAt(root, asOf)
    val physCol = physOf(st, column) // stats are keyed physical
    val per = st.files.toSeq.map(f =>
      st.fileStats.get(f).flatMap(s => Option(s.get(physCol))))
    if (per.isEmpty || per.exists(_.isEmpty)) return None
    val nodes = per.flatten
    // a node may carry only a bloom (no range stats for the type)
    if (nodes.exists(n => n.get("min") == null || n.get("max") == null))
      return None
    if (nodes.head.get("min").isTextual) {
      val mins = nodes.map(_.get("min").asText())
      val maxs = nodes.map(_.get("max").asText())
      Some((mins.min, maxs.max))
    } else {
      val mins = nodes.map(_.get("min").decimalValue())
      val maxs = nodes.map(_.get("max").decimalValue())
      Some((mins.min, maxs.max))
    }
  }

  /** Naive timestamp string → epoch micros (date-only allowed). */
  private def tsMicros(s: String): Long = {
    val t = if (s.contains(" ") || s.contains("T"))
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    else java.time.LocalDate.parse(s).atStartOfDay()
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
  }

  /** Snapshot read of `column BETWEEN lo AND hi`, scanning ONLY the files
    * whose logged min/max can match (plus the residual row filter). With
    * a range/z-order layout most files drop before Spark ever lists them
    * — the lakehouse pruning that makes OPTIMIZE's layouts pay off.
    * Timestamp columns take string bounds ("2024-01-05 00:00:00"); the
    * stats compare in epoch micros and the row filter casts to the
    * column's own type. */
  def readRange(spark: SparkSession, root: String, column: String,
      lo: Any, hi: Any, asOf: Option[Long] = None): DataFrame = {
    // one code path with every other read: the BETWEEN filter pushes
    // down into the GraftFileIndex scan, which prunes files from the
    // logged stats — this method is now just the typed-bounds
    // convenience face over read().where(...)
    val base = read(spark, root, asOf)
    val dt = base.schema(column).dataType
    base.where(col(column) >= lit(lo).cast(dt) && col(column) <= lit(hi).cast(dt))
  }

  /** Incremental change feed: the rows ADDED in versions
    * (fromExclusive, toInclusive], each stamped with `_commit_version`.
    * Skips `dataChange: false` adds (OPTIMIZE's layout-only rewrites), so
    * compacting a table between two feed reads cannot re-deliver the
    * whole table. Contract: an APPEND-ONLY change feed — removes are not
    * retracted. For merge/delete/overwrite between reads use
    * [[changesWithImages]], which replays DML as pre/post images when the
    * table's `changeDataFeed` property was on at the time; or read
    * snapshots. Composes with the ep9 incremental-watermark machinery:
    * persist the last-read version, pass it back as `changesFrom` on the
    * next run. */
  def changes(spark: SparkSession, root: String, fromExclusive: Long,
      toInclusive: Option[Long] = None): DataFrame =
    feedRead(spark, root, fromExclusive, toInclusive,
      " (read the current version and reset the feed cursor)",
      new StructType().add("_commit_version", "bigint")) { (st, r) =>
      if (r.dataAdds.isEmpty) None
      else Some(feedFrame(spark, root, st, r.dataAdds, sidecar = false)(
        "_commit_version" -> lit(r.version)))
    }

  /** FULL change data feed for (fromExclusive, toInclusive]: every
    * change row classified `_change_type ∈ {insert, update_preimage,
    * update_postimage, delete}` and stamped `_commit_version` +
    * `_commit_timestamp` (the logged commit wall-clock; log-mtime
    * fallback for pre-timestamp logs) — the Delta CDF read contract. Per version: append-only versions deliver
    * their added rows as `insert` (no sidecar needed); DML versions
    * deliver their logged `cdf/` sidecars (written when the table's
    * `changeDataFeed` property is true); OPTIMIZE's layout-only swaps
    * deliver nothing. A version that changed existing rows WITHOUT
    * sidecars (property off at the time, or overwrite/restore/
    * drop_partition — which never record images) fails loud: the feed
    * cannot invent retractions, resync from a snapshot. O(versions) log
    * metadata to plan; data IO proportional to the change volume only. */
  def changesWithImages(spark: SparkSession, root: String,
      fromExclusive: Long, toInclusive: Option[Long] = None): DataFrame =
    feedRead(spark, root, fromExclusive, toInclusive, "",
      new StructType().add("_change_type", "string")
        .add("_commit_version", "bigint").add("_commit_timestamp", "timestamp")) {
      (st, r) =>
        val stamps = Seq("_commit_version" -> lit(r.version),
          "_commit_timestamp" -> lit(new java.sql.Timestamp(r.timestamp)))
        if (r.cdc.nonEmpty)
          Some(feedFrame(spark, root, st, r.cdc, sidecar = true)(stamps: _*))
        else {
          if (r.changedExisting) throw new IllegalStateException(
            s"graft_table $root: version ${r.version} changed existing rows and " +
              "recorded no change data — it predates `changeDataFeed=true`, " +
              "or was an overwrite/restore/drop_partition (those never " +
              "record images). Resync from a snapshot read")
          if (r.dataAdds.isEmpty) None
          else Some(feedFrame(spark, root, st, r.dataAdds, sidecar = false)(
            ("_change_type" -> lit("insert")) +: stamps: _*))
        }
    }

  /** The read both change feeds share: the versions in (fromExclusive,
    * toInclusive] in order, each record turned into at most one frame by
    * `frame` under `to`'s state, unioned by name. An empty feed is `to`'s
    * schema plus `stamps`. A truncated version fails loud, its message
    * ending in `hint`. */
  private def feedRead(spark: SparkSession, root: String, fromExclusive: Long,
      toInclusive: Option[Long], hint: String, stamps: StructType)(
      frame: (LogState, VersionRecord) => Option[DataFrame]): DataFrame = {
    val latest = headVersion(root)
    val to = toInclusive.getOrElse(latest)
    require(fromExclusive >= 0 && to <= latest && fromExclusive <= to,
      s"graft_table $root: changes range ($fromExclusive, $to] out of [0, $latest]")
    val stTo = replayState(root, to)
    val frames = ((fromExclusive + 1) to to).flatMap { ver =>
      val r = readVersion(root, ver)
      require(r.isDefined,
        s"graft_table $root: change feed needs version $ver's log, which " +
          s"was truncated — catch up from a snapshot instead$hint")
      frame(stTo, r.get)
    }
    frames.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(StructType.fromDDL(stTo.schemaDdl).fields ++ stamps.fields)))
  }

  /** One version's rows in a change feed: `paths` read under `st`'s
    * physical schema — physical names are stable across renames and
    * drops, so every version's files read coherently — plus the
    * `_change_type` column cdc `sidecar`s carry, renamed to logical, then
    * `stamps` appended in order. */
  private def feedFrame(spark: SparkSession, root: String, st: LogState,
      paths: Seq[String], sidecar: Boolean)(stamps: (String, Column)*): DataFrame = {
    val schema = StructType.fromDDL(st.schemaDdl)
    val phys = physicalSchema(st, schema)
    val read = spark.read
      .schema(if (sidecar) phys.add("_change_type", "string") else phys)
      .parquet(paths.map(f => Paths.get(root).resolve(f).toString): _*)
    stamps.foldLeft(toLogical(read, st, schema)) { case (df, (n, c)) =>
      df.withColumn(n, c)
    }
  }

  /** True iff [[changesWithImages]] can replay (fromExclusive,
    * toInclusive] exactly: every version is append-only, layout-only, or
    * carries cdc sidecars. O(versions) log metadata. */
  def cdcCoveredSince(root: String, fromExclusive: Long,
      toInclusive: Long): Boolean =
    ((fromExclusive + 1) to toInclusive).forall(readVersion(root, _)
      .exists(r => r.cdc.nonEmpty || !r.changedExisting))

  /** Streaming-source metadata for (fromExclusive, toInclusive]: per
    * version, its data-changing added files, its cdc sidecar files
    * (present when the commit was DML under `changeDataFeed=true`), and
    * whether the version CHANGED existing data (removed files or grew a
    * deletion vector without being a pure layout-only OPTIMIZE swap —
    * merge/delete/overwrite/restore). O(versions) log metadata, no data
    * IO; a truncated version in the range fails loud (the delta is
    * unknowable — restart the consumer from a snapshot). */
  private[graft] def versionDeltas(root: String, fromExclusive: Long,
      toInclusive: Long): Seq[(Long, Seq[String], Seq[String], Boolean)] =
    ((fromExclusive + 1) to toInclusive).map { ver =>
      val r = readVersion(root, ver)
      require(r.isDefined,
        s"graft_table $root: version $ver's log was truncated — the " +
          "change stream cannot replay it; restart from a snapshot read")
      (ver, r.get.dataAdds, r.get.cdc, r.get.changedExisting)
    }

  /** True iff every version in (fromExclusive, toInclusive] only ADDED
    * rows — i.e. the change feed over that range is complete. OPTIMIZE
    * (removes + all-layout-only adds) qualifies: `changes` skips its
    * rewrites. merge/delete/overwrite do not: they removed or replaced
    * rows the feed cannot retract. A truncated version can't be proven
    * append-only, so it answers false and feed consumers (the MV) fall
    * back to a full recompute. O(versions) log metadata, no data IO. */
  def appendOnlySince(root: String, fromExclusive: Long,
      toInclusive: Long): Boolean =
    ((fromExclusive + 1) to toInclusive).forall(readVersion(root, _)
      .exists(!_.changedExisting))

  /** DESCRIBE HISTORY: one row per version — operation kind (inferred
    * from the action mix, the log stores no operation names), add/remove
    * file counts, rows added, schema-change and txn markers. Pure log
    * metadata: O(versions), never touches data files. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows = (1L to headVersion(root))
      .flatMap(readVersion(root, _)) // truncated = no rows
      .map { r =>
        val adds = r.dataAdds.size + r.layoutAdds.size
        val removes = r.removes.size
        val op = // evidence-driven: v1 is always the CREATE, whatever wrote
          // it (write, appendBatch — its txn still shows in the txn column)
          if (r.version == 1L) "CREATE"
          else if (r.constraint) "ALTER CONSTRAINT"
          else if (adds > 0 && removes > 0 && r.dataAdds.isEmpty) "OPTIMIZE"
          else if (r.meta && removes > 0) "OVERWRITE"
          else if (removes > 0 || r.dvFiles.nonEmpty) "MERGE" // incl. merge-on-read DML
          else if (r.meta && adds == 0) "ALTER SCHEMA" // rename/drop column
          else if (r.property && adds == 0) "SET PROPERTY"
          else if (r.txn.isDefined) "STREAMING APPEND"
          else "APPEND"
        (r.version, op, adds, removes, r.rowsAdded, r.meta, r.txn.orNull)
      }
    import spark.implicits._
    rows.toDF("version", "operation", "n_added_files", "n_removed_files",
      "rows_added", "schema_changed", "txn")
  }

  // -- commit machinery -------------------------------------------------------

  private def metaAction(schemaDdl: String,
      partitionBy: Seq[String] = Nil,
      columnMapping: Map[String, String] = Map.empty): ObjectNode = {
    val n = json.createObjectNode()
    val m = n.putObject("meta")
    m.put("schemaDdl", schemaDdl)
    if (partitionBy.nonEmpty) {
      val pb = m.putArray("partitionBy"); partitionBy.foreach(pb.add)
    }
    if (columnMapping.nonEmpty) {
      val cm = m.putObject("columnMapping")
      // logical-schema field order, deterministic
      StructType.fromDDL(schemaDdl).fieldNames.foreach { l =>
        columnMapping.get(l).foreach(cm.put(l, _))
      }
    }
    n
  }

  // -- column mapping (rename/drop without rewrite) -----------------------------

  /** logical → physical column name at `st` (identity when unmapped). */
  private def physOf(st: LogState, logical: String): String =
    if (st.colMap.isEmpty) logical else st.colMap.getOrElse(logical, logical)

  /** The logical schema re-keyed to PHYSICAL names — what the files
    * actually carry and every scan must request. */
  private def physicalSchema(st: LogState, logical: StructType): StructType =
    if (st.colMap.isEmpty) logical
    else StructType(logical.fields.map(f => f.copy(name = physOf(st, f.name))))

  /** Conform a logical-named frame to physical names before staging
    * (extra engine columns like `_change_type` pass through). */
  private def toPhysical(df: DataFrame,
      mapping: scala.collection.Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(c).as(mapping.getOrElse(c, c))): _*)

  /** Rename a physical-named frame back to the logical schema, keeping
    * any extra columns (`__f`, `__i`, `_change_type`) verbatim. */
  private def toLogical(df: DataFrame, st: LogState,
      logical: StructType): DataFrame =
    if (st.colMap.isEmpty) df
    else {
      val logOf = st.colMap.map(_.swap)
      df.select(df.columns.toSeq.map(c =>
        col(c).as(logOf.getOrElse(c, c))): _*)
    }

  /** The table's logical→physical column mapping (empty = identity). */
  def columnMapping(root: String, asOf: Option[Long] = None): Map[String, String] = {
    stateAt(root, asOf).colMap.toMap
  }

  /** Does a CHECK expression reference `column`? Whole-identifier match
    * (case-insensitive, backtick-quoted or bare) — a plain substring
    * test would block renaming `rice` because a constraint mentions
    * `price`. Conservative the other way: a matching word inside a
    * string literal still counts as a reference (rename stays blocked —
    * a spurious block beats a silently-broken constraint). */
  private def referencesColumn(checkExpr: String, column: String): Boolean =
    java.util.regex.Pattern.compile(
      "(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(column) +
        "(?![A-Za-z0-9_])")
      .matcher(checkExpr).find()

  /** Fresh physical name for a column added AFTER mapping activation: a
    * dropped column's physical data may still live in old files under
    * the plain name, so re-using it would resurrect stale values. */
  private def freshPhysical(logical: String): String =
    s"c_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}_$logical"

  /** ALTER TABLE RENAME COLUMN as a pure metadata commit: the logical
    * schema renames the field, the mapping points the new name at the
    * OLD physical name, and no data file is touched — old files (and
    * time travel to pre-rename versions) keep reading exactly as
    * written. Partition columns cannot rename (their name is the dir
    * layout); a name collision or a constraint referencing the old name
    * fails loud. */
  def renameColumn(root: String, oldName: String, newName: String): Long = {
    require(oldName.trim.nonEmpty && newName.trim.nonEmpty,
      "renameColumn: both names required")
    val (snap, st) = current(root)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val field = schema.fields.find(_.name == oldName).getOrElse(
      throw new IllegalArgumentException(
        s"graft_table $root: no column '$oldName' to rename " +
          s"(schema: ${schema.fieldNames.mkString(", ")})"))
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"graft_table $root: rename target '$newName' collides with an " +
        "existing column")
    require(!st.partitionBy.contains(oldName),
      s"graft_table $root: '$oldName' is a partition column — its name IS " +
        "the directory layout; relayout via overwrite instead")
    st.constraints.find(c => referencesColumn(c._2, oldName))
      .foreach { case (n, e) => throw new IllegalArgumentException(
        s"graft_table $root: constraint '$n' ($e) references '$oldName' — " +
          "drop it first, re-add against the new name") }
    // activate a TOTAL mapping if this is the first rename
    val baseMap =
      if (st.colMap.nonEmpty) st.colMap.toMap
      else schema.fieldNames.map(n => n -> n).toMap
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newMap = (baseMap - oldName) + (newName -> baseMap(oldName))
    commit(root, snap.version, protocolBump(st, 3) ++
      Seq(metaAction(newSchema.toDDL, st.partitionBy, newMap)))
  }

  /** A `protocol` action raising the table's reader floor to `to` —
    * emitted with the FIRST commit that enables a feature an old binary
    * would silently misread (column mapping rides the known meta action;
    * this line is an unknown action kind to pre-feature readers, so they
    * fail loud instead). Empty when the floor is already high enough. */
  private def protocolBump(st: LogState, to: Int): Seq[ObjectNode] =
    if (st.minReader >= to) Nil
    else {
      val n = json.createObjectNode()
      n.putObject("protocol").put("minReader", to)
      Seq(n)
    }

  /** ALTER TABLE DROP COLUMN as a pure metadata commit: the field leaves
    * the logical schema and mapping; old files keep the physical column
    * (readers just never project it) until a rewrite naturally sheds it.
    * Partition columns and constraint-referenced columns fail loud. */
  def dropColumn(root: String, name: String): Long = {
    val (snap, st) = current(root)
    val schema = StructType.fromDDL(snap.schemaDdl)
    require(schema.fieldNames.contains(name),
      s"graft_table $root: no column '$name' to drop " +
        s"(schema: ${schema.fieldNames.mkString(", ")})")
    require(schema.fields.length > 1,
      s"graft_table $root: cannot drop the last column")
    require(!st.partitionBy.contains(name),
      s"graft_table $root: '$name' is a partition column — relayout via " +
        "overwrite instead")
    st.constraints.find(c => referencesColumn(c._2, name))
      .foreach { case (n, e) => throw new IllegalArgumentException(
        s"graft_table $root: constraint '$n' ($e) references '$name' — " +
          "drop the constraint first") }
    val baseMap =
      if (st.colMap.nonEmpty) st.colMap.toMap
      else schema.fieldNames.map(n => n -> n).toMap
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    commit(root, snap.version, protocolBump(st, 3) ++
      Seq(metaAction(newSchema.toDDL, st.partitionBy, baseMap - name)))
  }
  private def addAction(path: String, numRecords: Long,
      dataChange: Boolean = true,
      stats: Option[ObjectNode] = None,
      sizeBytes: Long = -1L,
      partValues: Map[String, String] = Map.empty): ObjectNode = {
    val n = json.createObjectNode()
    val a = n.putObject("add")
    a.put("path", path); a.put("numRecords", numRecords)
    if (!dataChange) a.put("dataChange", false) // layout-only rewrite (OPTIMIZE)
    stats.foreach(a.set[ObjectNode]("stats", _)) // per-column min/max
    if (sizeBytes >= 0) a.put("size", sizeBytes)
    if (partValues.nonEmpty) {
      val pv = a.putObject("partitionValues")
      partValues.foreach { case (c, v) => pv.put(c, v) }
    }
    n
  }
  private def removeAction(path: String): ObjectNode = {
    val n = json.createObjectNode()
    n.putObject("remove").put("path", path)
    n
  }
  private def txnAction(appId: String, batchId: Long): ObjectNode = {
    val n = json.createObjectNode()
    val t = n.putObject("txn")
    t.put("appId", appId); t.put("batchId", batchId)
    n
  }

  /** Highest batchId this writer (`appId`) has committed, or None. Resolved
    * through `replayState`: the nearest checkpoint carries the full txn
    * high-water map, so only the log suffix past it is replayed. */
  def lastTxn(root: String, appId: String): Option[Long] = {
    if (!isTable(root)) return None
    val top = latestVersion(root).getOrElse(return None)
    replayState(root, top).txns.get(appId) // checkpoint carries the map
  }

  /** Exactly-once streaming ingest: append a micro-batch, stamped with
    * (appId, batchId). A REPLAYED batch — Spark re-runs batch N when the
    * crash landed between our commit and the checkpoint's — finds its own
    * txn already in the log and becomes a no-op (returns None), the
    * standard lakehouse idempotent-writes protocol. batchIds must be
    * monotone per appId (Structured Streaming's are); a NEW stream over a
    * fresh checkpoint needs a new appId or it would skip everything.
    * Races with other writers retry like `write` (an append is valid
    * against any snapshot). */
  def appendBatch(spark: SparkSession, df: DataFrame, root: String,
      appId: String, batchId: Long, evolve: Boolean = false,
      maxRetries: Int = 10): Option[Long] = {
    def done(st: Option[LogState]): Boolean =
      st.exists(_.txns.get(appId).exists(_ >= batchId))
    val st0 = latestVersion(root).map(replayState(root, _))
    if (done(st0)) return None // replay
    fireRaceHook()
    // evolve: the batch sink's `evolve: add_nulls` applied per micro-batch
    // — a RE-RUN of a pipeline whose source grew a column appends against
    // the existing table by widening it (meta + data in one txn-stamped
    // commit) instead of failing mid-stream. Conform against the snapshot
    // resolved HERE; a concurrent schema change aborts below (same rule
    // as writeEvolve — the conformed rows were computed against a stale
    // shape).
    val pb = st0.fold(Seq.empty[String])(_.partitionBy) // inherit layout
    val (out, metaDdl, mapNew) = st0 match {
      case Some(st) if evolve =>
        val (conformed, union, newCols, m) = conformEvolved(df, st, root)
        (conformed, if (newCols.nonEmpty) Some(union.toDDL) else None, m)
      case Some(st) => (conformPlain(df, st, root), None, st.colMap.toMap)
      case None => (df, None, Map.empty[String, String])
    }
    transact(root, s"streaming batch $batchId", st0, Some(spark),
      Some((appId, batchId)), maxRetries)(
      stageDataFiles(_, toPhysical(out, mapNew), root, st0, partitionBy = pb)) {
      (adds, st) =>
        // the racer may have been a replay of THIS txn — same
        // exactly-once rule as the check above
        if (done(st)) None
        else {
          if (evolve) st0.foreach(s0 => requireSchemaKept(root, s0, st))
          else st.foreach(conformPlain(out, _, root))
          Some(metaDdl.map(d => metaAction(d, pb, mapNew)).toSeq ++
            (if (st.isDefined) adds else metaAction(out.schema.toDDL) +: adds))
        }
    }
  }

  /** Claim version `expected + 1` with the given actions. Atomic publish
    * + conflict detection in one primitive (see class doc).
    * Package-visible so the spec can exercise the lost-race path
    * directly (a real interleaving needs two writers). */
  private[graft] def commit(root: String, expected: Long, actions: Seq[ObjectNode]): Long = {
    Files.createDirectories(logDir(root))
    val target = verFile(root, expected + 1)
    val tmp = Files.createTempFile(logDir(root), ".commit", ".tmp")
    // commit wall-clock as the FIRST log line (Delta's commitInfo):
    // `timestampAsOf` resolves against it. `commit` is a WHITELISTED
    // no-op in LogState.applyLine (replay throws on genuinely unknown
    // kinds); logs written before commit timestamps were recorded simply
    // lack the line, and timestamp resolution falls back to the log
    // file's mtime for those versions.
    val ts = json.createObjectNode()
    ts.putObject("commit").put("ts", System.currentTimeMillis())
    Files.writeString(tmp, (ts +: actions).map(json.writeValueAsString).mkString("\n"))
    try Files.createLink(target, tmp)
    catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentWriteException(
          s"graft_table $root: version ${expected + 1} was committed by " +
            "another writer (snapshot is stale)")
    }
    Files.deleteIfExists(tmp)
    expected + 1
  }

  /** Test seam: runs once after a DML call or `appendBatch` resolves its
    * snapshot — lets a spec interleave a competing writer
    * deterministically. */
  private[graft] var testRaceHook: () => Unit = () => ()
  private def fireRaceHook(): Unit = {
    val h = testRaceHook; testRaceHook = () => (); h()
  }

  /** How a DML, OPTIMIZE or dropPartition commit survives a lost race:
    * its actions stand iff every commit in between is disjoint from
    * `depFiles` under the [[AddRule]] its staged adds imply. */
  private final case class Replay(depFiles: Set[String],
      addRule: Seq[ObjectNode] => AddRule)

  /** The files an op's stagers moved into data/, dv/ and cdf/ — a
    * concurrent queue, since [[staged3]] runs the stagers at once. */
  private type Staged = java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** The one commit path of every op that stages files. `stage` writes
    * them, recording each in its [[Staged]]. Each attempt runs `attempt`
    * — the op's checks against the state it commits on, giving its
    * actions, or None when nothing is left to commit — CHECK-enforces the
    * staged adds at that state with `enforceWith` (None: the op adds no
    * new row), prefixes the `txn` action and claims the next slot. A lost
    * race re-runs the attempt at the new head (so a constraint added
    * meanwhile is enforced), or with `replay` re-commits the same actions
    * past disjoint commits. The staged files are deleted when the op ends
    * without its commit landing (a throw, a real conflict, the retries run
    * out, `attempt` gives None) — except after an error inside `commit`
    * other than a taken slot: its hard link may have landed, so they stay
    * for `vacuum`. `base` is the state the op staged against. */
  private def transact[S](root: String, ctx: String, base: Option[LogState],
      enforceWith: Option[SparkSession], txn: Option[(String, Long)] = None,
      maxRetries: Int = 10, replay: Option[Replay] = None,
      commitStage: Option[String] = None)(stage: Staged => S)(
      attempt: (S, Option[LogState]) => Option[Seq[ObjectNode]]): Option[Long] = {
    val staged = new Staged
    def discard(): Unit = staged.forEach { p =>
      try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
      ()
    }
    def head(): Option[LogState] = latestVersion(root).map(v =>
      if (base.exists(_.version == v)) base.get else replayState(root, v))
    var linking = false // a commit is in flight: its link may land
    try {
      val s = stage(staged)
      def run(): Option[Long] = {
        var st = if (replay.isEmpty) head() else base
        var at = st.fold(0L)(_.version)
        def plan() = attempt(s, st).map { acts =>
          enforceWith.foreach(enforceConstraints(_, root, acts, st, ctx))
          txn.map(t => txnAction(t._1, t._2)).toSeq ++ acts
        }
        var actions = plan()
        var landed: Option[Long] = None
        var tries = 0
        while (landed.isEmpty && actions.isDefined) {
          linking = true
          try landed = Some(commit(root, at, actions.get))
          catch {
            case e: ConcurrentWriteException => // the slot was taken
              linking = false
              tries += 1
              if (tries > maxRetries) throw e
              replay match {
                case None =>
                  st = head(); at = st.fold(0L)(_.version); actions = plan()
                case Some(Replay(depFiles, addRule)) =>
                  val latest = latestVersion(root).getOrElse(throw e)
                  val rule = addRule(actions.get.filter(_.has("add")))
                  ((at + 1) to latest).foreach { v =>
                    conflictWith(root, v, depFiles, rule, base.get.partitionBy)
                      .foreach { why => throw new ConcurrentWriteException(
                        s"graft_table $root: $ctx conflicts with a concurrent " +
                          s"commit — $why; re-run against the fresh snapshot") }
                  }
                  at = latest
              }
          }
        }
        if (landed.isEmpty) discard()
        landed
      }
      commitStage.fold(run())(Attribution.timed(_)(run()))
    } catch { case t: Throwable => if (!linking) discard(); throw t }
  }

  /** The [[AddRule]] for a DML txn that touched `depRel` and stages
    * `adds`: partition-scoped when every dependency's partition tuple is
    * known, all-adds-conflict otherwise (incl. unpartitioned tables). */
  private def dmlAddRule(state: LogState, depRel: Seq[String],
      adds: Seq[ObjectNode]): AddRule = {
    val pb = state.partitionBy
    if (pb.isEmpty) return AddsAlwaysConflict
    def tuple(pv: Map[String, String]): Option[Map[String, String]] =
      if (pb.forall(pv.contains)) Some(pb.map(c => c -> pv(c)).toMap) else None
    val touched = depRel.map(f => state.filePartVals.get(f).flatMap(tuple))
    val staged = adds.map(n => tuple(partValuesOf(n.get("add"))))
    if ((touched ++ staged).exists(_.isEmpty)) AddsAlwaysConflict
    else AddsConflictInParts((touched ++ staged).flatten.toSet)
  }

  /** Hive path-escaping inverse (%xx escapes back to their chars) for
    * logging a partition dir's VALUE; the dir name itself keeps Spark's
    * escaped form verbatim. */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        Character.digit(s.charAt(i + 1), 16) >= 0 &&
        Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Run up to three independent STAGING computations concurrently
    * (optimization guide §2.6 — Spark runs several jobs at once; a table
    * op's data/dv/cdc stagings share no mutable state: each writes its
    * own UUID-stamped staging dir and reads a snapshot-pinned file set,
    * so sequencing them serialized pure fixed cost — per-action planning
    * + codegen on the driver plus each job's scheduling tail, which at
    * test scale IS most of the op and at 100 TB back-fills each job's
    * straggler tail with the next job's tasks). The commit still happens
    * strictly after every staging completes — ACID ordering untouched.
    * The first failure propagates with its original type; the other legs
    * are still joined first (no orphaned half-running staging). */
  private def staged3[A, B, C](fa: => A, fb: => B, fc: => C): (A, B, C) = {
    @volatile var rb: Either[Throwable, B] = null
    @volatile var rc: Either[Throwable, C] = null
    val tb = new Thread(() =>
      rb = try Right(fb) catch { case t: Throwable => Left(t) },
      "graft-stage-b")
    val tc = new Thread(() =>
      rc = try Right(fc) catch { case t: Throwable => Left(t) },
      "graft-stage-c")
    tb.start(); tc.start()
    val ra = try Right(fa) catch { case t: Throwable => Left(t) }
    tb.join(); tc.join()
    // a null slot means the thread died without even recording a Left
    // (VM-level error between try entry and slot assignment) — name the
    // leg instead of failing with None.get below
    if (rb == null || rc == null) throw new IllegalStateException(
      s"graft_table staging leg ${if (rb == null) "b" else "c"} died " +
        "without a result (VM-level error in the staging thread)")
    (ra, rb, rc) match {
      case (Right(a), Right(b), Right(c)) => (a, b, c)
      case _ => throw Seq(ra, rb, rc).collectFirst { case Left(t) => t }.get
    }
  }

  /** Delete `p` and everything under it, deepest first. */
  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally w.close()
    }

  /** One parquet part of a staging write: its subdir under the staging
    * dir (`""` when flat), its rank `i` in (subdir, name) order and its
    * footer. */
  private final case class Part(into: String, stamp: String, i: Int,
      dir: String, path: Path,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata) {
    def rows: Long = footer.getBlocks.asScala.map(_.getRowCount).sum
    /** Root-relative target `<into>/[<sub>/]<stamp>_<tag><i>.parquet`. */
    def rel(tag: String, sub: String = ""): String =
      (into +: Seq(sub).filter(_.nonEmpty) :+ s"${stamp}_$tag$i.parquet")
        .mkString("/")
  }

  /** The one staging primitive behind the data, dv and cdc stagers.
    * `write` writes `df` (on a session clone carrying `conf`) into a fresh
    * `_staging_<stamp>` dir and returns what the stager needs from the
    * whole output (data: bloom sketches); `place` maps each part that
    * holds rows to its root-relative target and action. Each placed part
    * moves atomically under `into` and is recorded in `staged`: the files
    * are INVISIBLE to readers until a commit references them, and
    * [[transact]] deletes them when that commit does not land. The staging
    * dir is deleted here, also when a step throws — so only a crash
    * leaves orphans for `vacuum`, never a torn table. */
  private def stageParquet[W, A](staged: Staged, df: DataFrame, root: String,
      into: String, conf: (String, String)*)(write: (DataFrame, String) => W)(
      place: (W, Part) => (String, A)): Seq[A] = {
    val stamp = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val staging = Paths.get(root, s"_staging_$stamp")
    try {
      // Staged files ALWAYS carry timestamps as INT64 epoch-micros, never
      // Spark's INT96 default: the streaming file reader and the logged
      // min/max skip stats both speak INT64-micros only (an INT96 column
      // would fail the stream mid-batch and record no stats). Session conf
      // is the only knob parquet exposes, so the write runs under a session
      // CLONE with it pinned — the caller's conf is untouched and
      // concurrent writers cannot race a shared set/restore. The pin acts
      // on TIMESTAMP (local-zone) columns only, and a write with nothing
      // to pin runs on `df` as it is (withConf skips the clone).
      val tsPin = Option.when(org.apache.spark.sql.GraftSqlBridge.existsType(
        df.schema)(_ == org.apache.spark.sql.types.TimestampType))(
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
      val w = write(org.apache.spark.sql.GraftSqlBridge.withConf(df,
        tsPin.toSeq ++ conf: _*), staging.toString)
      Files.createDirectories(Paths.get(root, into))
      val parts = {
        val s = Files.walk(staging)
        // regular files only: a partition DIR may be named `…=x.parquet`
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(p => (staging.relativize(p.getParent).toString, p))
          .toSeq.sortBy { case (d, p) => (d, p.getFileName.toString) }
        finally s.close()
      }
      // record counts (and data's min/max) come from the FOOTER — pure
      // metadata IO, never a re-scan of what was just written
      // read options built on the op's one Hadoop conf: the one-argument
      // `open` builds a fresh Configuration (classpath XML) per footer
      val hconf = df.sparkSession.sessionState.newHadoopConf()
      parts.zipWithIndex.flatMap { case ((dir, p), i) =>
        val hp = new org.apache.hadoop.fs.Path(p.toUri)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, hconf),
          org.apache.parquet.HadoopReadOptions.builder(hconf, hp).build())
        val part = try Part(into, stamp, i, dir, p, r.getFooter)
          finally r.close()
        // an empty part adds no rows, only metadata
        Option.when(part.rows > 0L) {
          val (rel, action) = place(w, part)
          val target = Paths.get(root).resolve(rel)
          Files.createDirectories(target.getParent)
          Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
          staged.add(target)
          action
        }
      }
    } finally deleteTree(staging)
  }

  /** Stage `df`'s rows as data files under data/ and return their adds,
    * with per-column min/max (and opt-in bloom) stats and, on a
    * partitioned layout, partition dirs and values. */
  private def stageDataFiles(staged: Staged, df: DataFrame, root: String,
      st: Option[LogState], dataChange: Boolean = true,
      partitionBy: Seq[String] = Nil): Seq[ObjectNode] = {
    partitionBy.foreach(c => require(df.columns.exists(
      df.sparkSession.sessionState.conf.resolver(_, c)),
      s"graft_table $root: partition column '$c' is not in the write " +
        s"schema (${df.columns.mkString(", ")})"))
    stageParquet(staged, df, root, "data") { (pinned, staging) =>
      // Partitioned layout, Iceberg-style identity partitioning: files
      // land under hive-style `data/<col>=<val>/` dirs BUT the partition
      // columns STAY in the data (written via duplicated `__p_` shadow
      // columns that the partitionBy consumes) — every file remains
      // self-contained, so merge/DML/time-travel/streaming compose
      // unchanged, and the footer min=max stats on a single-partition file
      // make partition pruning a special case of the existing log-stats
      // skipping.
      if (partitionBy.isEmpty) pinned.write.mode("overwrite").parquet(staging)
      else partitionBy.foldLeft(pinned)((d, c) => d.withColumn(s"__p_$c", col(c)))
        .write.mode("overwrite")
        .partitionBy(partitionBy.map(c => s"__p_$c"): _*)
        .parquet(staging)
      // optional per-file bloom stats (`stats_bloom` property): staged
      // absolute path -> (physical column, base64 sketch) pairs
      stageBlooms(df.sparkSession, root, st, staging)
    } { (blooms, part) =>
      // hive dir components `__p_<c>=<escaped>` → logged values + a
      // `data/<c>=<escaped>/...` target dir (real column names, Spark's
      // escaping kept verbatim for the path)
      val comps = if (part.dir.isEmpty) Nil
        else part.dir.split(java.io.File.separatorChar.toString).toSeq
      val partValues = comps.collect {
        case c if c.startsWith("__p_") && c.contains('=') =>
          val Array(k, v) = c.split("=", 2)
          k.stripPrefix("__p_") -> unescapePathName(v)
      }.toMap
      val rel = part.rel("part", comps.map(_.stripPrefix("__p_")).mkString("/"))
      // the min/max land in the add action so `readRange` can skip
      // whole FILES from the log alone — never opening a footer, the
      // data-skipping half of the z-order/range layouts. Bloom sketches
      // ride INSIDE the per-column stats node, so the checkpoint and
      // replay plumbing carry them with zero new state
      val stats0 = footerStats(part.footer)
      val stats = blooms.get(part.path.toAbsolutePath.normalize.toString) match {
        case None => stats0
        case Some(cols) =>
          val node = stats0.getOrElse(json.createObjectNode())
          cols.foreach { case (c, b64, dom) =>
            val cn = Option(node.get(c)).collect { case o: ObjectNode => o }
              .getOrElse(node.putObject(c))
            cn.put("bloom", b64)
            // the sketch's hash domain (putLong vs putString), so the
            // prune side never consults it with a mismatched-type
            // literal — a string predicate against a long-built sketch
            // would hash differently and WRONGLY skip a matching file
            cn.put("bloomT", dom)
          }
          Some(node)
      }
      (rel, addAction(rel, part.rows, dataChange, stats,
        Files.size(part.path), partValues))
    }
  }

  /** Optional per-file BLOOM stats (opt-in via the `stats_bloom` table
    * property: comma-separated LOGICAL column names; `stats_bloom_bits`
    * bounds the sketch, default 16384 bits = 2 KiB per column per file).
    * Point lookups (`=` / `IN`) on a high-cardinality column whose value
    * ranges overlap across files — the case min/max skipping cannot
    * touch — drop whole files from the LOG alone, the Delta/Iceberg
    * answer bounded to a few KB of log per file.
    *
    * Computed with ONE column-pruned Spark job over the freshly staged
    * files (reads only the bloom'd columns, page-cache warm), partial
    * sketches merged per file on the driver — bounded by file count ×
    * columns × sketch bytes, the same class as the stats maps. Only
    * integral and string columns are bloomable (the sketch hashes
    * putLong/putString; lossy renderings of other types would risk a
    * WRONG skip — rejected loud instead). Returns staged-absolute-path →
    * (physical column, base64 sketch, hash domain) triples. */
  private def stageBlooms(spark: SparkSession, root: String,
      stOpt: Option[LogState],
      staging: String): Map[String, Seq[(String, String, String)]] = {
    val propCols = stOpt.flatMap(_.properties.get("stats_bloom"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    if (propCols.isEmpty) return Map.empty
    val st = stOpt.get
    val bits = st.properties.get("stats_bloom_bits").map(_.toLong)
      .getOrElse(16384L)
    require(bits >= 1024L && bits <= (1L << 23),
      s"graft_table $root: stats_bloom_bits must be in [1024, ${1L << 23}]" +
        s", got $bits")
    val phys = propCols.map(c => physOf(st, c))
    val reader = spark.read.parquet(staging)
    val resolver = spark.sessionState.conf.resolver
    // a bloom'd column can legitimately be absent from one write (schema
    // evolution staged the narrow shape) — skip it, never fail the write
    val present = phys.flatMap(c =>
      reader.schema.fields.find(f => resolver(f.name, c)))
    if (present.isEmpty) return Map.empty
    present.foreach { f =>
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.ByteType]
          || f.dataType.isInstanceOf[org.apache.spark.sql.types.ShortType]
          || f.dataType.isInstanceOf[org.apache.spark.sql.types.IntegerType]
          || f.dataType.isInstanceOf[org.apache.spark.sql.types.LongType]
          || f.dataType.isInstanceOf[org.apache.spark.sql.types.StringType],
        s"graft_table $root: stats_bloom column '${f.name}' has type " +
          s"${f.dataType.sql} — only integral and string columns take " +
          "bloom stats (other types' hash renderings would risk a wrong " +
          "skip)")
    }
    val names = present.map(_.name)
    val isStr = present.map(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.StringType]).toArray
    val n = names.size
    import org.apache.spark.util.sketch.BloomFilter
    def ser(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos); bos.toByteArray
    }
    val rows = reader.select(
      (org.apache.spark.sql.functions.input_file_name().as("__f") +:
        names.map(col)): _*)
    val bitsC = bits // stable capture for the task closure
    val isStrC = isStr
    val partial = rows.rdd.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap
        .empty[String, Array[BloomFilter]]
      it.foreach { r =>
        val bs = m.getOrElseUpdate(r.getString(0),
          Array.fill(n)(BloomFilter.create(bitsC / 16, bitsC)))
        var i = 0
        while (i < n) {
          if (!r.isNullAt(i + 1)) {
            if (isStrC(i)) bs(i).putString(r.getString(i + 1))
            else bs(i).putLong(r.get(i + 1) match {
              case l: java.lang.Long => l.longValue()
              case x: java.lang.Integer => x.longValue()
              case s: java.lang.Short => s.longValue()
              case b: java.lang.Byte => b.longValue()
              case other => throw new IllegalStateException(
                s"unreachable: validated integral, got ${other.getClass}")
            })
          }
          i += 1
        }
      }
      m.iterator.map { case (f, bs) => f -> bs.map(ser) }
    }.collect()
    // driver-side merge: a file split across input partitions yields
    // partial sketches — same create() params, so mergeInPlace is exact
    val merged = scala.collection.mutable.LinkedHashMap
      .empty[String, Array[BloomFilter]]
    partial.foreach { case (f, arrs) =>
      val des = arrs.map(a =>
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(a)))
      merged.get(f) match {
        case None => merged(f) = des
        case Some(acc) => acc.zip(des).foreach { case (a, d) =>
          a.mergeInPlace(d); ()
        }
      }
    }
    val b64 = java.util.Base64.getEncoder
    merged.map { case (f, bs) =>
      java.nio.file.Paths.get(new java.net.URI(f).getPath)
        .toAbsolutePath.normalize.toString ->
        names.indices.map(i => (names(i),
          b64.encodeToString(ser(bs(i))),
          if (isStr(i)) "string" else "long")).toSeq
    }.toMap
  }

  /** Merge row-group statistics into one per-file {col: {min, max}} node
    * for TOP-LEVEL primitive columns whose stats order matches Spark's
    * (signed ints/floats; UTF8 strings — parquet's unsigned-lexicographic
    * binary order IS UTF8String's byte order). A column missing valid
    * stats in ANY row group is dropped from the node — conservative: no
    * stats means no skipping, never a wrong skip. */
  private def footerStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Option[ObjectNode] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val blocks = footer.getBlocks.asScala
    if (blocks.isEmpty) return None
    val out = json.createObjectNode()
    footer.getFileMetaData.getSchema.getFields.asScala
      .filter(_.isPrimitive).map(_.asPrimitiveType).foreach { pt =>
        val name = pt.getName
        val perBlock = blocks.map(_.getColumns.asScala
          .find(c => c.getPath.size() == 1 && c.getPath.toDotString == name))
        val stats = perBlock.flatten.map(_.getStatistics)
        val ok = perBlock.forall(_.isDefined) && stats.nonEmpty &&
          stats.forall(s => s != null && s.hasNonNullValue)
        if (ok) {
          val isStr = pt.getLogicalTypeAnnotation != null &&
            pt.getLogicalTypeAnnotation.isInstanceOf[
              LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          pt.getPrimitiveTypeName match {
            case INT32 =>
              val mins = stats.map(_.genericGetMin.asInstanceOf[Integer].toLong)
              val maxs = stats.map(_.genericGetMax.asInstanceOf[Integer].toLong)
              val o = out.putObject(name)
              o.put("min", mins.min); o.put("max", maxs.max)
            case INT64 if pt.getLogicalTypeAnnotation == null ||
                pt.getLogicalTypeAnnotation.isInstanceOf[
                  LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
                (pt.getLogicalTypeAnnotation.isInstanceOf[
                   LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] &&
                 pt.getLogicalTypeAnnotation.asInstanceOf[
                   LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
                   .getUnit == LogicalTypeAnnotation.TimeUnit.MICROS) =>
              // plain longs, and Spark's timestamps (INT64 epoch-MICROS —
              // the log stores the raw micros; readers interpret via the
              // table schema)
              val mins = stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].toLong)
              val maxs = stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].toLong)
              val o = out.putObject(name)
              o.put("min", mins.min); o.put("max", maxs.max)
            case DOUBLE =>
              val mins = stats.map(_.genericGetMin.asInstanceOf[java.lang.Double].toDouble)
              val maxs = stats.map(_.genericGetMax.asInstanceOf[java.lang.Double].toDouble)
              val o = out.putObject(name)
              o.put("min", mins.min); o.put("max", maxs.max)
            case FLOAT =>
              val mins = stats.map(_.genericGetMin.asInstanceOf[java.lang.Float].toDouble)
              val maxs = stats.map(_.genericGetMax.asInstanceOf[java.lang.Float].toDouble)
              val o = out.putObject(name)
              o.put("min", mins.min); o.put("max", maxs.max)
            case BINARY if isStr =>
              val mins = stats.map(_.genericGetMin.asInstanceOf[
                org.apache.parquet.io.api.Binary].toStringUsingUTF8)
              val maxs = stats.map(_.genericGetMax.asInstanceOf[
                org.apache.parquet.io.api.Binary].toStringUsingUTF8)
              val o = out.putObject(name)
              o.put("min", mins.min); o.put("max", maxs.max)
            case _ => () // timestamps/decimals/etc.: no skip stats (yet)
          }
        }
      }
    if (out.isEmpty) None else Some(out)
  }

  /** A plain append or merge source as the table's columns, under the
    * table's spelling and order: a missing, extra or retyped column fails
    * (nullability is plan metadata, not a type — see [[Conform]]). */
  private def conformPlain(df: DataFrame, st: LogState, root: String): DataFrame =
    Conform(df, StructType.fromDDL(st.schemaDdl)).exact(s"graft_table $root: " +
      "schema mismatch on append/merge (conform with select/cast, or " +
      "overwrite to replace the schema)")

  /** The table's declared partition columns at `asOf` (default latest);
    * empty for an unpartitioned table. Pure log metadata. */
  def partitioning(root: String, asOf: Option[Long] = None): Seq[String] =
    latestVersion(root) match {
      case None => Nil
      case Some(latest) => replayState(root, asOf.getOrElse(latest)).partitionBy
    }

  /** CREATE TABLE: a metadata-only first commit declaring schema, layout
    * and properties — no data files. The catalog's `CREATE TABLE` /
    * CTAS-staging face; a subsequent append sees a normal 0-file
    * snapshot. Fails loud if the table already exists (the catalog maps
    * that to TableAlreadyExistsException). */
  def create(root: String, schema: StructType, partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Long = {
    require(latestVersion(root).isEmpty, s"graft_table $root already exists")
    val props = properties.toSeq.sortBy(_._1).map { case (k, v) =>
      val n = json.createObjectNode()
      val p = n.putObject("property"); p.put("key", k); p.put("value", v)
      n
    }
    commit(root, 0L, metaAction(schema.toDDL, partitionBy) +: props)
  }

  /** Append or overwrite. Appends retry on commit races (their adds are
    * valid against any snapshot); overwrites recompute their removes per
    * attempt so the swap is against the snapshot they actually beat.
    *
    * `partitionBy` (overwrite/first write only) declares a hive-dir
    * partition layout — appends always inherit the table's own layout;
    * passing a different one on append fails loud. */
  def write(spark: SparkSession, df: DataFrame, root: String, mode: String,
            maxRetries: Int = 10, txn: Option[(String, Long)] = None,
            partitionBy: Seq[String] = Nil): Long = {
    require(Set("append", "overwrite")(mode),
      s"graft_table: write mode must be append|overwrite, got '$mode'")
    // one log replay covers layout AND mapping at staging time
    val st0 = latestVersion(root).map(v => replayState(root, v))
    val tablePb = st0.fold(Seq.empty[String])(_.partitionBy)
    val effPb = mode match {
      case "append" if st0.isDefined =>
        require(partitionBy.isEmpty || partitionBy == tablePb,
          s"graft_table $root: append cannot change the partition layout " +
            s"(table: [${tablePb.mkString(",")}], write asked " +
            s"[${partitionBy.mkString(",")}]) — overwrite to relayout")
        tablePb
      case _ => partitionBy
    }
    // appends into a column-mapped table stage under PHYSICAL names.
    // Overwrite PRESERVES an active mapping (Delta's rule) instead of
    // resetting it: a change feed spanning rename → overwrite reads
    // pre-overwrite files, which carry the OLD physical names — under a
    // reset (identity) schema every renamed column would come back null.
    // Surviving logical columns keep their physicals, genuinely-new
    // columns get FRESH ones (a dropped column's bytes in old files must
    // never resurrect under a re-used name), vanished columns drop out.
    val owMap: Map[String, String] =
      if (mode != "overwrite") Map.empty
      else st0.map(_.colMap).filter(_.nonEmpty)
        .fold(Map.empty[String, String])(cm => df.schema.fields.map(f =>
          f.name -> cm.getOrElse(f.name, freshPhysical(f.name))).toMap)
    val src = if (mode == "append") st0.fold(df)(conformPlain(df, _, root)) else df
    val stageDf =
      if (mode == "append") st0.fold(src)(s => toPhysical(src, s.colMap))
      else toPhysical(df, owMap)
    transact(root, mode, st0, Some(spark), txn, maxRetries)(
      stageDataFiles(_, stageDf, root, st0, partitionBy = effPb)) { (adds, st) =>
      if (mode == "append") st.foreach(conformPlain(src, _, root))
      // per-attempt LAYOUT check, mirroring the schema check above: a
      // concurrent overwrite that changed partitionBy between staging and
      // this attempt would otherwise commit files with the old layout's
      // dirs/partitionValues (reads stay correct — identity partitioning
      // keeps the columns in the data — but a later dropPartition fails
      // on the blind files)
      val nowPb = if (mode == "append") st.fold(effPb)(_.partitionBy) else effPb
      if (nowPb != effPb)
        throw new ConcurrentWriteException(
          s"graft_table $root: partition layout changed concurrently " +
            s"(staged [${effPb.mkString(",")}], table now " +
            s"[${nowPb.mkString(",")}]) — re-run the append " +
            "against the fresh snapshot")
      Some(mode match {
        case "append" if st.isDefined => adds
        case _ => // first-ever commit, or overwrite: (re)declare schema
          metaAction(df.schema.toDDL, effPb, owMap) +:
            (st.toSeq.flatMap(_.files.toSeq.map(removeAction)) ++ adds)
      })
    }.get
  }

  /** Append with schema EVOLUTION — the path sinks' `evolve: add_nulls`
    * policy on the table format: genuinely new columns extend the table
    * schema (a meta action in the SAME commit, so schema + data change
    * atomically); columns the table has but the write lacks are appended
    * as typed nulls (old readers keep every column they know — parquet
    * fills missing columns as null under the log schema, so old FILES
    * need no rewrite); type conflicts always fail. A racing writer that
    * changed the SCHEMA aborts this append (the conformed rows were
    * computed against a stale shape — merge's rule); a racing same-shape
    * append retries through. */
  def writeEvolve(spark: SparkSession, df: DataFrame, root: String,
      maxRetries: Int = 10): Long = {
    val st0 = latestVersion(root) match {
      case None => return write(spark, df, root, "append")
      case Some(v) => replayState(root, v)
    }
    val pb = st0.partitionBy
    val (conformed, union, newCols, mapNew) = conformEvolved(df, st0, root)
    transact(root, "evolving append", Some(st0), Some(spark),
      maxRetries = maxRetries)(
      stageDataFiles(_, toPhysical(conformed, mapNew), root, Some(st0),
        partitionBy = pb)) { (adds, st) =>
      requireSchemaKept(root, st0, st)
      // the widening meta re-declares the layout AND mapping: meta
      // REPLACES both on replay, so dropping either here would silently
      // departition/unmap the table
      Some(if (newCols.nonEmpty) metaAction(union.toDDL, pb, mapNew) +: adds
        else adds)
    }.get
  }

  /** An evolving append's rows were conformed to `was`'s schema; a
    * concurrent schema change left them stale. */
  private def requireSchemaKept(root: String, was: LogState,
      st: Option[LogState]): Unit =
    if (st.exists(_.schemaDdl != was.schemaDdl))
      throw new ConcurrentWriteException(
        s"graft_table $root: schema changed concurrently — re-run the " +
          "evolving append against the fresh snapshot")

  /** An evolving append or merge source projected onto the table with its
    * new columns appended ([[Conform]]: a write `ID` IS the table's `id`);
    * a retyped column fails. Returns (conformed rows, union schema, new
    * fields, the column mapping to write under). On a column-mapped table,
    * new columns get FRESH physical names (a dropped column's old physical
    * data may still live in old files under the plain name). */
  private def conformEvolved(df: DataFrame, st: LogState, root: String)
      : (DataFrame, StructType, Seq[StructField], Map[String, String]) = {
    val c = Conform(df, StructType.fromDDL(st.schemaDdl))
    require(c.retyped.isEmpty, s"graft_table $root: evolve type conflict " +
      s"(${c.describe}) — cast first; evolution only ADDS columns, it never " +
      "changes a type")
    val mapping = if (st.colMap.isEmpty) Map.empty[String, String]
      else st.colMap.toMap ++ c.extra.map(f => f.name -> freshPhysical(f.name))
    (c.project(s"graft_table $root", keepExtra = true),
      StructType(c.target.fields ++ c.extra), c.extra, mapping)
  }

  /** A merge key set, matched against a frame's `on` columns under join
    * equality: null matches nothing, -0.0 = 0.0, NaN = NaN, binary and
    * structs by value. `in` keeps a frame's rows whose key is in the set
    * (a left semi join), `notIn` the others (a left anti join, so a
    * null-keyed row stays). */
  private sealed trait MergeKeys {
    def in(df: DataFrame): DataFrame
    def notIn(df: DataFrame): DataFrame
  }

  /** At most [[LocalKeyCap]] keys the driver holds, matched by ONE `InSet`
    * node in the plan: no relation to scan, build or broadcast. A key
    * with a null part can match nothing, so it stays out of the set. */
  private final class HeldKeys(on: Seq[String], schema: StructType,
      all: Seq[Row]) extends MergeKeys {
    val rows: Seq[Row] = all.filterNot(_.anyNull)
    val member: Column = org.apache.spark.sql.GraftSqlBridge.inSet(
      on.map(col), schema, rows)
    def in(df: DataFrame): DataFrame = df.where(member)
    def notIn(df: DataFrame): DataFrame = df.where(coalesce(!member, lit(true)))
    def ++(o: HeldKeys): HeldKeys = new HeldKeys(on, schema, rows ++ o.rows)
  }

  /** A distributed key frame, broadcast-joined. */
  private final class FrameKeys(on: Seq[String], val keys: DataFrame)
    extends MergeKeys {
    def in(df: DataFrame): DataFrame = df.join(broadcast(keys), on, "left_semi")
    def notIn(df: DataFrame): DataFrame = df.join(broadcast(keys), on, "left_anti")
  }

  private case object NaNKey
  /** A collected key row under SQL grouping equality, as Scala equality:
    * nulls group together, -0.0 folds onto 0.0, NaN equals NaN, binary
    * compares by value (`Row` equality compares arrays by reference). */
  private def keyOf(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.lang.Double if d.isNaN => NaNKey
    case f: java.lang.Float if f.isNaN => NaNKey
    case d: java.lang.Double if d == 0.0 => 0.0d: java.lang.Double
    case f: java.lang.Float if f == 0.0f => 0.0f: java.lang.Float
    case b: Array[Byte] => b.toSeq
    case v => v
  }

  /** Data file name → root-relative path of `files` (data file names are
    * UUID-unique within a table). */
  private def relOfName(files: Seq[String]): Map[String, String] =
    files.map(r => Paths.get(r).getFileName.toString -> r).toMap

  /** `df` as change-feed rows of type `t`. */
  private def tagged(df: DataFrame, t: String): DataFrame =
    df.withColumn("_change_type", lit(t))

  /** What a row-level op changes, as its matching semantics decide it;
    * [[rewriteRows]] stages and commits it. `touched`: the sorted files
    * holding a changed row; `dropped` ⊆ `touched`: files removed whole by
    * metadata (deleteWhere's full-match files), the others change
    * partially. The frames are by-name, built only when staged: `cow` the
    * copy-on-write content replacing the partial files, `fresh` the rows a
    * merge-on-read commit adds (the genuinely new ones), `victims` the
    * `__f`/`__i` positions merge-on-read marks dead, `feed` the change
    * rows (table columns + `_change_type`). */
  private final class RowChange(val touched: Seq[String],
      val dropped: Seq[String], cowRows: => Option[DataFrame],
      freshRows: => Option[DataFrame], victimRows: => DataFrame,
      feedRows: => DataFrame) {
    def cow = cowRows; def fresh = freshRows
    def victims = victimRows; def feed = feedRows
  }

  /** The one rewrite path of [[merge]], [[deleteWhere]] and
    * [[updateWhere]]. Merge-on-read when `deletionVectors=true` and some
    * file changes partially: partial files keep their bytes, `victims`
    * extend their cumulative vectors, only `fresh` rows are staged.
    * Copy-on-write otherwise: every touched file is removed, `cow` staged.
    * `dropped` files are removed either way. The data, dv and feed
    * stagings run concurrently ([[staged3]], `<span>_stage`) under the
    * op's column `mapping`; [[transact]] commits `lead` (merge's evolve
    * meta), the removes and the staged actions (`<span>_commit`),
    * CHECK-enforced when `enforce`, replayed past disjoint commits with
    * partition-scoped adds when `partScoped`. */
  private def rewriteRows(spark: SparkSession, root: String, state: LogState,
      span: String, ctx: String, change: RowChange, enforce: Boolean,
      txn: Option[(String, Long)],
      mapping: scala.collection.Map[String, String],
      partScoped: Boolean = true, lead: Seq[ObjectNode] = Nil): Long = {
    val partial = change.touched.diff(change.dropped)
    val mor = dvEnabled(state) && partial.nonEmpty
    val removes = (if (mor) change.dropped else change.touched).sorted
      .map(removeAction)
    transact(root, ctx, Some(state), Option.when(enforce)(spark), txn,
      replay = Some(Replay(change.touched.toSet, adds =>
        if (partScoped) dmlAddRule(state, change.touched, adds)
        else AddsAlwaysConflict)),
      commitStage = Some(s"${span}_commit")) { staged =>
      Attribution.timed(s"${span}_stage")(staged3(
        (if (mor) change.fresh else change.cow).toSeq.flatMap(d =>
          stageDataFiles(staged, toPhysical(d, mapping), root, Some(state),
            partitionBy = state.partitionBy)),
        if (!mor) Nil else stageDvFiles(staged, spark, root, state,
          change.victims.select(col("__f"), col("__i")), partial),
        if (!changeFeedEnabled(state)) Nil
        else stageCdcFiles(staged, toPhysical(change.feed, mapping), root)))
    } { case ((adds, dvActs, cdc), _) =>
      Some(lead ++ removes ++ adds ++ dvActs ++ cdc)
    }.get
  }

  /** Upsert/delete that rewrites ONLY the files containing matched keys.
    *
    * Protocol: resolve the snapshot; take a bounded census of the change
    * set's keys (at most [[LocalKeyCap]] + 1 rows reach the driver); find
    * the touched files with one probe of the base (tagged with
    * `input_file_name()`) against the keys — an in-plan key set when the
    * census held them all, a broadcast semi-join of the distributed keys
    * otherwise; the collect is bounded by FILE count, never row count —
    * then describe a [[RowChange]] for the one rewrite path, [[rewriteRows]]:
    * `cow` holds the touched files' kept rows + the rows the merge writes,
    * `fresh` those written rows alone, `victims` the target rows it
    * replaces or deletes, `feed` the deletes, pre/post-images and inserts.
    * Untouched files are never read past the semi-join probe and never
    * rewritten; at 100 TB that is the entire point of a lakehouse MERGE.
    *
    * Concurrency (Delta's conflict checker): losing the version race no
    * longer aborts unconditionally — the intervening commits are
    * replayed, and the merge re-commits at the new head when they are
    * provably disjoint (different files; data adds only in partitions
    * this merge neither touched nor wrote). A REAL conflict — table
    * definition changed, a dependency file removed/re-vectored, or data
    * added in this merge's partition scope — throws
    * [[ConcurrentWriteException]]; callers re-run the whole merge
    * against the fresh snapshot. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            on: Seq[String], how: String = "upsert",
            txn: Option[(String, Long)] = None,
            condition: Option[String] = None,
            deleteKeys: Option[DataFrame] = None,
            evolve: Boolean = false,
            keysPartitionLocal: Boolean = false): Long = {
    require(on.nonEmpty, "graft_table merge needs `on` key columns")
    require(Set("upsert", "delete")(how),
      s"graft_table merge: how must be upsert|delete, got '$how'")
    require(condition.isEmpty || how == "upsert",
      "graft_table merge: `condition` applies to upsert (WHEN MATCHED AND " +
        "cond THEN UPDATE) — a conditional delete is a filter on the " +
        "delete set itself")
    require(deleteKeys.isEmpty || (how == "upsert" && condition.isEmpty),
      "graft_table merge: `deleteKeys` (upsert + delete in ONE atomic " +
        "commit — the MV-refresh shape) composes with the plain upsert " +
        "only; a pure delete is how=delete, a conditional one a filter")
    require(!evolve || (how == "upsert" && condition.isEmpty),
      "graft_table merge: `evolve` (schema-evolving upsert) composes " +
        "with the plain upsert only")
    val (snap, state) = current(root)
    fireRaceHook()
    // schema EVOLUTION (evolve=true): genuinely-new source columns widen
    // the table schema in the SAME commit (meta + data atomically —
    // writeEvolve's contract on the merge path); rewritten and untouched
    // old rows read the new columns as typed nulls, type conflicts fail,
    // and on a column-mapped table new columns get fresh physical names.
    val (ups, schema, mapNew, evolvedCols) =
      if (how == "upsert" && evolve) {
        val (conformed, union, nc, m) = conformEvolved(updates, state, root)
        (conformed, union, m, nc)
      } else (if (how == "upsert") conformPlain(updates, state, root) else updates,
        StructType.fromDDL(snap.schemaDdl),
        state.colMap.toMap,
        Seq.empty[StructField])
    // ---- bounded key census ----------------------------------------------
    // One capped row scan collects at most LocalKeyCap + 1 key rows: every
    // key in small mode (the MV-maintenance / streaming-CDF shape: a
    // handful to a few thousand keys), proof of a large set past it (the
    // bulk-CDC shape). A row scan, not an aggregate: CollectLimit stops
    // once it holds the cap, and it is one job when the first partition
    // holds the cap or every row (a one-file change set); each further
    // partition step is one more job. Small mode HOLDS
    // its keys: the SQL-MERGE duplicate check and the deleteKeys overlap
    // check are driver set tests, and every membership test downstream
    // (probe, rewrite, matched split) is one InSet node in its plan, so
    // no job scans, builds or broadcasts the keys again. Large mode keeps
    // distributed key frames, broadcast-joined, and checks duplicates
    // with an aggregate that returns at most one row; no key set reaches
    // the driver.
    val keyCols = on.map(col)
    // keys compare at the table's key types: an upsert was conformed to
    // the table above, a delete set is conformed here (a key that cannot
    // round-trip into the key type equals no row and is dropped)
    val keySchema = org.apache.spark.sql.GraftSqlBridge.asNullable(
      StructType(on.map(k => schema.find(f =>
        spark.sessionState.conf.resolver(f.name, k)).getOrElse(
        throw new IllegalArgumentException(
          s"graft_table $root: merge key '$k' is not a table column")))))
    val keyFrame = if (how == "upsert") ups.select(keyCols: _*)
      else Conform.keys(ups, keySchema, s"graft_table $root: merge delete keys")
    val census = Attribution.timed("merge_census")(
      keyFrame.limit(LocalKeyCap + 1).collect())
    val smallKeys = census.length <= LocalKeyCap
    if (how == "upsert") {
      // SQL MERGE law: one target row must match at most one source row
      val dup = if (smallKeys) {
        val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
        census.find(r => !seen.add(keyOf(r)))
      } else ups.groupBy(keyCols: _*).count().where(col("count") > 1)
        .limit(1).collect().headOption
      require(dup.isEmpty, s"graft_table merge: change set has duplicate " +
        s"keys on (${on.mkString(",")}), e.g. ${dup.fold("")(_.toString)}")
    }
    // past the duplicate check an upsert's keys are distinct already, and
    // a semi/anti build side needs no distinct: no shuffle for either
    val keys: MergeKeys = if (smallKeys) new HeldKeys(on, keySchema, census)
      else new FrameKeys(on, if (how == "upsert") keyFrame else keyFrame.distinct())
    // delete keys as the key types (Conform.keys, as above), with their
    // own capped collect: held only beside held upsert keys and when they
    // fit under the cap themselves, distributed otherwise
    val delKeys = deleteKeys.map { dk =>
      val conformed = Conform.keys(dk, keySchema,
        s"graft_table $root: merge deleteKeys")
      Option.when(smallKeys)(conformed.limit(LocalKeyCap + 1).collect())
        .filter(_.length <= LocalKeyCap)
        .fold[MergeKeys](new FrameKeys(on, conformed.distinct()))(
          new HeldKeys(on, keySchema, _))
    }
    delKeys.foreach { dk =>
      // under join equality, as the joins below match: a null-keyed
      // delete never collides with a null-keyed upsert
      val overlap = (keys, dk) match {
        case (u: HeldKeys, d: HeldKeys) =>
          val up = u.rows.map(keyOf).toSet
          d.rows.find(r => up(keyOf(r)))
        case (u, d: FrameKeys) => u.in(d.keys).limit(1).collect().headOption
        case _ => None // held delete keys sit beside held upsert keys only
      }
      require(overlap.isEmpty, "graft_table merge: a key appears in " +
        s"BOTH the upsert set and deleteKeys (e.g. ${overlap
          .fold("")(_.toString)}) — the outcome would be order-dependent")
    }
    // every key the merge names: ONE set where both sides are alike, else
    // (held upsert keys beside distributed delete keys) each side apart
    val keySets: Seq[MergeKeys] = (keys, delKeys) match {
      case (k, None) => Seq(k)
      case (u: HeldKeys, Some(d: HeldKeys)) => Seq(u ++ d)
      case (u: FrameKeys, Some(d: FrameKeys)) =>
        Seq(new FrameKeys(on, u.keys.unionByName(d.keys)))
      case (u, Some(d)) => Seq(u, d)
    }
    val base = livePosScan(spark, root, state, snap.files, schema)
    // ONE probe job returns the touched FILE set (any key, upserts and
    // atomic deletes alike — drives the rewrite set) and, for a small
    // plain upsert, the matched UPSERT keys (feed the post/insert split
    // without their own scan). The delete and conditional branches, and
    // large mode, collect just the file names, so an every-row-matches
    // merge (the CDC last-writer-wins shape) never hauls its whole key
    // space through the probe's collect. Each task returns its own
    // distinct rows — no shuffle, so no second job — and a file's rows
    // share a task unless the file is split. Matched keys keep the
    // base-side representation; they only ever re-enter membership
    // tests under the same equality, so the split is unchanged.
    val needMatched = how == "upsert" && condition.isEmpty && smallKeys
    val probe = keySets.map(_.in(base)).reduce(_ unionByName _)
    val probed = Attribution.timed("merge_probe")((keys match {
      case u: HeldKeys if needMatched =>
        probe.select(col("__f") +: u.member.as("__up") +: keyCols: _*)
      case _ => probe.select(col("__f"))
    }).rdd.mapPartitions(_.toSet.iterator).collect())
    val touchedNames = probed.map(_.getString(0)).toSet
    val touchedRel = touchedNames.toSeq.flatMap(relOfName(snap.files).get)
      .distinct.sorted
    val dataCols = schema.fields.toSeq.map(f => col(f.name))
    val touchedRows = // live rows with __f/__i position attached
      if (touchedRel.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          schema.add("__f", "string").add("__i", "bigint"))
      else base.where(col("__f").isin(touchedNames.toSeq: _*))
    val rewritten = keySets.foldLeft(touchedRows)((d, k) => k.notIn(d))
      .select(dataCols: _*)
    // Each branch describes its RowChange; every branch's joins run over
    // the touched subset only.
    val change = (how, condition) match {
      case ("delete", _) =>
        val matchedPre = keys.in(touchedRows)
        new RowChange(touchedRel, Nil, Some(rewritten), None, matchedPre,
          tagged(matchedPre.select(dataCols: _*), "delete"))
      case ("upsert", None) =>
        val matchedPre = keys.in(touchedRows)
        val matchedKeys: MergeKeys = // small mode: free from the probe job
          if (needMatched) new HeldKeys(on, keySchema, probed
            .filter(_.getBoolean(1)).map(r => Row.fromSeq(r.toSeq.drop(2))))
          else new FrameKeys(on, matchedPre.select(keyCols: _*))
        val post0 = matchedKeys.in(ups)
        // evolve + a source MISSING existing table columns: the conform
        // pass null-filled them, and replacing matched rows wholesale
        // would silently null real data (Delta's updateAll with schema
        // evolution PRESERVES target columns absent from the source; the
        // non-evolve path rejects such a source loudly — evolve must not
        // turn that error into data loss). Matched rows take the source
        // value only for columns the ORIGINAL source carried; inserts
        // keep the null fill — there is no target row to preserve.
        val srcMissing = Conform(updates, schema).missing.map(_.name)
        val post = if (!evolve || srcMissing.isEmpty) post0 else {
          // duplicate-key targets: the non-evolve path collapses every
          // matched target row to the ONE source row per key, so the
          // preserve join must not fan out N post-images — keep the
          // deterministic first target row ((__f, __i) scan position,
          // unique per row) per key as the preserve donor
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(on.map(col): _*).orderBy(col("__f"), col("__i"))
          val t = matchedPre.withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1).drop("__rn").as("t")
          val s = post0.as("s")
          val onExpr = on.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
          t.join(s, onExpr, "inner").select(schema.fields.toSeq.map { f =>
            (if (srcMissing.contains(f.name)) col(s"t.${f.name}")
             else col(s"s.${f.name}")).as(f.name)
          }: _*)
        }
        val inserts = matchedKeys.notIn(ups)
        // atomic companion deletes (deleteKeys): their matched rows join
        // the victim set and tag `delete` in the feed — one commit, one
        // version, never an observable upsert-without-delete interim
        val delMatched = delKeys.map(_.in(touchedRows))
        // post ∪ inserts ≡ ups except on the evolve-preserve path, where
        // post carries the target-preserved matched rows
        val upsEff = if (post eq post0) ups else post.unionByName(inserts)
        def upsertCdc = tagged(matchedPre.select(dataCols: _*), "update_preimage")
          .unionByName(tagged(post, "update_postimage"))
          .unionByName(tagged(inserts, "insert"))
        new RowChange(touchedRel, Nil, Some(rewritten.unionByName(upsEff)),
          Some(upsEff), delMatched.fold(matchedPre)(matchedPre.unionByName(_)),
          delMatched.fold(upsertCdc)(dm =>
            upsertCdc.unionByName(tagged(dm.select(dataCols: _*), "delete"))))
      case ("upsert", Some(cond)) =>
        // WHEN MATCHED AND cond THEN UPDATE, WHEN NOT MATCHED THEN INSERT
        // (the last-writer-wins / newer-timestamp CDC clause): matched
        // pairs judge `cond` over `t.`-(target) and `s.`-(source)
        // prefixed columns — source replaces the row iff cond holds,
        // stale sources are DROPPED, unmatched sources insert. Only the
        // cond-winning target rows are victims — a tgtWins row stays in
        // place under merge-on-read (no rewrite, no vector entry).
        val t = touchedRows.as("t"); val s = ups.as("s")
        val onExpr = on.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
        val pairs = t.join(s, onExpr, "inner")
        val tCols = schema.fields.toSeq.map(f => col(s"t.${f.name}").as(f.name))
        val sCols = schema.fields.toSeq.map(f => col(s"s.${f.name}").as(f.name))
        val srcWins = pairs.where(expr(cond)).select(sCols: _*)
        val tgtWins = pairs.where(!coalesce(expr(cond), lit(false)))
          .select(tCols: _*)
        val inserts = s.join(t.select(on.map(k => col(s"t.$k").as(k)): _*),
          on, "left_anti").select(schema.fields.toSeq.map(f => col(f.name)): _*)
        new RowChange(touchedRel, Nil, Some(rewritten.unionByName(srcWins)
            .unionByName(tgtWins).unionByName(inserts)),
          Some(srcWins.unionByName(inserts)),
          pairs.where(expr(cond))
            .select(col("t.__f").as("__f"), col("t.__i").as("__i")),
          tagged(pairs.where(expr(cond)).select(tCols: _*), "update_preimage")
            .unionByName(tagged(srcWins, "update_postimage"))
            .unionByName(tagged(inserts, "insert")))
      case other => throw new IllegalStateException(
        s"unreachable merge shape $other — `how` was validated above")
    }
    // the widening meta (evolve with genuinely-new columns) rides the
    // SAME commit — schema + data change atomically, like writeEvolve
    val meta = if (evolvedCols.isEmpty) Nil
      else Seq(metaAction(schema.toDDL, state.partitionBy, mapNew))
    // Partition-scoped add tolerance is SOUND for a merge only when a
    // row's key pins its partition: the not-matched classification probed
    // every live file by key, so a concurrent insert of the same key into
    // an untouched partition would otherwise commit alongside this
    // merge's insert — duplicate keys with no serial schedule producing
    // them. keys ⊇ partition columns makes that impossible (same key ⇒
    // same partition ⇒ rule 3 catches it); `keysPartitionLocal = true` is
    // the caller's explicit contract for the one-writer-per-partition
    // layout. Everything else defaults to all-adds-conflict (Delta
    // conflicts concurrent AddFiles against the txn's read scope — a
    // merge's read scope here is the whole key space).
    val keyedParts = keysPartitionLocal || state.partitionBy.forall(p =>
      on.exists(spark.sessionState.conf.resolver(_, p)))
    rewriteRows(spark, root, state, "merge", s"merge ($how)", change,
      enforce = true, txn, mapNew, partScoped = keyedParts, lead = meta)
  }

  /** Conservative log-stats pruning for pushed/parsed predicate
    * conjuncts: a file is dropped only when some UNDERSTOOD top-level
    * conjunct (col {<,<=,>,>=,=,IN} literal, either operand order;
    * BETWEEN arrives pre-split into two comparisons; exact numeric
    * up-casts unwrapped) PROVES no row in it can make the predicate
    * TRUE from the logged min/max. Everything else — functions over
    * columns, ORs, unknown shapes, missing stats — keeps the file (no
    * stats = no skipping, never a wrong skip). NULL-sound: stats cover
    * non-null values, and a NULL comparison is never TRUE, so a
    * range-disjoint file truly has no matching row.
    *
    * Columns arrive as UnresolvedAttribute (the string-predicate DML
    * path) or AttributeReference (the [[GraftFileIndex]] pushdown path
    * — `dataFilters` are resolved plan expressions). */
  private[tables] def pruneByExprs(
      statsOf: String => Option[com.fasterxml.jackson.databind.JsonNode],
      files: Seq[String],
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    // a cast that loses no information keeps stats comparisons exact in
    // decimal space; anything lossy (long→double, int→float, date↔ts
    // rescales) must NOT prune
    def exactCast(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType | ShortType, FloatType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    // (column, test(min, max) => possibly-true) per understood conjunct;
    // literals become BigDecimal (numerics, timestamp micros) or String
    def bd(v: Any): Option[java.math.BigDecimal] = v match {
      case n: java.lang.Number => Some(new java.math.BigDecimal(n.toString))
      case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
      case _ => None
    }
    sealed trait Lit; case class NumL(v: java.math.BigDecimal) extends Lit
    case class StrL(v: String) extends Lit
    def lit(l: Literal): Option[Lit] = l.dataType match {
      case StringType =>
        Option(l.value).map(v => StrL(v.toString))
      case TimestampType | TimestampNTZType =>
        Option(l.value).flatMap(bd).map(NumL) // micros since epoch
      case DateType => // days since epoch — matches the INT32 stats
        Option(l.value).flatMap(bd).map(NumL)
      case _: NumericType =>
        Option(l.value).flatMap(bd).map(NumL)
      case _ => None
    }
    // cmp(statsNode, litValue): Some(-1|0|1) comparing a bound to the
    // literal in the column's order, None when shapes mismatch
    def cmpNode(n: com.fasterxml.jackson.databind.JsonNode, v: Lit): Option[Int] =
      (n.isTextual, v) match {
        case (true, StrL(x)) => Some(n.asText().compareTo(x).sign)
        case (false, NumL(x)) if n.isNumber =>
          Some(n.decimalValue().compareTo(x).sign)
        case _ => None
      }
    // a Test judges the COLUMN's whole stats node: min/max range checks
    // guard on the fields being present (a node may carry only a bloom),
    // and equality checks ALSO consult the optional per-file bloom — the
    // point-lookup skip min/max ranges cannot provide when file value
    // ranges overlap. Bloom semantics are conservative by construction:
    // mightContain never returns false for an inserted value, and the
    // consult only fires for the exact hash domains staging used
    // (putLong for integral columns, putString for strings).
    type Test = com.fasterxml.jackson.databind.JsonNode => Boolean
    def rangeOk(cs: com.fasterxml.jackson.databind.JsonNode,
        f: (com.fasterxml.jackson.databind.JsonNode,
            com.fasterxml.jackson.databind.JsonNode) => Boolean): Boolean = {
      val mn = cs.get("min"); val mx = cs.get("max")
      if (mn == null || mx == null) true else f(mn, mx)
    }
    def bloomOk(cs: com.fasterxml.jackson.databind.JsonNode,
        v: Lit): Boolean = Option(cs.get("bloom")).forall { b =>
      // consult ONLY when the literal's type matches the sketch's hash
      // domain. The unresolved string-DML path can hand a string
      // literal for a BIGINT column (deleteWhere(root, "id = '123'")):
      // row evaluation would cast-match it, but putString('123') and
      // putLong(123) hash differently, so a cross-domain consult would
      // WRONGLY skip the file. Domain source: the logged "bloomT" tag
      // (written with the sketch), else inferred from the min/max node
      // type (string stats are textual, integral stats numeric); no
      // domain evidence = no consult, never a wrong skip.
      val domain = Option(cs.get("bloomT")).map(_.asText()).orElse {
        Option(cs.get("min")).orElse(Option(cs.get("max"))).map(n =>
          if (n.isTextual) "string" else "long")
      }
      lazy val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(b.asText())))
      (domain, v) match {
        case (Some("string"), StrL(s)) => bf.mightContainString(s)
        case (Some("long"), NumL(x)) => // only an exact long consults the
          // sketch — a fractional or out-of-range literal keeps the file
          // (its equality is Catalyst's to fold, never a bloom's to guess)
          scala.util.Try(x.longValueExact()).toOption
            .forall(bf.mightContainLong)
        case _ => true // type mismatch or unknown domain: keep the file
      }
    }
    def eqOk(cs: com.fasterxml.jackson.databind.JsonNode,
        v: Lit): Boolean =
      rangeOk(cs, (mn, mx) => cmpNode(mn, v).forall(_ <= 0) &&
        cmpNode(mx, v).forall(_ >= 0)) && bloomOk(cs, v)
    def tests(e: Expression): Option[(String, Test)] = {
      def col(x: Expression): Option[String] = x match {
        case UnresolvedAttribute(Seq(n)) => Some(n)
        case a: AttributeReference => Some(a.name)
        case c: Cast if c.child.resolved &&
          exactCast(c.child.dataType, c.dataType) => col(c.child)
        case _ => None
      }
      def mk(name: String, t: Test) = Some((name, t))
      e match {
        case LessThan(c, l: Literal) => col(c).flatMap(n => lit(l).flatMap(v =>
          mk(n, cs => rangeOk(cs, (mn, _) => cmpNode(mn, v).forall(_ < 0)))))
        case LessThanOrEqual(c, l: Literal) => col(c).flatMap(n => lit(l).flatMap(v =>
          mk(n, cs => rangeOk(cs, (mn, _) => cmpNode(mn, v).forall(_ <= 0)))))
        case GreaterThan(c, l: Literal) => col(c).flatMap(n => lit(l).flatMap(v =>
          mk(n, cs => rangeOk(cs, (_, mx) => cmpNode(mx, v).forall(_ > 0)))))
        case GreaterThanOrEqual(c, l: Literal) => col(c).flatMap(n => lit(l).flatMap(v =>
          mk(n, cs => rangeOk(cs, (_, mx) => cmpNode(mx, v).forall(_ >= 0)))))
        case EqualTo(c, l: Literal) => col(c).flatMap(n => lit(l).flatMap(v =>
          mk(n, cs => eqOk(cs, v))))
        case In(c, ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
          col(c).flatMap { n =>
            val vs = ls.map(l => lit(l.asInstanceOf[Literal]))
            if (vs.exists(_.isEmpty)) None
            else mk(n, cs => vs.flatten.exists(v => eqOk(cs, v)))
          }
        // literal-first order: swap into the canonical form
        case LessThan(l: Literal, c) => tests(GreaterThan(c, l))
        case LessThanOrEqual(l: Literal, c) => tests(GreaterThanOrEqual(c, l))
        case GreaterThan(l: Literal, c) => tests(LessThan(c, l))
        case GreaterThanOrEqual(l: Literal, c) => tests(LessThanOrEqual(c, l))
        case EqualTo(l: Literal, c) => tests(EqualTo(c, l))
        case _ => None
      }
    }
    val understood = filters.flatMap(conjuncts).flatMap(tests(_))
    if (understood.isEmpty) return files
    files.filter { f =>
      statsOf(f) match {
        case None => true // no stats recorded = keep
        case Some(stats) => understood.forall { case (name, possible) =>
          val key = stats.fieldNames().asScala.find(_.equalsIgnoreCase(name))
          key.forall(k => possible(stats.get(k)))
        }
      }
    }
  }

  /** String-predicate face of [[pruneByExprs]] (the DML probe path):
    * parse with the catalyst parser directly — the Column API's expr()
    * wraps the string lazily (SqlExpression) and only analysis unwraps
    * it, so the AST never reaches a Column-level inspection. */
  private def pruneByStats(logSt: LogState, files: Seq[String],
      predicate: String): Seq[String] = {
    // stats are keyed by PHYSICAL column names; the predicate speaks
    // logical — rewrite the stats lookup through the mapping
    val statsOf: String => Option[com.fasterxml.jackson.databind.JsonNode] =
      if (logSt.colMap.isEmpty) logSt.fileStats.get _
      else f => logSt.fileStats.get(f).map { s =>
        val renamed = json.createObjectNode()
        logSt.colMap.foreach { case (logical, phys) =>
          Option(s.get(phys)).foreach(renamed.set[ObjectNode](logical, _))
        }
        renamed
      }
    pruneByExprs(statsOf, files,
      Seq(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(predicate)))
  }

  /** Test/ops visibility into the probe's log-stats pruning: (candidate
    * files the predicate could match, all live files). Same contract as
    * [[filesInRange]] but for an arbitrary predicate via its understood
    * conjuncts. */
  private[graft] def candidateFilesForPredicate(root: String,
      predicate: String): (Seq[String], Seq[String]) = {
    val (snap, st) = current(root)
    (pruneByStats(st, snap.files, predicate), snap.files)
  }

  /** Per-file match counts for `pred` over the live snapshot — the probe
    * behind predicate DELETE/UPDATE. Two pruning layers before any row
    * is touched: (1) log-stats file pruning (`pruneByStats`) drops whole
    * files the predicate provably cannot match — the TTL-delete shape
    * (`ts < cutoff` on a time-clustered layout) probes only the boundary
    * files from the LOG alone; (2) the scan over survivors is
    * column-pruned and predicate-pushed, so parquet row-group stats
    * prune IO inside each file and only matching rows surface. One job:
    * each task counts its matching rows per file and the driver sums the
    * per-task counts (a file split across tasks shows up in several).
    * Returns relative touched files → matched row count. */
  private def probeMatches(spark: SparkSession, root: String,
      snap: Snapshot, pred: org.apache.spark.sql.Column,
      state: LogState, predicate: String): Map[String, Long] = {
    val schema = StructType.fromDDL(snap.schemaDdl)
    val candidates = pruneByStats(state, snap.files, predicate)
    if (candidates.isEmpty) return Map.empty
    // LIVE rows only: a row an existing deletion vector already marks
    // dead can neither re-match nor re-delete
    val base = livePosScan(spark, root, state, candidates, schema)
    val perTask = base.where(pred).select(col("__f")).rdd.mapPartitions { rows =>
      val n = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach(r => n.updateWith(r.getString(0))(c => Some(c.getOrElse(0L) + 1L)))
      n.iterator
    }.collect()
    val rel = relOfName(candidates)
    perTask.groupMapReduce(_._1)(_._2)(_ + _)
      .flatMap { case (name, n) => rel.get(name).map(_ -> n) }
  }

  /** What [[rewriteWhere]] resolved and probed for the op's change:
    * matched row count per touched file and the live positioned scan of a
    * file subset. */
  private final case class Probed(state: LogState, schema: StructType,
      pred: Column, assign: Map[String, Column], matched: Map[String, Long],
      live: Seq[String] => DataFrame) {
    val touched: Seq[String] = matched.keys.toSeq.sorted
    def dataCols: Seq[Column] = schema.fields.toSeq.map(f => col(f.name))
  }

  /** The shared head of [[deleteWhere]] and [[updateWhere]]: the predicate
    * and `set`'s assignments resolve against the table schema before any
    * early return (a typo'd column fails loud on an empty table too); an
    * empty table or no match is a no-op; else the op's `change` goes down
    * the one rewrite path, [[rewriteRows]]. */
  private def rewriteWhere(spark: SparkSession, root: String, op: String,
      span: String, predicate: String, emptyHint: String,
      set: Map[String, String], txn: Option[(String, Long)],
      enforce: Boolean)(change: Probed => RowChange): Long = {
    require(predicate.trim.nonEmpty, s"$op: empty predicate — $emptyHint")
    val (snap, state) = current(root)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val typed = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val pred = expr(predicate)
    typed.where(pred) // analysis only: an unknown column throws here
    val resolver = spark.sessionState.conf.resolver
    val assign = set.map { case (name, e) =>
      val f = schema.fields.find(t => resolver(t.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"$op: SET column '$name' is not in the table schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
      f.name -> Conform.assign(expr(e), f.name, typed.select(expr(e)).schema.head.dataType,
        f.dataType, op)
    }
    if (snap.files.isEmpty) return snap.version
    fireRaceHook()
    val matched = Attribution.timed(s"${span}_probe")(
      probeMatches(spark, root, snap, pred, state, predicate))
    if (matched.isEmpty) return snap.version // no-op: no row matches
    rewriteRows(spark, root, state, span, op, change(Probed(state, schema,
      pred, assign, matched, livePosScan(spark, root, state, _, schema))),
      enforce, txn, state.colMap)
  }

  /** DELETE WHERE — predicate delete, the GDPR/TTL workhorse. Three
    * file classes from one pushdown probe scan: untouched files (no
    * matching row) survive AS-IS; files where EVERY row matches are
    * `dropped` by a pure metadata remove (a TTL delete aligned with an
    * ingest-date layout reclaims whole files without reading a byte of
    * them past the probe's pruned scan); only PARTIAL files change: `cow`
    * keeps their rows where the predicate is false or null (SQL DELETE
    * removes rows where it is TRUE only), `victims` are the matching rows,
    * no row is `fresh`, the `feed` holds the deleted rows. At 100 TB with
    * a date-clustered layout the rewrite set is the one boundary file per
    * partition edge, not the table. Commit races resolve like merge's. */
  def deleteWhere(spark: SparkSession, root: String, predicate: String,
      txn: Option[(String, Long)] = None): Long =
    rewriteWhere(spark, root, "deleteWhere", "delete_where", predicate,
      "an unconditional delete is `write(emptyDf, mode=overwrite)`, say it",
      Map.empty, txn, enforce = false) { p =>
      // live rows per file = logged footer count minus its vector's dead rows
      def liveCount(f: String): Long = p.state.fileCounts.getOrElse(f, -1L) -
        p.state.dvs.get(f).map(_._2).getOrElse(0L)
      val (full, partial) = p.touched.partition(f => p.matched(f) == liveCount(f))
      // deleteWhere only drops rows: its rewrites carry no new row to check
      new RowChange(p.touched, full, Option.when(partial.nonEmpty)(
          p.live(partial).where(!coalesce(p.pred, lit(false))).select(p.dataCols: _*)),
        None, p.live(partial).where(p.pred),
        tagged(p.live(p.touched).where(p.pred).select(p.dataCols: _*), "delete"))
    }

  /** UPDATE WHERE — predicate update, same probe and file triage as
    * [[deleteWhere]]: each assignment `col := exprStr` applies to matching
    * rows (predicate TRUE; null keeps the old value, per SQL UPDATE),
    * every other row and column passes through bit-exact. `cow` is the
    * touched files' rows so assigned, `victims` the matching rows, `fresh`
    * their post-images, `feed` pre- and post-images. Assignments resolve
    * against the TABLE schema and store-assign to the declared column
    * type ([[Conform.assign]]): no type drift, no wrapped value, and an
    * unknown column fails loud before any job runs. */
  def updateWhere(spark: SparkSession, root: String, predicate: String,
      set: Map[String, String], txn: Option[(String, Long)] = None): Long = {
    require(set.nonEmpty, "updateWhere: empty SET clause")
    rewriteWhere(spark, root, "updateWhere", "update_where", predicate,
      "to rewrite every row use overwrite", set, txn, enforce = true) { p =>
      val live = p.live(p.touched)
      val hit = live.where(p.pred)
      def assigned(df: DataFrame): DataFrame = df.select(p.schema.fields.toSeq
        .map(f => p.assign.get(f.name).fold(col(f.name))(v =>
          when(p.pred, v).otherwise(col(f.name)).as(f.name))): _*)
      new RowChange(p.touched, Nil, Some(assigned(live)), Some(assigned(hit)),
        hit, tagged(hit.select(p.dataCols: _*), "update_preimage")
          .unionByName(tagged(assigned(hit), "update_postimage")))
    }
  }

  /** RESTORE — roll the table back to `toVersion` as a NEW commit, pure
    * log metadata: re-reference that version's files (with their logged
    * stats/counts, so skipping and metadata-only counts keep working),
    * de-reference files it lacks, and re-declare its schema if it
    * differed. No data file is read, written, or moved — at 100 TB a
    * restore is O(changed files) log lines, same as any commit — and
    * history is preserved: the bad versions stay time-travelable until
    * truncated, and the change feed sees the restore as a normal
    * remove+add version (feed consumers must resync, which
    * [[appendOnlySince]] correctly reports). Fails loud if the target
    * version's files were already vacuumed or its log truncated. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val (cur, curState) = current(root)
    if (toVersion == cur.version) return cur.version
    val tgt = snapshot(root, Some(toVersion)) // validates range; throws on
    // a truncated log past every covering checkpoint
    val missing = tgt.files.filterNot(f =>
      Files.exists(Paths.get(root).resolve(f)))
    require(missing.isEmpty,
      s"restore: version $toVersion references ${missing.size} data " +
        s"file(s) already vacuumed (e.g. ${missing.head}) — unrecoverable; " +
        "raise the vacuum/retention horizon before depending on restore")
    val tgtState = replayState(root, toVersion)
    val missingDv = tgtState.dvs.collect {
      case (_, (dvp, _)) if !Files.exists(Paths.get(root).resolve(dvp)) => dvp
    }
    require(missingDv.isEmpty,
      s"restore: version $toVersion references ${missingDv.size} deletion-" +
        s"vector file(s) already vacuumed (e.g. ${missingDv.head}) — " +
        "unrecoverable; raise the vacuum/retention horizon")
    val curSet = cur.files.toSet; val tgtSet = tgt.files.toSet
    val removes = cur.files.filterNot(tgtSet).sorted.map(removeAction)
    val reAdded = tgt.files.filterNot(curSet).toSet
    val adds = tgt.files.filterNot(curSet).sorted.map { f =>
      addAction(f, tgtState.fileCounts.getOrElse(f, 0L),
        stats = tgtState.fileStats.get(f).collect {
          case o: ObjectNode => o.deepCopy(): ObjectNode },
        sizeBytes = tgtState.fileSizes.getOrElse(f, -1L),
        partValues = tgtState.filePartVals.getOrElse(f, Map.empty))
    }
    // deletion-vector reconcile: after the removes+adds replay, each kept
    // file still carries the CURRENT vector (a re-added file carries
    // none) — emit dv actions wherever the target version's vector state
    // differs (set it back, or clear it with a null dvPath)
    val dvFixes = tgt.files.sorted.flatMap { f =>
      val desired = tgtState.dvs.get(f)
      val resulting = if (reAdded(f)) None else curState.dvs.get(f)
      if (desired == resulting) None
      else desired match {
        case Some((dvp, n)) => Some(dvAction(f, Some(dvp), n))
        case None => Some(dvAction(f, None, 0L))
      }
    }
    val meta = if (tgt.schemaDdl != cur.schemaDdl ||
        tgtState.partitionBy != curState.partitionBy ||
        tgtState.colMap != curState.colMap)
      Seq(metaAction(tgt.schemaDdl, tgtState.partitionBy,
        tgtState.colMap.toMap))
    else Nil
    if (removes.isEmpty && adds.isEmpty && meta.isEmpty && dvFixes.isEmpty)
      return cur.version
    commit(root, cur.version, meta ++ removes ++ adds ++ dvFixes)
  }

  /** DROP PARTITION — de-reference every live file of one partition as
    * PURE log metadata: zero bytes read, zero bytes written, O(live
    * files) driver-side. `values` names partition columns (a prefix or
    * subset of the declared layout) and the exact values to drop; a file
    * is a victim iff its logged partitionValues match every named
    * column. The rows stay time-travelable until truncate+vacuum — this
    * is the retention fast path for partition-aligned TTL (drop
    * `dt=2023-01-01` instead of a predicate delete that probes files).
    * Fails loud if the table is unpartitioned, a named column is not a
    * partition column, or any live file lacks logged values for a named
    * column (its membership would be unprovable — never a silent keep).
    * The change feed sees a plain remove version: streams fail-or-skip
    * via skipChangeCommits and MV refreshes fall back to full recompute,
    * exactly like a predicate delete. */
  def dropPartition(root: String, values: Map[String, String]): Long = {
    require(values.nonEmpty, "dropPartition: name at least one " +
      "partition column = value pair")
    val (snap, st) = current(root)
    fireRaceHook()
    require(st.partitionBy.nonEmpty,
      s"graft_table $root: not a partitioned table — use deleteWhere")
    values.keys.foreach(c => require(st.partitionBy.contains(c),
      s"graft_table $root: '$c' is not a partition column " +
        s"(layout: [${st.partitionBy.mkString(",")}])"))
    val blind = snap.files.filterNot(f =>
      values.keys.forall(st.filePartVals.getOrElse(f, Map.empty).contains))
    require(blind.isEmpty,
      s"graft_table $root: ${blind.size} live file(s) carry no logged " +
        s"partition values for [${values.keys.mkString(",")}] (e.g. " +
        s"${blind.head}) — their membership is unprovable; run a " +
        "predicate deleteWhere instead")
    val victims = snap.files.filter { f =>
      val pv = st.filePartVals(f)
      values.forall { case (c, v) => pv.get(c).contains(v) }
    }
    if (victims.isEmpty) return snap.version // no such partition: no-op
    // concurrent APPENDS never conflict with a partition drop — even
    // into the dropped partition, the outcome serializes as
    // drop-then-insert (the drop removes exactly the files it resolved);
    // concurrent DML on a victim file still aborts
    transact(root, "dropPartition", Some(st), enforceWith = None,
      replay = Some(Replay(victims.toSet, _ => AddsNeverConflict)))(_ => ()) {
      (_, _) => Some(victims.sorted.map(removeAction))
    }.get
  }

  // -- CHECK constraints -------------------------------------------------------

  /** The named CHECK constraints live at `asOf` (default latest):
    * name → SQL predicate. Constraints ride the log (constraint /
    * dropConstraint actions, checkpointed like every other state), so
    * they survive overwrite, truncation, and restore. */
  def constraints(root: String, asOf: Option[Long] = None): Map[String, String] = {
    stateAt(root, asOf).constraints.toMap
  }

  /** ADD CONSTRAINT `name` CHECK (`check`) — validated against ALL live
    * data first (one short-circuit probe per live file set; at 100 TB
    * this one-time scan is the price of a guarantee every later write
    * enforces on its delta only), then committed as one log action.
    * SQL CHECK semantics: a row passes when the predicate is TRUE or
    * NULL; it fails only on FALSE. A racing commit aborts (the
    * validation was against a stale snapshot — rerun). */
  def addConstraint(spark: SparkSession, root: String, name: String,
      check: String): Long = {
    require(name.trim.nonEmpty && check.trim.nonEmpty,
      "addConstraint: name and check predicate are both required")
    val (snap, st) = current(root)
    val existing = st.constraints
    require(!existing.contains(name),
      s"graft_table $root: constraint '$name' already exists " +
        s"(${existing(name)}) — drop it first to redefine")
    violationProbe(spark, root, snap.files,
      physicalSchema(st, StructType.fromDDL(snap.schemaDdl)).toDDL,
      name, check, logOf = st.colMap.map(_.swap).toMap)
      .foreach { bad =>
        throw new IllegalArgumentException(
          s"graft_table $root: cannot add CHECK constraint '$name' " +
            s"($check) — existing data violates it, e.g. $bad")
      }
    val n = json.createObjectNode()
    val c = n.putObject("constraint")
    c.put("name", name); c.put("expr", check)
    commit(root, snap.version, Seq(n))
  }

  /** DROP CONSTRAINT — unknown names fail loud (a typo must not
    * silently leave the real constraint in force). */
  def dropConstraint(root: String, name: String): Long = {
    val (snap, st) = current(root)
    val existing = st.constraints
    require(existing.contains(name),
      s"graft_table $root: no constraint '$name' to drop " +
        s"(have: ${if (existing.isEmpty) "none" else existing.keys.mkString(", ")})")
    val n = json.createObjectNode()
    n.putObject("dropConstraint").put("name", name)
    commit(root, snap.version, Seq(n))
  }

  // -- table properties --------------------------------------------------------

  /** The table's key→value properties at `asOf` (default latest).
    * Properties ride the log (`property` actions, checkpointed) like
    * constraints. The one the engine interprets today:
    * `changeDataFeed=true` — DML commits (merge/deleteWhere/updateWhere)
    * then also write precise change rows (pre/post images) as `cdf/`
    * sidecar files, the Delta CDF recipe, consumed by
    * [[changesWithImages]]. Off by default: CDC roughly doubles a DML
    * commit's write volume on the touched subset, a cost a table should
    * opt into, not discover. */
  def tableProperties(root: String, asOf: Option[Long] = None): Map[String, String] = {
    stateAt(root, asOf).properties.toMap
  }

  /** SET/UNSET a table property as one commit (`value = None` unsets). */
  def setProperty(root: String, key: String, value: Option[String]): Long = {
    require(key.trim.nonEmpty, "setProperty: empty key")
    val snap = snapshot(root)
    val n = json.createObjectNode()
    val p = n.putObject("property")
    p.put("key", key)
    value match {
      case Some(v) => p.put("value", v)
      case None => p.putNull("value")
    }
    commit(root, snap.version, Seq(n))
  }

  private def changeFeedEnabled(st: LogState): Boolean =
    st.properties.get("changeDataFeed").contains("true")

  private def cdcAction(path: String, numRecords: Long): ObjectNode = {
    val n = json.createObjectNode()
    val c = n.putObject("cdc")
    c.put("path", path); c.put("numRecords", numRecords)
    n
  }

  /** Stage `df` (table columns + `_change_type`) as parquet under cdf/
    * and return the cdc actions — the change-data twin of
    * [[stageDataFiles]], through the same [[stageParquet]] contract. */
  private def stageCdcFiles(staged: Staged, df: DataFrame,
      root: String): Seq[ObjectNode] =
    stageParquet(staged, df, root, "cdf")(
      (pinned, staging) => pinned.write.mode("overwrite").parquet(staging)) {
      (_, part) =>
        val rel = part.rel("cdc")
        (rel, cdcAction(rel, part.rows))
    }

  // -- deletion vectors (merge-on-read DML) -----------------------------------
  //
  // With the `deletionVectors=true` table property, predicate DML on a
  // file that only PARTIALLY matches stops rewriting the file: the
  // matched rows' (file, row_index) pairs land in a per-file parquet
  // sidecar under dv/ (one `idx BIGINT` column), the commit logs a `dv`
  // action mapping the data file to its CUMULATIVE vector, and readers
  // anti-join the vector at scan time via the parquet `_metadata`
  // row-index column. Frequent small updates then write O(changed rows)
  // instead of O(boundary files) — the merge-on-read trade — while
  // OPTIMIZE materializes vectors away (its DV-aware input drops the
  // dead rows and the removes drop the vectors). Whole-file deletes stay
  // pure metadata removes either way.

  private def dvEnabled(st: LogState): Boolean =
    st.properties.get("deletionVectors").contains("true")

  private def dvAction(path: String, dvPath: Option[String],
      numDeleted: Long): ObjectNode = {
    val n = json.createObjectNode()
    val d = n.putObject("dv")
    d.put("path", path)
    dvPath match {
      case Some(p) => d.put("dvPath", p); d.put("numDeleted", numDeleted)
      case None => d.putNull("dvPath")
    }
    n
  }

  /** File-NAME column of the scanned parquet file (names are UUID-unique
    * within a table, so the name alone identifies the file without URI
    * formatting hazards). `_metadata.file_name` is a per-file constant —
    * no per-row string work. */
  private def fileNameCol: Column = col("_metadata.file_name")

  /** The deletion-vector rows `(name of data file, deleted row index)`
    * for the given live files at `state` — empty frame when none carries
    * a vector. One parquet read over the referenced sidecars; the
    * (sidecar → data file) map is file-count bounded and broadcast. */
  private def dvRows(spark: SparkSession, root: String, state: LogState,
      files: Seq[String]): Option[DataFrame] = {
    val withDv = files.filter(state.dvs.contains)
    if (withDv.isEmpty) return None
    import spark.implicits._
    val mapping = withDv.map { f =>
      (Paths.get(state.dvs(f)._1).getFileName.toString,
        Paths.get(f).getFileName.toString)
    }.toDF("__dvf", "__f")
    val abs = withDv.map(f =>
      Paths.get(root).resolve(state.dvs(f)._1).toString).distinct
    Some(spark.read.schema(StructType.fromDDL("idx BIGINT")).parquet(abs: _*)
      .select(fileNameCol.as("__dvf"), col("idx").as("__i"))
      .join(broadcast(mapping), Seq("__dvf"))
      .select(col("__f"), col("__i")))
  }

  /** Per-file deletion vectors as an IN-SCAN filter structure: data-file
    * NAME → sorted deleted row indexes, loaded from the dv sidecars when
    * the log-recorded total (`numDeleted`, no data IO to decide) fits
    * `spark.graft.dv.inlineMaxRows` (default 2M ≈ 16 MB of longs —
    * broadcast-class). None = too big, callers fall back to the
    * anti-join; the bound is per-SNAPSHOT and enforced from metadata
    * alone, so a heavily-deleted table degrades gracefully instead of
    * OOMing the plan. */
  // dv-set signature → the loaded vector map for THAT snapshot's full
  // dv-carrying file set. The signature is the (data file → sidecar,
  // count) mapping itself — sidecar paths are UUID-stamped per staging
  // write, so the signature is content-unique even across a table
  // deleted and recreated at the same root (a (root, version) key would
  // collide there and serve the old table's vectors). Vectors are
  // immutable per version, so entries never go stale; a tiny LRU bounds
  // driver memory, and repeat reads of one snapshot (DML probes,
  // back-to-back queries) stop re-collecting the sidecars.
  private val dvVectorCache = new java.util.LinkedHashMap[
      String,
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String,
          java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]])
        : Boolean = size() > 8
  }

  private def dvVectorsInline(spark: SparkSession, root: String,
      state: LogState, files: Seq[String])
      : Option[java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]] = {
    val withDv = files.filter(state.dvs.contains)
    val total = withDv.iterator.map(state.dvs(_)._2).sum
    val max = spark.conf.getOption("spark.graft.dv.inlineMaxRows")
      .map(_.toLong).getOrElse(2000000L)
    if (total > max) return None
    import org.apache.spark.unsafe.types.UTF8String
    if (withDv.isEmpty)
      return Some(new java.util.HashMap[UTF8String, Array[Long]]())
    // load (and cache) the WHOLE snapshot's vectors keyed by data-file
    // name when the full set also fits the budget — a superset map
    // serves any scanned file subset (the filter only probes names it
    // actually scans), so one load per version covers every read/probe
    // against it. A snapshot whose full set exceeds the budget loads
    // just the subset, uncached.
    val stateTotal = state.dvs.valuesIterator.map(_._2).sum
    val cacheable = stateTotal <= max
    val key = Paths.get(root).toAbsolutePath.normalize.toString + "§" +
      state.dvs.toSeq.map { case (f, (p, c)) => s"$f→$p:$c" }
        .sorted.mkString("|")
    if (cacheable) dvVectorCache.synchronized {
      val hit = dvVectorCache.get(key)
      if (hit != null) return Some(hit)
    }
    val load = if (cacheable) state.dvs.keys.toSeq else withDv
    val dataOfSidecar = load.map { f =>
      (Paths.get(state.dvs(f)._1).getFileName.toString,
        Paths.get(f).getFileName.toString)
    }.toMap
    val abs = load.map(f =>
      Paths.get(root).resolve(state.dvs(f)._1).toString).distinct
    val out = new java.util.HashMap[UTF8String, Array[Long]]()
    // a bounded collect: ≤ inlineMaxRows (idx, sidecar) pairs — the same
    // sidecar bytes the anti-join read per query, landed once as arrays
    spark.read.schema(StructType.fromDDL("idx BIGINT")).parquet(abs: _*)
      .select(col("idx"), fileNameCol.as("__dvf"))
      .collect()
      .groupBy(r => dataOfSidecar(r.getString(1)))
      .foreach { case (dataName, rows) =>
        val arr = rows.map(_.getLong(0)).sorted
        out.put(UTF8String.fromString(dataName), arr)
      }
    if (cacheable) dvVectorCache.synchronized { dvVectorCache.put(key, out) }
    Some(out)
  }

  /** Filter `df` (a scan over exactly `files`) down to LIVE rows.
    * Pass-through when no file carries a vector; otherwise an in-scan
    * [[graft.ext.DvLiveRow]] predicate over the parquet metadata
    * columns (no join node — the filter rides WholeStageCodegen), with
    * the legacy anti-join as the over-budget fallback. Predicates on
    * data columns still push to the scan either way. */
  private def dvFilter(spark: SparkSession, root: String, state: LogState,
      files: Seq[String], df: DataFrame): DataFrame = {
    if (!files.exists(state.dvs.contains)) return df
    dvVectorsInline(spark, root, state, files) match {
      case Some(vecs) =>
        val bridge = org.apache.spark.sql.GraftSqlBridge
        df.where(bridge.column(graft.ext.DvLiveRow(
          bridge.expression(fileNameCol),
          bridge.expression(col("_metadata.row_index")), vecs)))
      case None =>
        val dv = dvRows(spark, root, state, files).get
        val cols = df.columns.toSeq
        df.withColumn("__f", fileNameCol)
          .withColumn("__i", col("_metadata.row_index"))
          .join(dv, Seq("__f", "__i"), "left_anti")
          .select(cols.map(col): _*)
    }
  }

  /** LIVE rows of exactly `relFiles` with their position attached (`__f`
    * = file name, `__i` = row index) — the DML working scan: positions
    * come from the parquet `_metadata` column BEFORE any join (the
    * thread-local `input_file_name()` is not join-safe), and rows an
    * existing vector marks dead are already gone, so a probe can never
    * re-match and a vector can never re-kill them. */
  private def livePosScan(spark: SparkSession, root: String,
      state: LogState, relFiles: Seq[String],
      schema: StructType): DataFrame = {
    // files carry PHYSICAL names; the DML logic downstream speaks the
    // logical schema — scan physical, attach positions, rename
    val base0 = spark.read.schema(physicalSchema(state, schema))
      .parquet(relFiles.map(f => Paths.get(root).resolve(f).toString): _*)
      .withColumn("__f", fileNameCol)
      .withColumn("__i", col("_metadata.row_index"))
    val base = toLogical(base0, state, schema)
    if (!relFiles.exists(state.dvs.contains)) base
    else dvVectorsInline(spark, root, state, relFiles) match {
      case Some(vecs) =>
        val bridge = org.apache.spark.sql.GraftSqlBridge
        base.where(bridge.column(graft.ext.DvLiveRow(
          bridge.expression(col("__f")), bridge.expression(col("__i")), vecs)))
      case None =>
        base.join(dvRows(spark, root, state, relFiles).get,
          Seq("__f", "__i"), "left_anti")
    }
  }

  /** Stage one CUMULATIVE deletion-vector sidecar per affected data file
    * and return the dv actions. `deleted` carries (`__f` = data file
    * name, `__i` = row index) for the NEWLY deleted rows; existing
    * vectors of affected files are unioned in (a vector always holds the
    * file's full deleted set, so supersession is a pure log replace).
    * The write repartitions by file and partitions the staging dir by
    * file, so every file's vector lands as exactly one parquet part —
    * parallel across files, never a single-task funnel. Per-file
    * cardinalities are the parts' footer row counts (row indexes never
    * touch the driver, and no job counts them). */
  private def stageDvFiles(staged: Staged, spark: SparkSession, root: String,
      state: LogState, deleted: DataFrame,
      affectedRel: Seq[String]): Seq[ObjectNode] = {
    val rel = relOfName(affectedRel)
    val carried = dvRows(spark, root, state,
      affectedRel.filter(state.dvs.contains))
    val all = carried.fold(deleted)(deleted.unionByName(_))
      .select(col("__f"), col("__i")).distinct()
    val seen = scala.collection.mutable.HashSet.empty[String]
    // Pinned session clone: a dv action REPLACES the file's cumulative
    // vector on replay, so each data file's vector MUST land as exactly
    // one parquet part — a caller session with maxRecordsPerFile set
    // would split a big vector into parts whose second action silently
    // superseded the first (resurrecting earlier deleted rows). The
    // repartition puts each file's rows in one task; the pin stops the
    // writer from re-splitting them.
    stageParquet(staged, all.repartition(col("__f")).withColumnRenamed(
        "__i", "idx"), root, "dv", "spark.sql.files.maxRecordsPerFile" -> "0")(
      (pinned, staging) =>
        pinned.write.mode("overwrite").partitionBy("__f").parquet(staging)) {
      (_, part) =>
        // exactly-one-part invariant (see the pinned write above): replay
        // keeps only the LAST dv action per data file, so a split vector
        // would silently drop rows — fail loud instead of corrupting
        require(seen.add(part.dir),
          s"graft_table $root: deletion-vector staging split a file's vector " +
            s"into multiple parts (${part.dir}) — one dv action per data " +
            "file is a replay invariant")
        val dataName = unescapePathName(part.dir.stripPrefix("__f="))
        val dv = part.rel("dv")
        (dv, dvAction(rel(dataName), Some(dv), part.rows))
    }
  }

  /** Full-table constraint audit: violation count per constraint (0 =
    * healthy). The one consumer that scans everything — run it after a
    * RESTORE (which is metadata-only and deliberately does NOT
    * re-validate resurrected files) or to certify externally-produced
    * data. One pass, all constraints counted together. */
  def verifyConstraints(spark: SparkSession, root: String): Map[String, Long] = {
    val (snap, state) = current(root)
    val cons = state.constraints.toMap
    if (cons.isEmpty) return Map.empty
    if (snap.files.isEmpty) return cons.map { case (k, _) => k -> 0L }
    val schema = StructType.fromDDL(snap.schemaDdl)
    val df = toLogical(dvFilter(spark, root, state, snap.files,
      spark.read.schema(physicalSchema(state, schema))
        .parquet(snap.files.map(f => Paths.get(root).resolve(f).toString): _*)),
      state, schema)
    val aggs = cons.toSeq.map { case (name, e) =>
      count_if(!coalesce(expr(e).cast("boolean"), lit(true))).as(name)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cons.keys.zipWithIndex.map { case (k, i) => k -> row.getLong(i) }.toMap
  }

  /** First violating row of `check` over `files`, if any — a
    * short-circuit limit(1) probe (stops at the first bad row; parquet
    * row-group stats prune inside files). None = clean. */
  private def violationProbe(spark: SparkSession, root: String,
      files: Seq[String], schemaDdl: String, name: String,
      check: String, logOf: Map[String, String] = Map.empty): Option[Row] = {
    if (files.isEmpty) return None
    val schema = StructType.fromDDL(schemaDdl)
    val raw = spark.read.schema(schema)
      .parquet(files.map(f => Paths.get(root).resolve(f).toString): _*)
    // column-mapped files carry physical names; the CHECK expression
    // speaks logical — rename before probing
    val df = if (logOf.isEmpty) raw
      else raw.select(raw.columns.toSeq.map(c =>
        col(c).as(logOf.getOrElse(c, c))): _*)
    val pred = try !coalesce(expr(check).cast("boolean"), lit(true))
    catch { case e: Exception => throw new IllegalArgumentException(
      s"graft_table $root: CHECK constraint '$name' ($check) does not " +
        s"parse: ${e.getMessage}") }
    try df.where(pred).limit(1).collect().headOption
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new IllegalArgumentException(
        s"graft_table $root: CHECK constraint '$name' ($check) does not " +
          s"resolve against the written schema (${schema.toDDL}) — drop " +
          s"the constraint or keep the column: ${e.getMessage}") }
  }

  /** Enforce every live constraint on a commit's STAGED add files — the
    * write-side CHECK gate. Probes only the delta (the files this commit
    * is adding), so an append of 1k rows into a 100 TB table validates
    * 1k rows; the first violating row aborts with the constraint name
    * and the row. `st` is the state the commit lands on (None: no table
    * yet). Run by [[transact]] for every op that adds new rows (write,
    * writeEvolve, appendBatch, merge, updateWhere); deleteWhere only
    * shrinks row sets, optimize only re-lays them out, dropPartition adds
    * nothing, and restore is metadata-only by contract (see
    * verifyConstraints). */
  private def enforceConstraints(spark: SparkSession, root: String,
      actions: Seq[ObjectNode], st: Option[LogState], ctx: String): Unit = {
    val files = actions.filter(_.has("add"))
      .map(_.get("add").get("path").asText())
    if (files.isEmpty || st.forall(_.constraints.isEmpty)) return
    val cons = st.get.constraints
    // the staged files' OWN schema (self-describing; an evolving write's
    // files already carry the widened shape — in PHYSICAL names on a
    // mapped table, renamed to logical for the CHECK expressions)
    val schemaDdl = spark.read
      .parquet(files.map(f => Paths.get(root).resolve(f).toString): _*)
      .schema.toDDL
    val logOf = st.get.colMap.map(_.swap).toMap
    cons.foreach { case (name, check) =>
      violationProbe(spark, root, files, schemaDdl, name, check, logOf)
        .foreach {
          bad => throw new IllegalArgumentException(
            s"graft_table $root: $ctx rejected — CHECK constraint '$name' " +
              s"($check) violated, e.g. $bad")
        }
    }
  }

  /** OPTIMIZE: rewrite the current snapshot into `targetFiles` bin-packed
    * data files — optionally Z-ORDERED on two numeric dimensions — as one
    * new version. Layout-only: content is bit-identical, so readers of
    * the new version see the same rows faster (fewer, bigger files; with
    * zorder, min/max footer stats bound BOTH dimensions per file) and
    * time travel to any older version still reads the old layout. The
    * small-file problem this exists for: per-micro-batch streaming ACID
    * commits (appendBatch) add one small file set per batch — at 100 TB
    * an un-optimized ingest table becomes a metadata + open() storm.
    * A commit race resolves like merge's: concurrent appends never
    * conflict with a layout rewrite; DML on a compacted file aborts it.
    * Without zorder the pack is a shuffle-free coalesce read of the old
    * files; with it, one range shuffle on the Morton key. */
  def optimize(spark: SparkSession, root: String, targetFiles: Int,
      zorderBy: Seq[String] = Nil, zorderBits: Int = 12,
      partitions: Seq[Map[String, String]] = Nil): Long = {
    require(targetFiles > 0, s"optimize: targetFiles must be > 0, got $targetFiles")
    require(zorderBy.isEmpty ||
      (zorderBy.length >= 2 && zorderBy.length <= 4),
      s"optimize: zorderBy takes 2-4 columns, got ${zorderBy.mkString(",")}")
    val (snap, state) = current(root)
    if (snap.files.isEmpty) return snap.version // nothing to lay out
    val schema = StructType.fromDDL(snap.schemaDdl)
    fireRaceHook()
    val pb = state.partitionBy
    // partition-scoped compaction: rewrite ONLY the named partitions'
    // files — at 100 TB, OPTIMIZE is a rolling per-partition pass, never
    // a whole-table rewrite. Values name partition columns (subset ok);
    // a file is in scope iff its logged values match some entry.
    require(partitions.isEmpty || pb.nonEmpty,
      s"optimize: `partitions` scope on an unpartitioned table")
    partitions.flatMap(_.keys).distinct.foreach(c => require(pb.contains(c),
      s"optimize: '$c' is not a partition column ([${pb.mkString(",")}])"))
    val victims =
      if (partitions.isEmpty) snap.files
      else snap.files.filter { f =>
        val pv = state.filePartVals.getOrElse(f, Map.empty[String, String])
        partitions.exists(_.forall { case (c, v) => pv.get(c).contains(v) })
      }
    if (victims.isEmpty) return snap.version // no such partition: no-op
    // DV-aware input: compaction MATERIALIZES deletion vectors — rows a
    // vector marks dead don't survive into the new layout, and the
    // removes below drop the vectors themselves. Still dataChange=false:
    // the live row set is bit-identical before and after.
    // scan under PHYSICAL names and stage the rewrite the same way — a
    // layout pass never needs the logical rename roundtrip (partition
    // columns never map, so the dir layout is untouched)
    val base = dvFilter(spark, root, state, victims,
      spark.read.schema(physicalSchema(state, schema))
        .parquet(victims.map(f => Paths.get(root).resolve(f).toString): _*))
    zorderBy.foreach(c => require(!pb.contains(c),
      s"optimize: z-order dimension '$c' is a partition column — it is " +
        "already a directory-level constant; pick data columns"))
    val laid = zorderBy match {
      case ds if ds.nonEmpty => // within a partitioned layout the range
        // key is (partition cols..., zkey): dirs survive, and every file
        // covers a small quantized cell inside its partition
        graft.ext.ZOrder.zLayout(base,
          ds.map(physOf(state, _)), zorderBits,
          parts = Some(targetFiles), partitionBy = pb)
      case _ if pb.isEmpty => base.coalesce(targetFiles)
      case _ => // partitioned bin-pack: hash the partition columns into
        // targetFiles tasks; the partitioned staging write then splits
        // each task per partition value, so compaction happens WITHIN
        // partitions and the dir layout survives
        base.repartition(targetFiles, pb.map(col): _*)
    }
    // dataChange=false: a layout-only rewrite is NOT new data — the
    // change feed (`changes`) skips these adds, so an OPTIMIZE between
    // two feed reads cannot re-deliver the whole table
    // a concurrent APPEND never conflicts with a layout rewrite — the
    // new files simply stay live beside the compacted ones (the
    // streaming-ingest + background-OPTIMIZE composition); concurrent
    // DML on any compacted file still aborts via the dependency set
    transact(root, "optimize", Some(state), enforceWith = None,
      replay = Some(Replay(victims.toSet, _ => AddsNeverConflict)))(
      stageDataFiles(_, laid, root, Some(state), dataChange = false,
        partitionBy = pb)) { (adds, _) =>
      Some(victims.map(removeAction) ++ adds)
    }.get
  }

  /** DESCRIBE DETAIL parity: one-row table summary from log metadata
    * only — version, live file count/bytes/rows, schema, checkpoint
    * coverage, partition layout, reader floor, deletion-vector load
    * (files carrying one + rows they mark dead — the autoCompact
    * trigger's own inputs), and whether column mapping is active.
    * Zero data IO. */
  def describe(spark: SparkSession, root: String): DataFrame = {
    val latest = headVersion(root)
    val st = replayState(root, latest)
    import spark.implicits._
    Seq((latest,
      st.files.size.toLong,
      st.files.iterator.map(f => st.fileSizes.getOrElse(f, 0L)).sum,
      st.files.iterator.map(f => st.fileCounts.getOrElse(f, 0L) -
        st.dvs.get(f).map(_._2).getOrElse(0L)).sum,
      st.schemaDdl,
      checkpointAtOrBefore(root, latest).getOrElse(0L),
      st.partitionBy.mkString(","),
      math.max(st.minReader,
        if (st.colMap.nonEmpty) 3 else if (st.dvs.nonEmpty) 2 else 1),
      st.files.count(st.dvs.contains).toLong,
      st.files.iterator.flatMap(st.dvs.get).map(_._2).sum,
      st.colMap.nonEmpty))
      .toDF("version", "n_files", "size_bytes", "n_rows", "schema",
        "checkpoint_version", "partition_by", "min_reader",
        "n_dv_files", "n_dead_rows", "column_mapped")
  }

  /** Policy-driven compaction: OPTIMIZE only when the live layout has at
    * least `minSmall` files under `smallBytes` (decided from the log's
    * recorded sizes — zero IO when the answer is "no"). The target file
    * count sizes survivors near `targetBytes` each. This is what a
    * streaming ingest calls after its micro-batch commits: cheap check
    * every batch, real rewrite only when sprawl accumulated. Returns the
    * OPTIMIZE version, or None when the layout is already healthy. */
  def autoCompact(spark: SparkSession, root: String,
      smallBytes: Long = 32L * 1024 * 1024, minSmall: Int = 8,
      targetBytes: Long = 256L * 1024 * 1024,
      deadRowFraction: Double = 0.2): Option[Long] = {
    require(deadRowFraction > 0 && deadRowFraction <= 1,
      s"autoCompact: deadRowFraction in (0, 1], got $deadRowFraction")
    val st = stateAt(root)
    // two triggers, both decided from log metadata alone (zero IO when
    // the answer is "no"): small-file sprawl (streaming ingest), and
    // dead-row fraction (merge-on-read DML accumulating vectors — the
    // self-heal that keeps a heavily-deleted partition from paying its
    // vector filter forever; the cardinalities ride the dv actions).
    def smallCount(files: Seq[String]): Int =
      files.count(f => st.fileSizes.getOrElse(f, 0L) < smallBytes)
    def deadFrac(files: Seq[String]): Double = {
      val rows = files.iterator.map(f => st.fileCounts.getOrElse(f, 0L)).sum
      if (rows == 0) 0.0
      else files.iterator.map(f =>
        st.dvs.get(f).map(_._2).getOrElse(0L)).sum.toDouble / rows
    }
    def needsWork(files: Seq[String]): Boolean =
      smallCount(files) >= minSmall || deadFrac(files) >= deadRowFraction
    def targetOf(files: Seq[String]): Int = math.max(1, math.ceil(
      files.iterator.map(f => st.fileSizes.getOrElse(f, 0L)).sum.toDouble /
        targetBytes).toInt)
    if (st.partitionBy.isEmpty) {
      val files = st.files.toSeq
      if (!needsWork(files)) None
      else Some(optimize(spark, root, targetOf(files)))
    } else {
      // per-partition triage: only partitions past a threshold compact —
      // the others' files are untouched (partition-scoped OPTIMIZE), so
      // a table with one hot partition never rewrites the cold ones
      val pb = st.partitionBy
      val byPart = st.files.toSeq
        .filter(f => st.filePartVals.get(f).exists(pv => pb.forall(pv.contains)))
        .groupBy(f => pb.map(c => c -> st.filePartVals(f)(c)).toMap)
      val triggered = byPart.filter { case (_, files) => needsWork(files) }
      if (triggered.isEmpty) None
      else Some(optimize(spark, root,
        targetOf(triggered.values.flatten.toSeq),
        partitions = triggered.keys.toSeq))
    }
  }

  /** Reclaim data files no log version references and dead staging/tmp
    * debris — the cleanup half of crash safety. Retention of historical
    * versions is the caller's policy: vacuum keeps every file any
    * EXISTING log version references, so time travel keeps working; to
    * truncate history, delete old log files first.
    *
    * `retentionMillis` is the in-flight-writer guard (Delta's mtime
    * rule): only unreferenced files and staging dirs OLDER than the
    * window are reclaimed. Without it, a vacuum racing a concurrent
    * writer would delete files the writer has staged (or already moved
    * into data/) whose commit has not landed yet — the commit then
    * publishes references to deleted files, corrupting the table. The
    * default (7 days) makes vacuum safe to run alongside any live
    * ingest; `0` disables the guard (reclaim regardless of age —
    * test/offline use ONLY, never while a writer may be in flight).
    * `dryRun`: report what WOULD be reclaimed, delete nothing — the
    * sanity check every operator runs before the first destructive
    * vacuum of a production table. */
  def vacuum(root: String,
      retentionMillis: Long = 7L * 24 * 60 * 60 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    require(retentionMillis >= 0,
      s"vacuum: retentionMillis must be >= 0, got $retentionMillis")
    val cutoff = System.currentTimeMillis() - retentionMillis
    def oldEnough(p: Path): Boolean = retentionMillis == 0 ||
      Files.getLastModifiedTime(p).toMillis < cutoff
    val latest = latestVersion(root).getOrElse(return Nil)
    val referenced = scala.collection.mutable.HashSet.empty[String]
    // truncated versions are gone from the log — exactly the point:
    // files only THEY referenced become unreferenced and reclaimable
    // (their sealed live set survives via the checkpoint scan below).
    // Change-data sidecars live until their log does.
    (1L to latest).flatMap(readVersion(root, _)).foreach { r =>
      referenced ++= r.dataAdds ++ r.layoutAdds ++ r.cdc ++ r.dvPaths
    }
    // every checkpoint's live set stays readable (incl. the truncation
    // seal); one this engine cannot read fails loud before any delete
    checkpointVersions(root).map(loadCheckpoint(root, _)).foreach { st =>
      referenced ++= st.files ++ st.dvs.values.map(_._1)
    }
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    if (Files.isDirectory(dataDir(root))) {
      // recursive: partitioned layouts nest files under data/<col>=<val>/
      val s = Files.walk(dataDir(root))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        val rel = "data/" + dataDir(root).relativize(p).toString
          .replace(java.io.File.separatorChar, '/')
        if (!referenced.contains(rel) && oldEnough(p)) {
          if (!dryRun) Files.delete(p)
          removed += rel
        }
      } finally s.close()
      // drop now-empty partition dirs (bottom-up), keeping data/ itself
      if (!dryRun) {
        val d = Files.walk(dataDir(root))
        try d.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
          .filter(p => p != dataDir(root) && Files.isDirectory(p))
          .foreach { p =>
            val ls = Files.list(p)
            val empty = try !ls.iterator().hasNext finally ls.close()
            if (empty) Files.delete(p)
          }
        finally d.close()
      }
    }
    Seq("cdf", "dv").foreach { side =>
      val dir = Paths.get(root, side)
      if (Files.isDirectory(dir)) {
        val s = Files.list(dir)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
          val rel = s"$side/${p.getFileName}"
          if (!referenced.contains(rel) && oldEnough(p)) {
            if (!dryRun) Files.delete(p)
            removed += rel
          }
        } finally s.close()
      }
    }
    // dead staging dirs (crashed writers) + orphaned log temp files —
    // same age guard: a YOUNG staging dir is a writer mid-flight, not
    // debris
    val rs = Files.list(Paths.get(root))
    try rs.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("_staging_") &&
        oldEnough(p))
      .foreach { st =>
        if (!dryRun) deleteTree(st)
        removed += st.getFileName.toString
      }
    finally rs.close()
    if (Files.isDirectory(logDir(root))) {
      val ls = Files.list(logDir(root))
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".tmp") && oldEnough(p))
        .foreach { p =>
          if (!dryRun) Files.delete(p)
          removed += s"_graft_log/${p.getFileName}"
        }
      finally ls.close()
    }
    removed.toSeq
  }
}
