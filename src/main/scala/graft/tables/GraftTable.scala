package graft.tables

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.Attribution

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
  *  - Optimistic CONCURRENCY: a writer resolves version V, prepares its
  *    files, and claims slot V+1. Losing the race throws
  *    [[ConcurrentWriteException]]; blind appends simply re-resolve and
  *    retry, while merge/overwrite abort (their rewrite was computed
  *    against a snapshot that is no longer current).
  *  - DURABILITY / crash safety: a writer that dies before its commit
  *    lands leaves only orphan data files and a `.tmp` log entry —
  *    invisible to every reader, reclaimed by `vacuum`. The published
  *    table is never in an intermediate state.
  *
  * At 100 TB the log-per-version scheme is exactly what lakehouse
  * formats ship: O(changed files) metadata per commit, no directory
  * listing on the data path, and `merge` rewrites ONLY files that
  * contain matched keys — an upsert of 1k rows into a 100 TB table
  * touches a handful of files, not the table.
  */
object GraftTable {

  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** The resolved state of one version: which files are live + schema. */
  final case class Snapshot(version: Long, files: Seq[String], schemaDdl: String)

  private val json = new ObjectMapper()

  private def logDir(root: String): Path = Paths.get(root, "_graft_log")
  private def dataDir(root: String): Path = Paths.get(root, "data")
  private def verFile(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.json")

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

  // -- log checkpoints ---------------------------------------------------------
  //
  // Replaying logs 1..V is O(versions) per snapshot — fine for hundreds,
  // a metadata storm for a streaming table with one commit per micro-batch
  // (exactly the Delta _last_checkpoint problem). A CHECKPOINT file at
  // version C materializes the full replayed state (live files + schema +
  // per-writer txn high-water marks); any state resolution at V ≥ C loads
  // the checkpoint and replays only (C, V]. Checkpoints are deterministic
  // for their version, so concurrent writers racing one produce identical
  // bytes — the losing hard-link is simply dropped.

  private def ckptFile(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.checkpoint.json")

  /** Highest checkpoint `minReader` this engine can replay. The log
    * itself fails loud on unknown ACTION kinds, but a checkpoint COVERS
    * its commits — optional state an old engine silently ignored
    * (deletion vectors, column mapping) would then read vector-deleted
    * rows as live with no error. Delta's minReaderVersion recipe: the
    * checkpoint declares the floor a reader needs, and a stale binary
    * fails loud instead of returning wrong rows.
    *   1 = files/schema/txns/constraints/properties
    *   2 = + deletion vectors    3 = + column mapping */
  private val SupportedCkptReader = 3

  /** Full replayed state at one version (internal). */
  private final class LogState {
    val files = scala.collection.mutable.LinkedHashSet.empty[String]
    val fileStats = scala.collection.mutable.LinkedHashMap
      .empty[String, com.fasterxml.jackson.databind.JsonNode]
    val fileCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val fileSizes = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val filePartVals = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, String]]
    var version: Long = 0 // the version this state was replayed AT
    var schemaDdl = ""
    var partitionBy: Seq[String] = Nil
    // logical column name -> PHYSICAL parquet column name. Empty =
    // identity (tables that never renamed/dropped — the zero-cost
    // default). Once active it is TOTAL over the logical schema; files
    // always carry physical names, which never change after assignment,
    // so a rename is one meta commit and every old file stays readable.
    val colMap = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // reader floor declared IN the log (Delta's protocol action): column
    // mapping rides the KNOWN meta action, so without this an old binary
    // would replay a rename fine and then silently read physical names
    // as logical (renamed columns all-null). The protocol line is an
    // UNKNOWN action kind to pre-mapping readers — they fail loud on it.
    var minReader: Int = 1
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val constraints = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val properties = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // data path -> (deletion-vector sidecar path, rows it marks deleted);
    // each dv action REPLACES the file's vector (cumulative), add/remove
    // of the data file clears it
    val dvs = scala.collection.mutable.LinkedHashMap.empty[String, (String, Long)]
    def applyLine(n: com.fasterxml.jackson.databind.JsonNode): Unit =
      if (n.has("meta")) {
        val m = n.get("meta")
        schemaDdl = m.get("schemaDdl").asText()
        partitionBy =
          if (m.has("partitionBy"))
            m.get("partitionBy").elements().asScala.map(_.asText()).toSeq
          else Nil
        colMap.clear() // meta REPLACES the mapping, like partitionBy
        if (m.has("columnMapping")) {
          val cm = m.get("columnMapping")
          cm.fieldNames().asScala.foreach(l => colMap(l) = cm.get(l).asText())
        }
      }
      else if (n.has("add")) {
        val a = n.get("add"); val p = a.get("path").asText()
        files += p
        dvs -= p // a (re-)added file is a fresh content claim — no vector
        fileCounts(p) = a.get("numRecords").asLong()
        if (a.has("size")) fileSizes(p) = a.get("size").asLong()
        if (a.has("stats")) fileStats(p) = a.get("stats")
        if (a.has("partitionValues")) {
          val pv = a.get("partitionValues")
          filePartVals(p) = pv.fieldNames().asScala
            .map(c => c -> pv.get(c).asText()).toMap
        }
      } else if (n.has("remove")) {
        val p = n.get("remove").get("path").asText()
        files -= p; fileStats -= p; fileCounts -= p; fileSizes -= p
        filePartVals -= p; dvs -= p
      } else if (n.has("dv")) {
        // merge-on-read DML: the file stays live, its vector marks rows
        // deleted; a null dvPath CLEARS the vector (restore reconciling)
        val d = n.get("dv"); val p = d.get("path").asText()
        if (d.get("dvPath").isNull) dvs -= p
        else dvs(p) = (d.get("dvPath").asText(), d.get("numDeleted").asLong())
      } else if (n.has("txn")) {
        val t = n.get("txn"); val app = t.get("appId").asText()
        val b = t.get("batchId").asLong()
        if (txns.getOrElse(app, Long.MinValue) < b) txns(app) = b
      } else if (n.has("constraint")) {
        val c = n.get("constraint")
        constraints(c.get("name").asText()) = c.get("expr").asText()
      } else if (n.has("dropConstraint")) {
        constraints -= n.get("dropConstraint").get("name").asText()
      } else if (n.has("property")) {
        val p = n.get("property")
        if (p.get("value").isNull) properties -= p.get("key").asText()
        else properties(p.get("key").asText()) = p.get("value").asText()
      } else if (n.has("protocol")) {
        val need = n.get("protocol").get("minReader").asInt()
        if (need > SupportedCkptReader) throw new IllegalStateException(
          s"graft_table log: this table requires reader version $need " +
            s"but this engine supports $SupportedCkptReader — upgrade " +
            "the reader (a newer writer enabled a feature this binary " +
            "would silently misread)")
        if (need > minReader) minReader = need
      } else if (n.has("cdc")) {
        () // change-data sidecar: version-scoped (read by the change
           // feed), never part of the live file set
      } else if (n.has("commit")) {
        () // commit wall-clock (timestampAsOf); no replay state
      } else {
        // forward-compat guard: an UNKNOWN action kind means this log was
        // written by a newer writer whose semantics we cannot replay —
        // silently skipping it could drop rows or resurrect deleted data.
        // Fail loud (Delta's protocol-version rule, by whitelist).
        val kind = n.fieldNames().asScala.mkString(",")
        throw new IllegalStateException(
          s"graft_table log: unknown action kind '$kind' — this table was " +
            "written by a newer engine version; upgrade the reader " +
            "(known: meta, add, remove, dv, txn, constraint, " +
            "dropConstraint, property, cdc, commit, protocol)")
      }
  }

  /** Latest checkpoint at or below `v`, if any. */
  private def checkpointAtOrBefore(root: String, v: Long): Option[Long] = {
    if (!isTable(root)) return None
    val s = Files.list(logDir(root))
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".checkpoint.json"))
      .flatMap(n => scala.util.Try(
        n.stripSuffix(".checkpoint.json").toLong).toOption)
      .filter(_ <= v)
      .maxOption
    finally s.close()
  }

  /** State at `v`: nearest checkpoint ≤ v as the base, then replay only
    * the remaining log suffix. A missing log file in the suffix means the
    * history was truncated past any covering checkpoint — fail loud. */
  private def replayState(root: String, v: Long): LogState = {
    val st = new LogState
    val base = checkpointAtOrBefore(root, v)
    base.foreach { c =>
      val n = json.readTree(Files.readString(ckptFile(root, c)))
      val need = if (n.has("minReader")) n.get("minReader").asInt() else 1
      if (need > SupportedCkptReader) throw new IllegalStateException(
        s"graft_table $root: checkpoint at version $c requires reader " +
          s"version $need but this engine supports $SupportedCkptReader — " +
          "it carries state (e.g. deletion vectors / column mapping) this " +
          "binary would silently misread; upgrade the reader")
      st.minReader = need
      st.schemaDdl = n.get("schemaDdl").asText()
      n.get("files").elements().asScala.foreach(f => st.files += f.asText())
      if (n.has("fileStats")) {
        val fs = n.get("fileStats")
        fs.fieldNames().asScala.foreach(p => st.fileStats(p) = fs.get(p))
      }
      if (n.has("fileCounts")) {
        val fc = n.get("fileCounts")
        fc.fieldNames().asScala.foreach(p => st.fileCounts(p) = fc.get(p).asLong())
      }
      if (n.has("fileSizes")) {
        val fz = n.get("fileSizes")
        fz.fieldNames().asScala.foreach(p => st.fileSizes(p) = fz.get(p).asLong())
      }
      if (n.has("partitionBy"))
        st.partitionBy = n.get("partitionBy").elements().asScala
          .map(_.asText()).toSeq
      if (n.has("filePartVals")) {
        val fp = n.get("filePartVals")
        fp.fieldNames().asScala.foreach { p =>
          val pv = fp.get(p)
          st.filePartVals(p) = pv.fieldNames().asScala
            .map(c => c -> pv.get(c).asText()).toMap
        }
      }
      val t = n.get("txns")
      t.fieldNames().asScala.foreach(app => st.txns(app) = t.get(app).asLong())
      if (n.has("constraints")) {
        val cs = n.get("constraints")
        cs.fieldNames().asScala.foreach(c => st.constraints(c) = cs.get(c).asText())
      }
      if (n.has("properties")) {
        val ps = n.get("properties")
        ps.fieldNames().asScala.foreach(k => st.properties(k) = ps.get(k).asText())
      }
      if (n.has("dvs")) {
        val ds = n.get("dvs")
        ds.fieldNames().asScala.foreach { p =>
          val d = ds.get(p)
          st.dvs(p) = (d.get("dvPath").asText(), d.get("numDeleted").asLong())
        }
      }
      if (n.has("columnMapping")) {
        val cm = n.get("columnMapping")
        cm.fieldNames().asScala.foreach(l => st.colMap(l) = cm.get(l).asText())
      }
    }
    ((base.getOrElse(0L) + 1) to v).foreach { ver =>
      val f = verFile(root, ver)
      if (!Files.exists(f)) throw new IllegalArgumentException(
        s"graft_table $root: version $ver is unreadable — its log was " +
          s"truncated and no checkpoint ≤ $v covers it (earliest " +
          "resolvable state is the oldest retained checkpoint)")
      Files.readAllLines(f).asScala.filter(_.nonEmpty)
        .foreach(line => st.applyLine(json.readTree(line)))
    }
    st.version = v
    st
  }

  /** Write a checkpoint at the current latest version. Idempotent and
    * race-safe (deterministic content + atomic hard-link publish).
    * Returns the checkpointed version. Policy is the caller's: a
    * streaming ingest checkpoints every N batches; `truncateHistory`
    * checkpoints before dropping old logs. */
  def checkpoint(root: String): Long = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    writeCheckpoint(root, latest)
    latest
  }

  private def writeCheckpoint(root: String, v: Long): Unit = {
    val target = ckptFile(root, v)
    if (Files.exists(target)) return // idempotent
    val st = replayState(root, v)
    val n = json.createObjectNode()
    n.put("version", v)
    // declare the reader floor this state actually needs — an old engine
    // replaying the raw log past an unknown action fails loud, and the
    // checkpoint must preserve that contract, not bypass it
    n.put("minReader", math.max(st.minReader,
      if (st.colMap.nonEmpty) 3 else if (st.dvs.nonEmpty) 2 else 1))
    n.put("schemaDdl", st.schemaDdl)
    val fa = n.putArray("files"); st.files.foreach(fa.add)
    val fs = n.putObject("fileStats")
    st.fileStats.foreach { case (p, s) => fs.set[ObjectNode](p, s) }
    val fc = n.putObject("fileCounts")
    st.fileCounts.foreach { case (p, c) => fc.put(p, c) }
    val fz = n.putObject("fileSizes")
    st.fileSizes.foreach { case (p, b) => fz.put(p, b) }
    if (st.partitionBy.nonEmpty) {
      val pb = n.putArray("partitionBy"); st.partitionBy.foreach(pb.add)
    }
    if (st.filePartVals.nonEmpty) {
      val fp = n.putObject("filePartVals")
      st.filePartVals.foreach { case (p, pv) =>
        val o = fp.putObject(p); pv.foreach { case (c, v) => o.put(c, v) }
      }
    }
    val ta = n.putObject("txns"); st.txns.foreach { case (k, b) => ta.put(k, b) }
    val ca = n.putObject("constraints")
    st.constraints.foreach { case (k, e) => ca.put(k, e) }
    if (st.properties.nonEmpty) {
      val pa = n.putObject("properties")
      st.properties.foreach { case (k, v) => pa.put(k, v) }
    }
    if (st.dvs.nonEmpty) {
      val da = n.putObject("dvs")
      st.dvs.foreach { case (p, (dvp, cnt)) =>
        val o = da.putObject(p); o.put("dvPath", dvp); o.put("numDeleted", cnt)
      }
    }
    if (st.colMap.nonEmpty) {
      val cm = n.putObject("columnMapping")
      st.colMap.foreach { case (l, p) => cm.put(l, p) }
    }
    val tmp = Files.createTempFile(logDir(root), ".ckpt", ".tmp")
    Files.writeString(tmp, json.writeValueAsString(n))
    try Files.createLink(target, tmp)
    catch { case _: FileAlreadyExistsException => () } // identical racer won
    Files.deleteIfExists(tmp)
  }

  /** Retention: drop log versions ≤ `upToInclusive`, first sealing their
    * state into a checkpoint at that version. Snapshots of later versions
    * replay from the checkpoint; snapshots of dropped versions fail with
    * the truncation error; `vacuum` afterwards reclaims data files only
    * the dropped versions referenced. The lakehouse retention lifecycle:
    * checkpoint → truncate → vacuum. */
  def truncateHistory(root: String, upToInclusive: Long): Unit = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
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
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
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
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    val v = asOf.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"graft_table $root: version $v out of range [1, $latest]")
    val st = replayState(root, v)
    Snapshot(v, st.files.toSeq, st.schemaDdl)
  }

  /** Commit wall-clock of one version in epoch millis: the logged
    * commit-ts line when present, the log file's mtime for logs written
    * before timestamps were recorded. O(1) metadata. */
  def commitTimestamp(root: String, v: Long): Long = {
    val f = verFile(root, v)
    require(Files.exists(f),
      s"graft_table $root: version $v's log was truncated")
    Files.readAllLines(f).asScala.filter(_.nonEmpty)
      .map(json.readTree).collectFirst {
        case n if n.has("commit") => n.get("commit").get("ts").asLong()
      }.getOrElse(Files.getLastModifiedTime(f).toMillis)
  }

  /** Timestamp time travel: the NEWEST version committed at or before
    * `tsMillis` — Delta's `timestampAsOf` resolution, O(retained
    * versions) log metadata. A timestamp older than the earliest
    * retained commit fails loud (the state at that time is unknowable
    * after truncation, not silently the earliest snapshot). */
  def versionAtTimestamp(root: String, tsMillis: Long): Long = {
    versionAtTimestampOpt(root, tsMillis).getOrElse {
      val latest = latestVersion(root).get
      val retained = (1L to latest).filter(v => Files.exists(verFile(root, v)))
      throw new IllegalArgumentException(
        s"graft_table $root: no commit at or before ts=$tsMillis — earliest " +
          s"retained commit is version ${retained.headOption.getOrElse(-1L)} " +
          s"at ts=${retained.headOption.map(commitTimestamp(root, _)).getOrElse(-1L)}")
    }
  }

  /** [[versionAtTimestamp]]'s Option face: None when no retained commit
    * is at or before `tsMillis` — the ONE case a caller may legitimately
    * absorb (a stream's startingTimestamp predating the table delivers
    * everything). Not-a-table still fails loud; a blanket Try around
    * versionAtTimestamp would swallow that too and silently deliver
    * everything on a typo'd path. */
  def versionAtTimestampOpt(root: String, tsMillis: Long): Option[Long] = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    (1L to latest).filter(v => Files.exists(verFile(root, v)))
      .filter(v => commitTimestamp(root, v) <= tsMillis).maxOption
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
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
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
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    val st = replayState(root, asOf.getOrElse(latest))
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
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    val v = asOf.getOrElse(latest)
    val st = replayState(root, v)
    st.files.iterator.map(f => st.fileCounts.getOrElse(f, 0L) -
      st.dvs.get(f).map(_._2).getOrElse(0L)).sum
  }

  /** Metadata-only MIN/MAX of a column across the live files' logged
    * stats — None when any live file lacks stats for it (a partial
    * answer would be silently wrong). Zero data IO. */
  def columnRange(root: String, column: String,
      asOf: Option[Long] = None): Option[(Any, Any)] = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    val st = replayState(root, asOf.getOrElse(latest))
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
    * retracted (merge/delete/overwrite between reads need a full CDF with
    * pre/post images, which this format does not record); consumers of
    * mutable tables should read snapshots instead. Composes with the ep9
    * incremental-watermark machinery: persist the last-read version,
    * pass it back as `changesFrom` on the next run. */
  def changes(spark: SparkSession, root: String, fromExclusive: Long,
      toInclusive: Option[Long] = None): DataFrame = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    val to = toInclusive.getOrElse(latest)
    require(fromExclusive >= 0 && to <= latest && fromExclusive <= to,
      s"graft_table $root: changes range ($fromExclusive, $to] out of [0, $latest]")
    val stTo = replayState(root, to)
    val schema = StructType.fromDDL(stTo.schemaDdl)
    // physical column names are stable across renames/drops, so every
    // version's files read coherently under `to`'s physical schema
    val versioned = ((fromExclusive + 1) to to).flatMap { ver =>
      require(Files.exists(verFile(root, ver)),
        s"graft_table $root: change feed needs version $ver's log, which " +
          "was truncated — catch up from a snapshot instead (read the " +
          "current version and reset the feed cursor)")
      val adds = Files.readAllLines(verFile(root, ver)).asScala
        .filter(_.nonEmpty).map(json.readTree)
        .filter(n => n.has("add") &&
          !(n.get("add").has("dataChange") &&
            !n.get("add").get("dataChange").asBoolean(true)))
        .map(n => n.get("add").get("path").asText())
      if (adds.isEmpty) None
      else Some(toLogical(spark.read.schema(physicalSchema(stTo, schema))
        .parquet(adds.map(f => Paths.get(root).resolve(f).toString).toSeq: _*),
        stTo, schema)
        .withColumn("_commit_version", lit(ver)))
    }
    versioned.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        schema.add("_commit_version", "bigint")))
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
      fromExclusive: Long, toInclusive: Option[Long] = None): DataFrame = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    val to = toInclusive.getOrElse(latest)
    require(fromExclusive >= 0 && to <= latest && fromExclusive <= to,
      s"graft_table $root: changes range ($fromExclusive, $to] out of [0, $latest]")
    val stTo = replayState(root, to)
    val schema = StructType.fromDDL(stTo.schemaDdl)
    val physSchema = physicalSchema(stTo, schema)
    val withTypePhys = physSchema.add("_change_type", "string")
    val withType = schema.add("_change_type", "string")
    def abs(f: String) = Paths.get(root).resolve(f).toString
    val frames = ((fromExclusive + 1) to to).flatMap { ver =>
      require(Files.exists(verFile(root, ver)),
        s"graft_table $root: change feed needs version $ver's log, which " +
          "was truncated — catch up from a snapshot instead")
      var removes = 0; var layoutAdds = 0; var dvs = 0
      val adds = Seq.newBuilder[String]; val cdc = Seq.newBuilder[String]
      Files.readAllLines(verFile(root, ver)).asScala
        .filter(_.nonEmpty).foreach { line =>
          val n = json.readTree(line)
          if (n.has("remove")) removes += 1
          else if (n.has("dv")) dvs += 1
          else if (n.has("cdc")) cdc += n.get("cdc").get("path").asText()
          else if (n.has("add")) {
            val a = n.get("add")
            if (!a.has("dataChange") || a.get("dataChange").asBoolean(true))
              adds += a.get("path").asText()
            else layoutAdds += 1
          }
        }
      val cdcPaths = cdc.result(); val addPaths = adds.result()
      // the Delta CDF contract stamps the commit wall-clock alongside
      // _change_type/_commit_version — already logged as the version's
      // first `commit` line (mtime fallback for pre-timestamp logs)
      val commitTs = new java.sql.Timestamp(commitTimestamp(root, ver))
      if (cdcPaths.nonEmpty)
        Some(toLogical(spark.read.schema(withTypePhys)
            .parquet(cdcPaths.map(abs): _*), stTo, schema)
          .withColumn("_commit_version", lit(ver))
          .withColumn("_commit_timestamp", lit(commitTs)))
      else {
        val changedExisting = dvs > 0 ||
          (removes > 0 && !(layoutAdds > 0 && addPaths.isEmpty))
        if (changedExisting) throw new IllegalStateException(
          s"graft_table $root: version $ver changed existing rows and " +
            "recorded no change data — it predates `changeDataFeed=true`, " +
            "or was an overwrite/restore/drop_partition (those never " +
            "record images). Resync from a snapshot read")
        if (addPaths.isEmpty) None
        else Some(toLogical(spark.read.schema(physSchema)
            .parquet(addPaths.map(abs): _*), stTo, schema)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(ver))
          .withColumn("_commit_timestamp", lit(commitTs)))
      }
    }
    frames.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        withType.add("_commit_version", "bigint")
          .add("_commit_timestamp", "timestamp")))
  }

  /** True iff [[changesWithImages]] can replay (fromExclusive,
    * toInclusive] exactly: every version is append-only, layout-only, or
    * carries cdc sidecars. O(versions) log metadata. */
  def cdcCoveredSince(root: String, fromExclusive: Long,
      toInclusive: Long): Boolean =
    ((fromExclusive + 1) to toInclusive).forall { ver =>
      if (!Files.exists(verFile(root, ver))) return false
      var removes = 0; var dataAdds = 0; var layoutAdds = 0; var cdc = 0
      var dvs = 0
      Files.readAllLines(verFile(root, ver)).asScala
        .filter(_.nonEmpty).foreach { line =>
          val n = json.readTree(line)
          if (n.has("remove")) removes += 1
          else if (n.has("dv")) dvs += 1
          else if (n.has("cdc")) cdc += 1
          else if (n.has("add")) {
            if (!n.get("add").has("dataChange") ||
              n.get("add").get("dataChange").asBoolean(true)) dataAdds += 1
            else layoutAdds += 1
          }
        }
      cdc > 0 || ((removes == 0 || (layoutAdds > 0 && dataAdds == 0)) &&
        dvs == 0)
    }

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
      val f = verFile(root, ver)
      require(Files.exists(f),
        s"graft_table $root: version $ver's log was truncated — the " +
          "change stream cannot replay it; restart from a snapshot read")
      var removes = 0; var layoutAdds = 0; var dvs = 0
      val dataAdds = Seq.newBuilder[String]
      val cdc = Seq.newBuilder[String]
      Files.readAllLines(f).asScala.filter(_.nonEmpty).foreach { line =>
        val n = json.readTree(line)
        if (n.has("remove")) removes += 1
        else if (n.has("dv")) dvs += 1 // merge-on-read DML = a change
        else if (n.has("cdc")) cdc += n.get("cdc").get("path").asText()
        else if (n.has("add")) {
          val a = n.get("add")
          if (!a.has("dataChange") || a.get("dataChange").asBoolean(true))
            dataAdds += a.get("path").asText()
          else layoutAdds += 1
        }
      }
      val adds = dataAdds.result()
      val changedExisting = dvs > 0 ||
        (removes > 0 && !(layoutAdds > 0 && adds.isEmpty)) // pure OPTIMIZE ok
      (ver, adds, cdc.result(), changedExisting)
    }

  /** True iff every version in (fromExclusive, toInclusive] only ADDED
    * rows — i.e. the change feed over that range is complete. OPTIMIZE
    * (removes + all-layout-only adds) qualifies: `changes` skips its
    * rewrites. merge/delete/overwrite do not: they removed or replaced
    * rows the feed cannot retract. O(versions) log metadata, no data IO. */
  def appendOnlySince(root: String, fromExclusive: Long,
      toInclusive: Long): Boolean =
    ((fromExclusive + 1) to toInclusive).forall { ver =>
      // a truncated version can't be proven append-only — report false so
      // feed consumers (the MV) fall back to a full recompute
      if (!Files.exists(verFile(root, ver))) return false
      var removes = 0; var dataAdds = 0; var layoutAdds = 0; var dvs = 0
      Files.readAllLines(verFile(root, ver)).asScala
        .filter(_.nonEmpty).foreach { line =>
          val n = json.readTree(line)
          if (n.has("remove")) removes += 1
          else if (n.has("dv")) dvs += 1
          else if (n.has("add")) {
            if (!n.get("add").has("dataChange") ||
              n.get("add").get("dataChange").asBoolean(true)) dataAdds += 1
            else layoutAdds += 1
          }
        }
      // pure append, or OPTIMIZE's layout-only swap; a version that
      // removed files WITHOUT re-adding them as layout (merge, delete,
      // overwrite) — or extended a deletion vector — destroyed rows the
      // feed cannot retract
      dvs == 0 && (removes == 0 || (layoutAdds > 0 && dataAdds == 0))
    }

  /** DESCRIBE HISTORY: one row per version — operation kind (inferred
    * from the action mix, the log stores no operation names), add/remove
    * file counts, rows added, schema-change and txn markers. Pure log
    * metadata: O(versions), never touches data files. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    val rows = (1L to latest)
      .filter(ver => Files.exists(verFile(root, ver))) // truncated = no rows
      .map { ver =>
      var (adds, removes, rowsAdded) = (0, 0, 0L)
      var meta = false; var dataChange = false; var txn: Option[String] = None
      var alterCons = false; var dvs = 0; var props = false
      Files.readAllLines(verFile(root, ver)).asScala
        .filter(_.nonEmpty).foreach { line =>
          val n = json.readTree(line)
          if (n.has("meta")) meta = true
          else if (n.has("property")) props = true
          else if (n.has("constraint") || n.has("dropConstraint"))
            alterCons = true
          else if (n.has("add")) {
            adds += 1
            rowsAdded += n.get("add").get("numRecords").asLong()
            if (!n.get("add").has("dataChange") ||
              n.get("add").get("dataChange").asBoolean(true)) dataChange = true
          }
          else if (n.has("remove")) removes += 1
          else if (n.has("dv")) dvs += 1
          else if (n.has("txn")) txn = Some(
            n.get("txn").get("appId").asText() + "#" +
              n.get("txn").get("batchId").asLong())
        }
      val op = // evidence-driven: v1 is always the CREATE, whatever wrote
        // it (write, appendBatch — its txn still shows in the txn column)
        if (ver == 1L) "CREATE"
        else if (alterCons) "ALTER CONSTRAINT"
        else if (adds > 0 && removes > 0 && !dataChange) "OPTIMIZE"
        else if (meta && removes > 0) "OVERWRITE"
        else if (removes > 0 || dvs > 0) "MERGE" // incl. merge-on-read DML
        else if (meta && adds == 0) "ALTER SCHEMA" // rename/drop column
        else if (props && adds == 0) "SET PROPERTY"
        else if (txn.isDefined) "STREAMING APPEND"
        else "APPEND"
      (ver, op, adds, removes, rowsAdded, meta, txn.orNull)
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
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    replayState(root, asOf.getOrElse(latest)).colMap.toMap
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
    val snap = snapshot(root)
    val st = replayState(root, snap.version)
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
    val snap = snapshot(root)
    val st = replayState(root, snap.version)
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
    if (lastTxn(root, appId).exists(_ >= batchId)) return None // replay
    // evolve: the batch sink's `evolve: add_nulls` applied per micro-batch
    // — a RE-RUN of a pipeline whose source grew a column appends against
    // the existing table by widening it (meta + data in one txn-stamped
    // commit) instead of failing mid-stream. Conform against the snapshot
    // resolved HERE; a concurrent schema change aborts below (same rule
    // as writeEvolve — the conformed rows were computed against a stale
    // shape).
    val snap0 = latestVersion(root).map(_ => snapshot(root))
    val st0 = snap0.map(sn => replayState(root, sn.version))
    val pb = st0.fold(Seq.empty[String])(_.partitionBy) // inherit layout
    val (out, metaDdl, mapNew) = (snap0, st0) match {
      case (Some(sn), Some(st)) if evolve =>
        val (conformed, union, newCols) = conformEvolved(spark, df, sn, root)
        val m: Map[String, String] =
          if (st.colMap.isEmpty) Map.empty
          else st.colMap.toMap ++
            newCols.map(f => f.name -> freshPhysical(f.name))
        (conformed, if (newCols.nonEmpty) Some(union.toDDL) else None, m)
      case _ =>
        (df, None, st0.fold(Map.empty[String, String])(_.colMap.toMap))
    }
    val adds = stageDataFiles(toPhysical(out, mapNew), root, partitionBy = pb)
    var attempt = 0
    while (true) {
      val cur = latestVersion(root)
      val snap = cur.map(_ => snapshot(root))
      if (evolve)
        snap0.zip(snap).foreach { case (s0, s) =>
          if (s.schemaDdl != s0.schemaDdl)
            throw new ConcurrentWriteException(
              s"graft_table $root: schema changed concurrently — re-run " +
                "the evolving append against the fresh snapshot")
        }
      else snap.foreach(requireSchemaMatch(out, _, root))
      val actions = txnAction(appId, batchId) +:
        (metaDdl.map(d => metaAction(d, pb, mapNew)).toSeq ++
          (if (snap.isDefined) adds else metaAction(out.schema.toDDL) +: adds))
      enforceConstraints(spark, root, adds, cur.getOrElse(0L),
        s"streaming batch $batchId")
      try return Some(commit(root, cur.getOrElse(0L), actions))
      catch {
        case e: ConcurrentWriteException =>
          // the racer may have been a replay of THIS txn from another
          // attempt — re-check before retrying, same exactly-once rule
          if (lastTxn(root, appId).exists(_ >= batchId)) return None
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    None // unreachable
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

  // -- disjoint-writer conflict detection --------------------------------------
  //
  // DML (merge / deleteWhere / updateWhere) and OPTIMIZE compute a
  // rewrite against one snapshot; a raced commit used to abort them
  // unconditionally. That rule is correct but needlessly strict for the
  // common production layout — one writer per partition — where two
  // merges touching DIFFERENT partitions cannot invalidate each other.
  // Delta's conflict checker is the public recipe: after losing the
  // version race, replay the intervening commits and re-commit at the
  // new head iff none of them
  //   (1) changed the table DEFINITION (meta/constraint/property — the
  //       txn validated against the old rules),
  //   (2) removed / re-vectored / re-added a file in the txn's
  //       DEPENDENCY set (the files it probed-and-rewrote or extended), or
  //   (3) added DATA this txn's matched/not-matched classification never
  //       saw — scoped by partition: an add in a partition the txn
  //       neither touched nor wrote is fine; for an unpartitioned table
  //       every concurrent data add conflicts. Layout-only adds
  //       (OPTIMIZE rewrites) never conflict by themselves — their
  //       removes are what rule 2 catches.

  /** How concurrent DATA adds interact with a pending commit. */
  private[tables] sealed trait AddRule
  /** Layout-only commits (OPTIMIZE): concurrent adds never invalidate
    * the rewrite — the new files simply stay live beside it. */
  private[tables] case object AddsNeverConflict extends AddRule
  /** Unpartitioned DML (or unknowable partition scope): any concurrent
    * data add could carry a key the txn classified as not-matched. */
  private[tables] case object AddsAlwaysConflict extends AddRule
  /** Partition-scoped DML: adds conflict only inside the txn's own
    * partitions (sound when keys are partition-local — the one-writer-
    * per-partition layout; an add with unknown values conflicts). */
  private[tables] final case class AddsConflictInParts(
    parts: Set[Map[String, String]]) extends AddRule

  /** Test seam: runs once after a DML call resolves its snapshot —
    * lets a spec interleave a competing writer deterministically. */
  private[graft] var testRaceHook: () => Unit = () => ()
  private def fireRaceHook(): Unit = {
    val h = testRaceHook; testRaceHook = () => (); h()
  }

  /** The reason version `ver` conflicts with a txn that depends on
    * `depFiles`/`addRule`, or None when the txn can safely re-commit
    * past it. Pure log metadata: one pass over the version's lines. */
  private def conflictWith(root: String, ver: Long, depFiles: Set[String],
      addRule: AddRule, partitionBy: Seq[String]): Option[String] = {
    val f = verFile(root, ver)
    if (!Files.exists(f))
      return Some(s"version $ver's log was truncated mid-flight")
    Files.readAllLines(f).asScala.filter(_.nonEmpty).foreach { line =>
      val n = json.readTree(line)
      if (n.has("meta") || n.has("constraint") || n.has("dropConstraint") ||
        n.has("property") || n.has("protocol"))
        return Some(s"version $ver changed the table definition")
      else if (n.has("remove")) {
        val p = n.get("remove").get("path").asText()
        if (depFiles(p)) return Some(s"version $ver removed $p")
      } else if (n.has("dv")) {
        val p = n.get("dv").get("path").asText()
        if (depFiles(p)) return Some(s"version $ver re-vectored $p")
      } else if (n.has("add")) {
        val a = n.get("add"); val p = a.get("path").asText()
        if (depFiles(p)) return Some(s"version $ver re-added $p")
        val dataChange = !a.has("dataChange") ||
          a.get("dataChange").asBoolean(true)
        if (dataChange) addRule match {
          case AddsNeverConflict => ()
          case AddsAlwaysConflict =>
            return Some(s"version $ver added data ($p)")
          case AddsConflictInParts(parts) =>
            val pv = if (!a.has("partitionValues")) Map.empty[String, String]
              else {
                val o = a.get("partitionValues")
                o.fieldNames().asScala.map(c => c -> o.get(c).asText()).toMap
              }
            if (!partitionBy.forall(pv.contains))
              return Some(s"version $ver added data with unknown " +
                s"partition values ($p)")
            val tuple = partitionBy.map(c => c -> pv(c)).toMap
            if (parts(tuple))
              return Some(s"version $ver added data in partition $tuple ($p)")
        }
      }
      // txn / cdc / commit lines never conflict
    }
    None
  }

  /** Commit `actions` computed against `snapVersion`, retrying past
    * commits that provably do not conflict (see the rules above). A real
    * conflict throws [[ConcurrentWriteException]] — the caller re-runs
    * its whole computation against the fresh snapshot, exactly as
    * before; disjoint writers now simply both land. */
  private def commitDml(root: String, snapVersion: Long,
      actions: Seq[ObjectNode], depFiles: Set[String], addRule: AddRule,
      partitionBy: Seq[String], ctx: String, maxRetries: Int = 10): Long = {
    var cur = snapVersion
    var attempt = 0
    while (true) {
      try return commit(root, cur, actions)
      catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val latest = latestVersion(root).getOrElse(throw e)
          ((cur + 1) to latest).foreach { ver =>
            conflictWith(root, ver, depFiles, addRule, partitionBy)
              .foreach { why =>
                throw new ConcurrentWriteException(
                  s"graft_table $root: $ctx conflicts with a concurrent " +
                    s"commit — $why; re-run against the fresh snapshot")
              }
          }
          cur = latest
      }
    }
    -1L // unreachable
  }

  /** The [[AddRule]] for a DML txn that touched `depRel` and stages
    * `adds`: partition-scoped when every dependency's partition tuple is
    * known, all-adds-conflict otherwise (incl. unpartitioned tables). */
  private def dmlAddRule(state: LogState, depRel: Seq[String],
      adds: Seq[ObjectNode]): AddRule = {
    val pb = state.partitionBy
    if (pb.isEmpty) return AddsAlwaysConflict
    val touched = depRel.map(f => state.filePartVals.get(f).collect {
      case pv if pb.forall(pv.contains) => pb.map(c => c -> pv(c)).toMap
    })
    val staged = adds.map { n =>
      val a = n.get("add")
      if (!a.has("partitionValues")) None
      else {
        val o = a.get("partitionValues")
        val pv = o.fieldNames().asScala.map(c => c -> o.get(c).asText()).toMap
        if (pb.forall(pv.contains)) Some(pb.map(c => c -> pv(c)).toMap)
        else None
      }
    }
    if ((touched ++ staged).exists(_.isEmpty)) AddsAlwaysConflict
    else AddsConflictInParts((touched ++ staged).flatten.toSet)
  }

  /** Write `df`'s rows as immutable parquet files under data/ and return
    * their (relative path, rows) adds. The files are INVISIBLE to readers
    * until a commit references them — a crash here leaves only orphans
    * for `vacuum`, never a torn table. */
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

  private def stageDataFiles(df: DataFrame, root: String,
      dataChange: Boolean = true,
      partitionBy: Seq[String] = Nil): Seq[ObjectNode] = {
    val stamp = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val staging = Paths.get(root, s"_staging_$stamp")
    // Staged files ALWAYS carry timestamps as INT64 epoch-micros, never
    // Spark's INT96 default: the streaming file reader and the logged
    // min/max skip stats both speak INT64-micros only (an INT96 column
    // would fail the stream mid-batch and record no stats). Session conf
    // is the only knob parquet exposes, so the write runs under a session
    // CLONE with it pinned — the caller's conf is untouched and
    // concurrent writers cannot race a shared set/restore.
    val pinned = org.apache.spark.sql.GraftSqlBridge.withConf(df,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    // Partitioned layout, Iceberg-style identity partitioning: files land
    // under hive-style `data/<col>=<val>/` dirs BUT the partition columns
    // STAY in the data (written via duplicated `__p_` shadow columns that
    // the partitionBy consumes) — every file remains self-contained, so
    // merge/DML/time-travel/streaming compose unchanged, and the footer
    // min=max stats on a single-partition file make partition pruning a
    // special case of the existing log-stats skipping.
    if (partitionBy.isEmpty)
      pinned.write.mode("overwrite").parquet(staging.toString)
    else {
      partitionBy.foreach(c => require(df.columns.exists(
        df.sparkSession.sessionState.conf.resolver(_, c)),
        s"graft_table $root: partition column '$c' is not in the write " +
          s"schema (${df.columns.mkString(", ")})"))
      partitionBy.foldLeft(pinned)((d, c) => d.withColumn(s"__p_$c", col(c)))
        .write.mode("overwrite")
        .partitionBy(partitionBy.map(c => s"__p_$c"): _*)
        .parquet(staging.toString)
    }
    Files.createDirectories(dataDir(root))
    // (relative-dir-under-staging, file) pairs; flat staging yields ("", f)
    val parts = {
      val s = Files.walk(staging)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => (staging.relativize(p.getParent).toString, p))
        .toSeq.sortBy { case (d, p) => (d, p.getFileName.toString) }
      finally s.close()
    }
    // optional per-file bloom stats (`stats_bloom` property): staged
    // absolute path -> (physical column, base64 sketch) pairs
    val blooms = stageBlooms(df.sparkSession, root, staging)
    // numRecords AND per-column min/max from the parquet FOOTER (pure
    // metadata IO) — a count/stats job over the staged output would
    // re-scan everything just written, which at 100 TB doubles the write
    // cost for statistics the file already carries. The min/max land in
    // the add action so `readRange` can skip whole FILES from the log
    // alone — never opening a footer, the data-skipping half of the
    // z-order/range layouts.
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    def footerInfo(p: Path): (Long, Option[ObjectNode]) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p.toUri), hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try (r.getRecordCount, footerStats(r.getFooter))
      finally r.close()
    }
    val adds = parts.zipWithIndex.flatMap { case ((dir, p), i) =>
      // hive dir components `__p_<c>=<escaped>` → logged values + a
      // `data/<c>=<escaped>/...` target dir (real column names, Spark's
      // escaping kept verbatim for the path)
      val comps = if (dir.isEmpty) Nil
        else dir.split(java.io.File.separatorChar.toString).toSeq
      val partValues = comps.collect {
        case c if c.startsWith("__p_") && c.contains('=') =>
          val Array(k, v) = c.split("=", 2)
          k.stripPrefix("__p_") -> unescapePathName(v)
      }.toMap
      val subdir = comps.map(_.stripPrefix("__p_")).mkString("/")
      val rel = if (subdir.isEmpty) s"data/${stamp}_part$i.parquet"
        else s"data/$subdir/${stamp}_part$i.parquet"
      val (cnt, stats0) = footerInfo(p)
      // bloom sketches ride INSIDE the per-column stats node, so the
      // checkpoint and replay plumbing carry them with zero new state
      val stats = blooms.get(p.toAbsolutePath.normalize.toString) match {
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
      if (cnt == 0L) None // an empty part adds no rows, only metadata
      else {
        val bytes = Files.size(p)
        val target = Paths.get(root).resolve(rel)
        Files.createDirectories(target.getParent)
        Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
        Some(addAction(rel, cnt, dataChange, stats, bytes, partValues))
      }
    }
    // staging dir now holds only _SUCCESS etc. — remove it
    val leftovers = Files.walk(staging)
    try leftovers.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally leftovers.close()
    adds
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
      staging: Path): Map[String, Seq[(String, String, String)]] = {
    val stOpt = latestVersion(root).map(v => replayState(root, v))
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
    val reader = spark.read.parquet(staging.toString)
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

  private def requireSchemaMatch(df: DataFrame, snap: Snapshot, root: String): Unit = {
    val want = StructType.fromDDL(snap.schemaDdl)
    // names + types only: nullability is PLAN metadata (an aggregate's
    // output flips nullable across equivalent plans), not a data shape —
    // parquet files carry the actual values either way
    def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    require(shape(df.schema) == shape(want),
      s"graft_table $root: schema mismatch on append/merge — table is " +
        s"[${want.toDDL}], write is [${df.schema.toDDL}] (conform with " +
        "select/cast, or overwrite to replace the schema)")
  }

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
    val stageDf =
      if (mode == "append") st0.fold(df)(s => toPhysical(df, s.colMap))
      else toPhysical(df, owMap)
    val adds = stageDataFiles(stageDf, root, partitionBy = effPb)
    var attempt = 0
    while (true) {
      val cur = latestVersion(root)
      val snap = cur.map(_ => snapshot(root))
      if (mode == "append") snap.foreach(requireSchemaMatch(df, _, root))
      // per-attempt LAYOUT check, mirroring the schema check above: a
      // concurrent overwrite that changed partitionBy between staging and
      // this attempt would otherwise commit files with the old layout's
      // dirs/partitionValues (reads stay correct — identity partitioning
      // keeps the columns in the data — but a later dropPartition fails
      // on the blind files)
      val nowPb = if (mode == "append" && cur.isDefined)
        partitioning(root) else effPb
      if (nowPb != effPb)
        throw new ConcurrentWriteException(
          s"graft_table $root: partition layout changed concurrently " +
            s"(staged [${effPb.mkString(",")}], table now " +
            s"[${nowPb.mkString(",")}]) — re-run the append " +
            "against the fresh snapshot")
      val actions = txn.map(t => txnAction(t._1, t._2)).toSeq ++ (mode match {
        case "append" if snap.isDefined => adds
        case _ => // first-ever commit, or overwrite: (re)declare schema
          metaAction(df.schema.toDDL, effPb, owMap) +:
            (snap.toSeq.flatMap(_.files.map(removeAction)) ++ adds)
      })
      enforceConstraints(spark, root, adds, cur.getOrElse(0L), s"$mode")
      try return commit(root, cur.getOrElse(0L), actions)
      catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
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
    if (latestVersion(root).isEmpty) return write(spark, df, root, "append")
    val snap = snapshot(root)
    val st0 = replayState(root, snap.version)
    val pb = st0.partitionBy
    val (conformed, union, newCols) = conformEvolved(spark, df, snap, root)
    // on a column-mapped table, genuinely-new columns get FRESH physical
    // names (a dropped column's old physical data may still live in old
    // files under the plain name — re-using it would resurrect it)
    val mapNew: Map[String, String] =
      if (st0.colMap.isEmpty) Map.empty
      else st0.colMap.toMap ++ newCols.map(f => f.name -> freshPhysical(f.name))
    val adds = stageDataFiles(toPhysical(conformed, mapNew), root,
      partitionBy = pb)
    val actions = // the widening meta re-declares the layout AND mapping:
      // meta REPLACES both on replay, so dropping either here would
      // silently departition/unmap the table
      if (newCols.nonEmpty) metaAction(union.toDDL, pb, mapNew) +: adds
      else adds
    var attempt = 0
    while (true) {
      val cur = latestVersion(root).getOrElse(0L)
      if (cur != snap.version && snapshot(root).schemaDdl != snap.schemaDdl)
        throw new ConcurrentWriteException(
          s"graft_table $root: schema changed concurrently — re-run the " +
            "evolving append against the fresh snapshot")
      enforceConstraints(spark, root, adds, cur, "evolving append")
      try return commit(root, cur, actions)
      catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** Shared evolve conformance: resolve `df` against the snapshot schema
    * with the SESSION's resolver — Spark analysis is case-insensitive by
    * default, so a write column `ID` against a table column `id` is the
    * SAME column (type-checked, selected under the table's spelling),
    * never a second add-only column that later reads would reject as
    * ambiguous. Returns (conformed rows under the union schema, union
    * schema, genuinely-new fields). */
  private def conformEvolved(spark: SparkSession, df: DataFrame,
      snap: Snapshot, root: String): (DataFrame, StructType, Array[org.apache.spark.sql.types.StructField]) = {
    val resolver = spark.sessionState.conf.resolver
    val table = StructType.fromDDL(snap.schemaDdl)
    df.schema.fields.foreach { f =>
      table.find(t => resolver(t.name, f.name)).foreach(t =>
        require(t.dataType == f.dataType,
          s"graft_table $root: evolve type conflict on '${f.name}' — table " +
            s"has ${t.dataType.sql}, write has ${f.dataType.sql} (cast first; " +
            "evolution only ADDS columns, it never changes a type)"))
    }
    val newCols = df.schema.fields.filter(f =>
      !table.exists(t => resolver(t.name, f.name)))
    val union = StructType(table.fields ++ newCols)
    val conformed = df.select(union.fields.toSeq.map(f =>
      df.columns.find(resolver(_, f.name)) match {
        case Some(c) => col(c).as(f.name) // table's spelling wins
        case None => lit(null).cast(f.dataType).as(f.name)
      }): _*)
    (conformed, union, newCols)
  }

  /** Upsert/delete that rewrites ONLY the files containing matched keys.
    *
    * Protocol: resolve the snapshot, find touched files via a
    * broadcast semi-join of the base (tagged with `input_file_name()`)
    * against the update keys — the collect is bounded by FILE count,
    * never row count — then rewrite those files' unmatched rows + the
    * update rows as new files, and commit remove(touched) + add(new).
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
    val snap = snapshot(root)
    if (how == "upsert" && !evolve) requireSchemaMatch(updates, snap, root)
    val state = replayState(root, snap.version)
    fireRaceHook()
    // schema EVOLUTION (evolve=true): genuinely-new source columns widen
    // the table schema in the SAME commit (meta + data atomically —
    // writeEvolve's contract on the merge path); rewritten and untouched
    // old rows read the new columns as typed nulls, type conflicts fail,
    // and on a column-mapped table new columns get fresh physical names.
    val (ups, schema, mapNew, evolvedCols) =
      if (how == "upsert" && evolve) {
        val (conformed, union, nc) = conformEvolved(spark, updates, snap, root)
        val m: Map[String, String] =
          if (state.colMap.isEmpty) Map.empty
          else state.colMap.toMap ++
            nc.map(f => f.name -> freshPhysical(f.name))
        (conformed, union, m, nc)
      } else (updates, StructType.fromDDL(snap.schemaDdl),
        state.colMap.toMap,
        Array.empty[org.apache.spark.sql.types.StructField])
    // ---- capped key census ---------------------------------------------
    // ONE job either returns the COMPLETE key set (small mode — the
    // MV-maintenance / streaming-CDF shape: a handful to a few thousand
    // groups) or proves it is large (the bulk-CDC shape). Small mode
    // localizes every key frame: the SQL-MERGE dup check and the
    // deleteKeys overlap check come free from the collected counts (each
    // was its own scan+collect job), and the downstream joins broadcast
    // LOCAL relations built on the driver with NO Spark job — the old
    // lazy frames re-ran a build job (re-scanning the change set) per
    // action: probe, data stage, CDC stage. Large mode keeps the old
    // distributed frames: hauling >64k keys through driver collects and
    // single-threaded local-scan broadcast builds measured SLOWER than
    // letting the executors rebuild them per action (ep27, 150k keys:
    // +0.5 s), so past the cap only the census itself is collected (it
    // doubles as the dup check, which always needed this scan) and
    // everything else stays on the executor path. (A limit(cap+1)
    // census was tried first — Spark's CollectLimit scale-up re-runs
    // the aggregate stage up to 4x, costing more than the full collect
    // of a few MB of key counts.)
    val localKeyCap = 64 * 1024
    val keyCols = on.map(col)
    val kcDf = ups.groupBy(keyCols: _*).agg(count(lit(1)).as("__cnt"))
    val kcRows = Attribution.timed("merge_census")(kcDf.collect())
    val smallKeys = kcRows.length <= localKeyCap
    if (how == "upsert") {
      // SQL MERGE law: one target row must match at most one source row
      val dup = kcRows.find(_.getLong(on.size) > 1)
      require(dup.isEmpty, s"graft_table merge: change set has duplicate " +
        s"keys on (${on.mkString(",")}), e.g. ${dup.fold("")(_.toString)}")
    }
    // nullable schema: LocalRelation nullability never changes join
    // semantics, and collected delete keys may carry nulls the upsert
    // side's schema did not declare
    val keySchema = org.apache.spark.sql.GraftSqlBridge.asNullable(
      StructType(kcDf.schema.fields.dropRight(1)))
    def localKeys(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, keySchema)
    val keyRows =
      if (smallKeys) kcRows.toSeq.map(r => Row.fromSeq(r.toSeq.dropRight(1)))
      else Nil
    val keys = if (smallKeys) localKeys(keyRows)
      else ups.select(keyCols: _*).distinct()
    // conform delete keys to the upsert key types BEFORE collecting
    // (the old distributed path coerced both sides inside the joins; a
    // LocalRelation claiming int cannot hold collected longs)
    val delRows = if (smallKeys)
      deleteKeys.map(_.select(on.zip(keySchema.fields).map { case (k, f) =>
        col(k).cast(f.dataType).as(f.name) }: _*).distinct().collect().toSeq)
    else None
    val delKeys = delRows.map(localKeys).orElse(
      deleteKeys.map(_.select(keyCols: _*).distinct()))
    delRows match {
      case Some(dr) =>
        // SQL-equality set probe, matching what the old left_semi join
        // reported: NULL never matches (a null-keyed delete cannot
        // collide with a null-keyed upsert under join semantics) and
        // -0.0 folds onto 0.0 (SQL normalizes float zeros; Row.equals
        // does not).
        def norm(r: Row): Option[Seq[Any]] = {
          val vs = r.toSeq
          if (vs.contains(null)) None
          else Some(vs.map {
            case d: java.lang.Double if d == 0.0 => 0.0d: java.lang.Double
            case f: java.lang.Float if f == 0.0f => 0.0f: java.lang.Float
            case b: Array[Byte] => b.toSeq // value equality for binary keys
            case v => v
          })
        }
        val upSet = keyRows.flatMap(norm).toSet
        val overlap = dr.flatMap(norm).find(upSet)
        require(overlap.isEmpty, "graft_table merge: a key appears in " +
          s"BOTH the upsert set and deleteKeys (e.g. ${overlap
            .fold("")(vs => Row.fromSeq(vs).toString)}) — the outcome " +
          "would be order-dependent")
      case None => delKeys.foreach { dk =>
        val overlap = dk.join(keys, on, "left_semi").limit(1).collect()
        require(overlap.isEmpty, "graft_table merge: a key appears in " +
          s"BOTH the upsert set and deleteKeys (e.g. ${overlap.headOption
            .fold("")(_.toString)}) — the outcome would be order-dependent")
      }
    }
    val base = livePosScan(spark, root, state, snap.files, schema)
    // Small mode: ONE probe job returns both outputs — the touched FILE
    // set (any key, upserts and atomic deletes alike — drives the
    // rewrite set) and the matched UPSERT key set (feeds the post/insert
    // split without its own scan+distinct round trip). Only the
    // plain-upsert branch consumes matched keys — the delete and
    // conditional branches, and large mode, collect just the file names,
    // so an every-row-matches merge (the CDC last-writer-wins shape)
    // never hauls its whole key space through the probe's
    // distinct+collect. The using-join keeps the base-side key
    // representation; those values only ever re-enter SQL joins, which
    // compare under the same normalized equality, so the split is
    // unchanged. Duplicate representations (e.g. 0.0 vs -0.0) are
    // harmless in a semi/anti build side.
    val needMatched = how == "upsert" && condition.isEmpty && smallKeys
    val probeSrc = keys.withColumn("__up", lit(true))
    val probeAll = delKeys.fold(probeSrc)(dk =>
      probeSrc.unionByName(dk.withColumn("__up", lit(false))))
    val probed = Attribution.timed("merge_probe")(
      if (needMatched)
        base.join(broadcast(probeAll), on, "inner")
          .select(col("__f") +: col("__up") +: keyCols: _*).distinct()
          .collect()
      else
        base.join(broadcast(probeAll), on, "left_semi")
          .select(col("__f")).distinct().collect())
    val touchedNames = probed.map(_.getString(0)).toSet
    val matchedUpRows =
      if (!needMatched) Nil
      else probed.filter(_.getBoolean(1))
        .map(r => Row.fromSeq(r.toSeq.drop(2))).distinct.toSeq
    // O(live files) filename→rel map (data file names are UUID-unique)
    val relOfName = snap.files.map(r =>
      Paths.get(r).getFileName.toString -> r).toMap
    val touchedRel = touchedNames.toSeq.flatMap(relOfName.get)
      .distinct.sorted
    val dataCols = schema.fields.toSeq.map(f => col(f.name))
    val touchedRows = // live rows with __f/__i position attached
      if (touchedRel.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          schema.add("__f", "string").add("__i", "bigint"))
      else base.where(col("__f").isin(touchedNames.toSeq: _*))
    val allKeys = delKeys.fold(keys)(keys.unionByName(_))
    val rewritten = touchedRows.join(broadcast(allKeys), on, "left_anti")
      .select(dataCols: _*)
    def tag(df: DataFrame, t: String): DataFrame =
      df.withColumn("_change_type", lit(t))
    // Per branch: (rows a copy-on-write rewrite's new files hold, rows a
    // merge-on-read commit ADDS — the genuinely new ones only, victims —
    // the target rows this merge kills, with their __f/__i positions,
    // change rows for the feed). Every branch's joins run over the
    // touched subset only; cdc is computed only when changeDataFeed is on.
    val (cowData, morData, victims, cdcDf) = (how, condition) match {
      case ("delete", _) =>
        val matchedPre = touchedRows.join(broadcast(keys), on, "left_semi")
        (rewritten, None, matchedPre,
          Some(tag(matchedPre.select(dataCols: _*), "delete")))
      case ("upsert", None) =>
        val matchedPre = touchedRows.join(broadcast(keys), on, "left_semi")
        val matchedKeys = // small mode: free from the probe job
          if (needMatched) localKeys(matchedUpRows)
          else matchedPre.select(on.map(col): _*).distinct()
        val post0 = ups.join(broadcast(matchedKeys), on, "left_semi")
        // evolve + a source MISSING existing table columns: the conform
        // pass null-filled them, and replacing matched rows wholesale
        // would silently null real data (Delta's updateAll with schema
        // evolution PRESERVES target columns absent from the source; the
        // non-evolve path rejects such a source loudly — evolve must not
        // turn that error into data loss). Matched rows take the source
        // value only for columns the ORIGINAL source carried; inserts
        // keep the null fill — there is no target row to preserve.
        val resolver = spark.sessionState.conf.resolver
        val srcMissing = schema.fields.map(_.name).filter(n =>
          !updates.columns.exists(resolver(_, n)))
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
        val inserts = ups.join(broadcast(matchedKeys), on, "left_anti")
        // atomic companion deletes (deleteKeys): their matched rows join
        // the victim set and tag `delete` in the feed — one commit, one
        // version, never an observable upsert-without-delete interim
        val delMatched = delKeys.map(dk =>
          touchedRows.join(broadcast(dk), on, "left_semi"))
        val victims = delMatched.fold(matchedPre)(matchedPre.unionByName(_))
        val upsertCdc = tag(matchedPre.select(dataCols: _*), "update_preimage")
          .unionByName(tag(post, "update_postimage"))
          .unionByName(tag(inserts, "insert"))
        // post ∪ inserts ≡ ups except on the evolve-preserve path, where
        // post carries the target-preserved matched rows
        val upsEff = if (post eq post0) ups else post.unionByName(inserts)
        (rewritten.unionByName(upsEff), Some(upsEff), victims,
          Some(delMatched.fold(upsertCdc)(dm =>
            upsertCdc.unionByName(tag(dm.select(dataCols: _*), "delete")))))
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
        (rewritten.unionByName(srcWins).unionByName(tgtWins)
          .unionByName(inserts),
          Some(srcWins.unionByName(inserts)),
          pairs.where(expr(cond))
            .select(col("t.__f").as("__f"), col("t.__i").as("__i")),
          Some(tag(pairs.where(expr(cond)).select(tCols: _*),
            "update_preimage")
            .unionByName(tag(srcWins, "update_postimage"))
            .unionByName(tag(inserts, "insert"))))
      case other => throw new IllegalStateException(
        s"unreachable merge shape $other — `how` was validated above")
    }
    // merge-on-read: victims' positions extend the touched files'
    // vectors, only new rows are staged, no file is removed or rewritten
    val mor = dvEnabled(state) && touchedRel.nonEmpty
    val (adds, dvActs, cdc) = Attribution.timed("merge_stage")(staged3(
      if (mor) morData.map(d => stageDataFiles(toPhysical(d, mapNew),
        root, partitionBy = state.partitionBy)).getOrElse(Nil)
      else stageDataFiles(toPhysical(cowData, mapNew), root,
        partitionBy = state.partitionBy),
      if (!mor) Nil else stageDvFiles(spark, root, state,
        victims.select(col("__f"), col("__i")), touchedRel),
      if (!changeFeedEnabled(state)) Nil
      else cdcDf.toSeq.flatMap(d =>
        stageCdcFiles(toPhysical(d, mapNew), root))))
    enforceConstraints(spark, root, adds, snap.version, s"merge ($how)")
    val removes = if (mor) Nil else touchedRel.map(removeAction)
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
    val addRule = if (keyedParts) dmlAddRule(state, touchedRel, adds)
      else AddsAlwaysConflict
    Attribution.timed("merge_commit")(commitDml(root, snap.version,
      txn.map(t => txnAction(t._1, t._2)).toSeq ++ meta ++
        removes ++ adds ++ dvActs ++ cdc,
      depFiles = touchedRel.toSet, addRule,
      state.partitionBy, s"merge ($how)"))
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
    val snap = snapshot(root)
    val st = replayState(root, snap.version)
    (pruneByStats(st, snap.files, predicate), snap.files)
  }

  /** Per-file match counts for `pred` over the live snapshot — the probe
    * behind predicate DELETE/UPDATE. Two pruning layers before any row
    * is touched: (1) log-stats file pruning (`pruneByStats`) drops whole
    * files the predicate provably cannot match — the TTL-delete shape
    * (`ts < cutoff` on a time-clustered layout) probes only the boundary
    * files from the LOG alone; (2) the scan over survivors is
    * column-pruned and predicate-pushed, so parquet row-group stats
    * prune IO inside each file and only matching rows surface.
    * Returns (relative touched files → matched row count, absolute-path
    * map used to re-read exactly those files). */
  private def probeMatches(spark: SparkSession, root: String,
      snap: Snapshot, pred: org.apache.spark.sql.Column,
      state: LogState, predicate: String)
      : (Map[String, Long], Map[String, String]) = {
    val schema = StructType.fromDDL(snap.schemaDdl)
    val candidates = pruneByStats(state, snap.files, predicate)
    if (candidates.isEmpty) return (Map.empty, Map.empty)
    val absOf = candidates.map(f =>
      f -> Paths.get(root).resolve(f).toString).toMap
    // LIVE rows only: a row an existing deletion vector already marks
    // dead can neither re-match nor re-delete
    val base = livePosScan(spark, root, state, candidates, schema)
    val perName = base.where(pred).groupBy(col("__f")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // O(files) filename→rel map (data file names are UUID-unique)
    val relOfName = candidates.map(r =>
      Paths.get(r).getFileName.toString -> r).toMap
    val perRel = perName.flatMap { case (name, n) =>
      relOfName.get(name).map(_ -> n)
    }
    (perRel, absOf)
  }

  /** DELETE WHERE — predicate delete as copy-on-write, the GDPR/TTL
    * workhorse. Three file classes from one pushdown probe scan:
    * untouched files (no matching row) survive AS-IS — no rewrite, no
    * new version reference churn; files where EVERY row matches are
    * dropped by a pure metadata remove (a TTL delete aligned with an
    * ingest-date layout reclaims whole files without reading a byte of
    * them past the probe's pruned scan); only PARTIAL files are
    * rewritten, keeping rows where the predicate is false or null (SQL
    * DELETE removes rows where it is TRUE only). At 100 TB with a
    * date-clustered layout the rewrite set is the one boundary file per
    * partition edge, not the table. Commit races abort like merge's. */
  def deleteWhere(spark: SparkSession, root: String, predicate: String,
      txn: Option[(String, Long)] = None): Long = {
    require(predicate.trim.nonEmpty, "deleteWhere: empty predicate — an " +
      "unconditional delete is `write(emptyDf, mode=overwrite)`, say it")
    val snap = snapshot(root)
    if (snap.files.isEmpty) return snap.version
    val pred = expr(predicate)
    val state = replayState(root, snap.version)
    fireRaceHook()
    val (matched, absOf) = probeMatches(spark, root, snap, pred, state, predicate)
    if (matched.isEmpty) return snap.version // no-op: no row matches
    // live rows per file = logged footer count minus its vector's dead rows
    def liveCount(f: String): Long = state.fileCounts.getOrElse(f, -1L) -
      state.dvs.get(f).map(_._2).getOrElse(0L)
    val (fullMatch, partial) =
      matched.keys.toSeq.partition(f => matched(f) == liveCount(f))
    val schema = StructType.fromDDL(snap.schemaDdl)
    val dataCols = schema.fields.toSeq.map(f => col(f.name))
    def live(files: Seq[String]) = livePosScan(spark, root, state, files, schema)
    // merge-on-read (deletionVectors=true): partial files keep their
    // bytes — the matched rows' positions extend each file's cumulative
    // vector instead of forcing a rewrite. Full-match files stay pure
    // metadata removes either way (cheaper than any vector).
    val mor = dvEnabled(state) && partial.nonEmpty
    // the three stagings are independent (snapshot-pinned reads, own
    // staging dirs) — run them concurrently, commit after all (staged3)
    val (adds, dvActs, cdc) = staged3(
      if (partial.isEmpty || mor) Nil
      else stageDataFiles(toPhysical(
        live(partial).where(!coalesce(pred, lit(false))).select(dataCols: _*),
        state.colMap), root, partitionBy = state.partitionBy),
      if (!mor) Nil else stageDvFiles(spark, root, state,
        live(partial).where(pred).select(col("__f"), col("__i")), partial),
      // change feed enabled: the deleted rows (pre-images) ride the same
      // commit as `cdf/` sidecars — one extra pushdown-pruned scan of the
      // touched subset only
      if (!changeFeedEnabled(state)) Nil else stageCdcFiles(
        toPhysical(live(fullMatch ++ partial).where(pred)
          .select(dataCols: _*).withColumn("_change_type", lit("delete")),
          state.colMap), root))
    val removes = (if (mor) fullMatch else fullMatch ++ partial).sorted
    val touched = (fullMatch ++ partial).distinct
    commitDml(root, snap.version,
      txn.map(t => txnAction(t._1, t._2)).toSeq ++
        removes.map(removeAction) ++ adds ++ dvActs ++ cdc,
      depFiles = touched.toSet, dmlAddRule(state, touched, adds),
      state.partitionBy, "deleteWhere")
  }

  /** UPDATE WHERE — predicate update as copy-on-write. Same probe and
    * file triage as [[deleteWhere]]: only files containing a matching
    * row are rewritten, applying each assignment `col := exprStr` to
    * matching rows (predicate TRUE; null keeps the old value, per SQL
    * UPDATE) and passing every other row and column through bit-exact.
    * Assignments are resolved against the TABLE schema with the
    * session's resolver and cast back to the declared column type — an
    * update can never drift a column's type, and assigning a column the
    * table does not have fails loud. */
  def updateWhere(spark: SparkSession, root: String, predicate: String,
      set: Map[String, String], txn: Option[(String, Long)] = None): Long = {
    require(predicate.trim.nonEmpty,
      "updateWhere: empty predicate — to rewrite every row use overwrite")
    require(set.nonEmpty, "updateWhere: empty SET clause")
    val snap = snapshot(root)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val resolver = spark.sessionState.conf.resolver
    val assign = set.map { case (name, e) =>
      val f = schema.fields.find(t => resolver(t.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"updateWhere: SET column '$name' is not in the table schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
      f.name -> (e, f.dataType)
    }
    if (snap.files.isEmpty) return snap.version
    val pred = expr(predicate)
    val state = replayState(root, snap.version)
    fireRaceHook()
    val (matched, absOf) = probeMatches(spark, root, snap, pred, state, predicate)
    if (matched.isEmpty) return snap.version
    val touched = matched.keys.toSeq.sorted
    val live = livePosScan(spark, root, state, touched, schema)
    def applyAssign(df: DataFrame): DataFrame =
      df.select(schema.fields.toSeq.map { f =>
        assign.get(f.name) match {
          case Some((e, dt)) => expr(e).cast(dt).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    val mor = dvEnabled(state)
    // change feed: matched rows before (pre) and after (post) the
    // assignments, same commit, touched subset only
    def cdcStage(): Seq[ObjectNode] =
      if (!changeFeedEnabled(state)) Nil else {
        val hit = live.where(pred)
          .select(schema.fields.toSeq.map(f => col(f.name)): _*)
        val pre = hit.withColumn("_change_type", lit("update_preimage"))
        val post = applyAssign(hit)
          .withColumn("_change_type", lit("update_postimage"))
        stageCdcFiles(toPhysical(pre.unionByName(post), state.colMap), root)
      }
    // merge-on-read: the matched rows' positions extend each touched
    // file's vector and ONLY the post-image rows are written — a 1-row
    // update writes one 1-row file, never a boundary-file rewrite.
    // Copy-on-write: rewrite the touched files' live rows, assignments
    // applied to matching rows only. Data/dv/cdc stagings are
    // independent (snapshot-pinned reads, own staging dirs) — run
    // concurrently, commit after all (staged3).
    val (removes, adds, dvActs, cdc) =
      if (mor) {
        val hit = live.where(pred)
        val (adds, dvActs, cdc) = staged3(
          stageDataFiles(toPhysical(applyAssign(hit), state.colMap),
            root, partitionBy = state.partitionBy),
          stageDvFiles(spark, root, state,
            hit.select(col("__f"), col("__i")), touched),
          cdcStage())
        (Nil, adds, dvActs, cdc)
      } else {
        val rewritten = live.select(schema.fields.toSeq.map { f =>
          assign.get(f.name) match {
            case Some((e, dt)) =>
              when(pred, expr(e).cast(dt)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }: _*)
        val (adds, _, cdc) = staged3(
          stageDataFiles(toPhysical(rewritten, state.colMap), root,
            partitionBy = state.partitionBy),
          (), cdcStage())
        (touched.map(removeAction), adds, Nil, cdc)
      }
    enforceConstraints(spark, root, adds, snap.version, "updateWhere")
    commitDml(root, snap.version,
      txn.map(t => txnAction(t._1, t._2)).toSeq ++
        removes ++ adds ++ dvActs ++ cdc,
      depFiles = touched.toSet, dmlAddRule(state, touched, adds),
      state.partitionBy, "updateWhere")
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
    val cur = snapshot(root)
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
    val curState = replayState(root, cur.version)
    val curPb = partitioning(root, Some(cur.version))
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
        tgtState.partitionBy != curPb ||
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
    val snap = snapshot(root)
    val st = replayState(root, snap.version)
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
    commitDml(root, snap.version, victims.sorted.map(removeAction),
      depFiles = victims.toSet, AddsNeverConflict, st.partitionBy,
      "dropPartition")
  }

  // -- CHECK constraints -------------------------------------------------------

  /** The named CHECK constraints live at `asOf` (default latest):
    * name → SQL predicate. Constraints ride the log (constraint /
    * dropConstraint actions, checkpointed like every other state), so
    * they survive overwrite, truncation, and restore. */
  def constraints(root: String, asOf: Option[Long] = None): Map[String, String] = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    replayState(root, asOf.getOrElse(latest)).constraints.toMap
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
    val snap = snapshot(root)
    val st = replayState(root, snap.version)
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
    val snap = snapshot(root)
    val existing = replayState(root, snap.version).constraints
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
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    replayState(root, asOf.getOrElse(latest)).properties.toMap
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

  /** Stage `df` (table columns + `_change_type`) as immutable parquet
    * under cdf/ and return the cdc actions — the change-data twin of
    * [[stageDataFiles]]: invisible until a commit references it, orphans
    * reclaimed by vacuum. */
  private def stageCdcFiles(df: DataFrame, root: String): Seq[ObjectNode] = {
    val stamp = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val staging = Paths.get(root, s"_staging_$stamp")
    org.apache.spark.sql.GraftSqlBridge.withConf(df,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
      .write.mode("overwrite").parquet(staging.toString)
    Files.createDirectories(Paths.get(root, "cdf"))
    val parts = {
      val s = Files.list(staging)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    val actions = parts.zipWithIndex.flatMap { case (p, i) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p.toUri), hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val cnt = try r.getRecordCount finally r.close()
      if (cnt == 0L) None
      else {
        val rel = s"cdf/${stamp}_cdc$i.parquet"
        Files.move(p, Paths.get(root).resolve(rel),
          StandardCopyOption.ATOMIC_MOVE)
        Some(cdcAction(rel, cnt))
      }
    }
    val leftovers = Files.walk(staging)
    try leftovers.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally leftovers.close()
    actions
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
    * cardinalities come from a file-count-bounded aggregate (row indexes
    * themselves never touch the driver). */
  private def stageDvFiles(spark: SparkSession, root: String,
      state: LogState, deleted: DataFrame,
      affectedRel: Seq[String]): Seq[ObjectNode] = {
    val relOfName = affectedRel.map(r =>
      Paths.get(r).getFileName.toString -> r).toMap
    val carried = dvRows(spark, root, state,
      affectedRel.filter(state.dvs.contains))
    val all = carried.fold(deleted)(deleted.unionByName(_))
      .select(col("__f"), col("__i")).distinct()
    val counts = all.groupBy(col("__f")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val stamp = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val staging = Paths.get(root, s"_staging_$stamp")
    // Pinned session clone: a dv action REPLACES the file's cumulative
    // vector on replay, so each data file's vector MUST land as exactly
    // one parquet part — a caller session with maxRecordsPerFile set
    // would split a big vector into parts whose second action silently
    // superseded the first (resurrecting earlier deleted rows). The
    // repartition puts each file's rows in one task; the pin stops the
    // writer from re-splitting them.
    org.apache.spark.sql.GraftSqlBridge.withConf(
        all.repartition(col("__f")).withColumnRenamed("__i", "idx"),
        "spark.sql.files.maxRecordsPerFile" -> "0")
      .write.mode("overwrite").partitionBy("__f").parquet(staging.toString)
    Files.createDirectories(Paths.get(root, "dv"))
    val parts = {
      val s = Files.walk(staging)
      // regular files only: the partition DIRS themselves are named
      // `__f=<datafile>.parquet` and would match a name-only filter
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => (staging.relativize(p.getParent).toString, p))
        .toSeq.sortBy(_._1)
      finally s.close()
    }
    // exactly-one-part invariant (see the pinned write above): replay
    // keeps only the LAST dv action per data file, so a split vector
    // would silently drop rows — fail loud instead of corrupting
    val multi = parts.groupBy(_._1).collect { case (d, ps) if ps.size > 1 => d }
    require(multi.isEmpty,
      s"graft_table $root: deletion-vector staging split a file's vector " +
        s"into multiple parts (${multi.mkString(", ")}) — one dv action " +
        "per data file is a replay invariant")
    val actions = parts.zipWithIndex.map { case ((dir, p), i) =>
      val dataName = unescapePathName(dir.stripPrefix("__f="))
      val rel = s"dv/${stamp}_dv$i.parquet"
      Files.move(p, Paths.get(root).resolve(rel), StandardCopyOption.ATOMIC_MOVE)
      dvAction(relOfName(dataName), Some(rel), counts(dataName))
    }
    val leftovers = Files.walk(staging)
    try leftovers.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally leftovers.close()
    actions
  }

  /** Full-table constraint audit: violation count per constraint (0 =
    * healthy). The one consumer that scans everything — run it after a
    * RESTORE (which is metadata-only and deliberately does NOT
    * re-validate resurrected files) or to certify externally-produced
    * data. One pass, all constraints counted together. */
  def verifyConstraints(spark: SparkSession, root: String): Map[String, Long] = {
    val snap = snapshot(root)
    val state = replayState(root, snap.version)
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
    * and the row. Called by every data-adding path (write, writeEvolve,
    * appendBatch, merge, updateWhere); deleteWhere only shrinks row sets
    * and restore is metadata-only by contract (see verifyConstraints). */
  private def enforceConstraints(spark: SparkSession, root: String,
      adds: Seq[ObjectNode], atVersion: Long, ctx: String): Unit = {
    if (adds.isEmpty || atVersion < 1) return
    val st = replayState(root, atVersion)
    val cons = st.constraints
    if (cons.isEmpty) return
    val files = adds.map(_.get("add").get("path").asText())
    // the staged files' OWN schema (self-describing; an evolving write's
    // files already carry the widened shape — in PHYSICAL names on a
    // mapped table, renamed to logical for the CHECK expressions)
    val schemaDdl = spark.read
      .parquet(files.map(f => Paths.get(root).resolve(f).toString): _*)
      .schema.toDDL
    val logOf = st.colMap.map(_.swap).toMap
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
    * A commit race aborts like merge (the rewrite was computed against a
    * snapshot another writer replaced); re-run against the fresh one.
    * Without zorder the pack is a shuffle-free coalesce read of the old
    * files; with it, one range shuffle on the Morton key. */
  def optimize(spark: SparkSession, root: String, targetFiles: Int,
      zorderBy: Seq[String] = Nil, zorderBits: Int = 12,
      partitions: Seq[Map[String, String]] = Nil): Long = {
    require(targetFiles > 0, s"optimize: targetFiles must be > 0, got $targetFiles")
    require(zorderBy.isEmpty ||
      (zorderBy.length >= 2 && zorderBy.length <= 4),
      s"optimize: zorderBy takes 2-4 columns, got ${zorderBy.mkString(",")}")
    val snap = snapshot(root)
    if (snap.files.isEmpty) return snap.version // nothing to lay out
    val schema = StructType.fromDDL(snap.schemaDdl)
    val state = replayState(root, snap.version)
    fireRaceHook()
    val pb = partitioning(root, Some(snap.version))
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
    val adds = stageDataFiles(laid, root, dataChange = false, partitionBy = pb)
    // a concurrent APPEND never conflicts with a layout rewrite — the
    // new files simply stay live beside the compacted ones (the
    // streaming-ingest + background-OPTIMIZE composition); concurrent
    // DML on any compacted file still aborts via the dependency set
    commitDml(root, snap.version, victims.map(removeAction) ++ adds,
      depFiles = victims.toSet, AddsNeverConflict, pb, "optimize")
  }

  /** DESCRIBE DETAIL parity: one-row table summary from log metadata
    * only — version, live file count/bytes/rows, schema, checkpoint
    * coverage, partition layout, reader floor, deletion-vector load
    * (files carrying one + rows they mark dead — the autoCompact
    * trigger's own inputs), and whether column mapping is active.
    * Zero data IO. */
  def describe(spark: SparkSession, root: String): DataFrame = {
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
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
    val latest = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))
    val st = replayState(root, latest)
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
    (1L to latest).foreach { ver =>
      val f = verFile(root, ver)
      // truncated versions are gone from the log — exactly the point:
      // files only THEY referenced become unreferenced and reclaimable
      // (their sealed live set survives via the checkpoint scan below)
      if (Files.exists(f))
        Files.readAllLines(f).asScala
          .filter(_.nonEmpty).foreach { line =>
            val n = json.readTree(line)
            if (n.has("add")) referenced += n.get("add").get("path").asText()
            else if (n.has("cdc")) // change-data sidecars live until their
              referenced += n.get("cdc").get("path").asText() // log does
            else if (n.has("dv") && !n.get("dv").get("dvPath").isNull)
              referenced += n.get("dv").get("dvPath").asText()
          }
    }
    // every checkpoint's live set stays readable (incl. the truncation seal)
    val ls = Files.list(logDir(root))
    try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".checkpoint.json"))
      .foreach { p =>
        val n = json.readTree(Files.readString(p))
        n.get("files").elements().asScala.foreach(f => referenced += f.asText())
        if (n.has("dvs"))
          n.get("dvs").properties().asScala.foreach(e =>
            referenced += e.getValue.get("dvPath").asText())
      }
    finally ls.close()
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
        if (!dryRun) {
          val w = Files.walk(st)
          try w.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
          finally w.close()
        }
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
