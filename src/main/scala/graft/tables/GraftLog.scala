package graft.tables

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The log layer under [[GraftTable]]: where version and checkpoint
  * files live, the replayed state of a version ([[LogState]]), the one
  * reader of version files ([[VersionRecord]]), checkpoints, and the
  * conflict check a lost commit race replays. `GraftTable` builds every
  * op and public entry point on it. */
private[tables] object GraftLog {

  val json = new ObjectMapper()

  def logDir(root: String): Path = Paths.get(root, "_graft_log")
  def verFile(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.json")

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

  /** An add action's logged partition values (empty when it has none). */
  def partValuesOf(
      add: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    if (!add.has("partitionValues")) Map.empty
    else {
      val pv = add.get("partitionValues")
      pv.fieldNames().asScala.map(c => c -> pv.get(c).asText()).toMap
    }

  /** Full replayed state at one version (internal). */
  final class LogState {
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
        if (a.has("partitionValues")) filePartVals(p) = partValuesOf(a)
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

  /** Versions of the checkpoints in the log, in listing order. */
  def checkpointVersions(root: String): Seq[Long] =
    if (!Files.isDirectory(logDir(root))) Nil
    else {
      val s = Files.list(logDir(root))
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".checkpoint.json"))
        .flatMap(n => scala.util.Try(
          n.stripSuffix(".checkpoint.json").toLong).toOption).toSeq
      finally s.close()
    }

  /** Latest checkpoint at or below `v`, if any. */
  def checkpointAtOrBefore(root: String, v: Long): Option[Long] =
    checkpointVersions(root).filter(_ <= v).maxOption

  /** The state the checkpoint at version `c` sealed. One declaring a
    * reader floor above [[SupportedCkptReader]] fails loud: replay and
    * vacuum alike would misread it. */
  def loadCheckpoint(root: String, c: Long): LogState = {
    val st = new LogState
    val n = json.readTree(Files.readString(ckptFile(root, c)))
    val need = if (n.has("minReader")) n.get("minReader").asInt() else 1
    if (need > SupportedCkptReader) throw new IllegalStateException(
      s"graft_table $root: checkpoint at version $c requires reader " +
        s"version $need but this engine supports $SupportedCkptReader — " +
        "it carries state (e.g. deletion vectors / column mapping) this " +
        "binary would silently misread; upgrade the reader")
    def each(key: String)(f: (String, JsonNode) => Unit): Unit =
      if (n.has(key))
        n.get(key).properties().asScala.foreach(e => f(e.getKey, e.getValue))
    st.minReader = need
    st.schemaDdl = n.get("schemaDdl").asText()
    n.get("files").elements().asScala.foreach(f => st.files += f.asText())
    each("fileStats")((p, s) => st.fileStats(p) = s)
    each("fileCounts")((p, c) => st.fileCounts(p) = c.asLong())
    each("fileSizes")((p, b) => st.fileSizes(p) = b.asLong())
    if (n.has("partitionBy"))
      st.partitionBy = n.get("partitionBy").elements().asScala
        .map(_.asText()).toSeq
    each("filePartVals")((p, pv) => st.filePartVals(p) = pv.properties()
      .asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
    each("txns")((app, b) => st.txns(app) = b.asLong())
    each("constraints")((c, e) => st.constraints(c) = e.asText())
    each("properties")((k, v) => st.properties(k) = v.asText())
    each("dvs")((p, d) =>
      st.dvs(p) = (d.get("dvPath").asText(), d.get("numDeleted").asLong()))
    each("columnMapping")((l, p) => st.colMap(l) = p.asText())
    st
  }

  /** State at `v`: nearest checkpoint ≤ v as the base, then replay only
    * the remaining log suffix. A missing log file in the suffix means the
    * history was truncated past any covering checkpoint — fail loud. */
  def replayState(root: String, v: Long): LogState = {
    val base = checkpointAtOrBefore(root, v)
    val st = base.fold(new LogState)(loadCheckpoint(root, _))
    ((base.getOrElse(0L) + 1) to v).foreach { ver =>
      readVersion(root, ver).getOrElse(throw new IllegalArgumentException(
        s"graft_table $root: version $ver is unreadable — its log was " +
          s"truncated and no checkpoint ≤ $v covers it (earliest " +
          "resolvable state is the oldest retained checkpoint)"))
        .actions.foreach(st.applyLine)
    }
    st.version = v
    st
  }

  /** One log version, parsed once: its actions in log order (what replay
    * and the conflict check walk) and their classification (what the
    * change feeds, the MV ladder, the stream source, history and vacuum
    * read). [[readVersion]] gives None for a truncated version, and each
    * caller keeps its policy for one:
    *  - `appendOnlySince` and `cdcCoveredSince` answer false (the MV
    *    falls back to a full recompute);
    *  - `versionDeltas`, `changes`, `changesWithImages`,
    *    `commitTimestamp` and `replayState` throw (the delta is
    *    unknowable);
    *  - `history` and `vacuum` skip the version;
    *  - `conflictWith` reports it as a conflict. */
  final case class VersionRecord(
      version: Long,
      actions: Seq[JsonNode],
      dataAdds: Seq[String],   // adds that change data
      layoutAdds: Seq[String], // `dataChange: false` adds (OPTIMIZE)
      rowsAdded: Long,         // numRecords over every add
      removes: Seq[String],
      dvFiles: Seq[String],    // data files whose vector it set or cleared
      dvPaths: Seq[String],    // the vector sidecars it references
      cdc: Seq[String],
      txn: Option[String],     // `appId#batchId`
      meta: Boolean,
      property: Boolean,
      constraint: Boolean,     // added or dropped one
      timestamp: Long) {       // the commit line's, else the log's mtime
    /** Rows that existed before this version changed: it vectored a file,
      * or removed one without being OPTIMIZE's layout-only swap. */
    def changedExisting: Boolean = dvFiles.nonEmpty ||
      (removes.nonEmpty && !(layoutAdds.nonEmpty && dataAdds.isEmpty))
  }

  def readVersion(root: String, v: Long): Option[VersionRecord] = {
    val f = verFile(root, v)
    val lines = try Files.readAllLines(f).asScala
      catch { case _: java.nio.file.NoSuchFileException => return None }
    val actions = lines.filter(_.nonEmpty).map(json.readTree).toSeq
    def of(kind: String) = actions.filter(_.has(kind)).map(_.get(kind))
    def path(a: JsonNode) = a.get("path").asText()
    val (data, layout) = of("add").partition(a =>
      !a.has("dataChange") || a.get("dataChange").asBoolean(true))
    Some(VersionRecord(v, actions, data.map(path), layout.map(path),
      of("add").map(_.get("numRecords").asLong()).sum,
      of("remove").map(path), of("dv").map(path),
      of("dv").filterNot(_.get("dvPath").isNull).map(_.get("dvPath").asText()),
      of("cdc").map(path),
      of("txn").lastOption.map(t =>
        t.get("appId").asText() + "#" + t.get("batchId").asLong()),
      meta = actions.exists(_.has("meta")),
      property = actions.exists(_.has("property")),
      constraint = actions.exists(n =>
        n.has("constraint") || n.has("dropConstraint")),
      timestamp = of("commit").headOption.fold(
        Files.getLastModifiedTime(f).toMillis)(_.get("ts").asLong())))
  }

  def writeCheckpoint(root: String, v: Long): Unit = {
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

  /** The reason version `ver` conflicts with a txn that depends on
    * `depFiles`/`addRule`, or None when the txn can safely re-commit
    * past it. Pure log metadata: one pass over the version's lines. */
  def conflictWith(root: String, ver: Long, depFiles: Set[String],
      addRule: AddRule, partitionBy: Seq[String]): Option[String] = {
    val r = readVersion(root, ver).getOrElse(
      return Some(s"version $ver's log was truncated mid-flight"))
    r.actions.foreach { n =>
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
            val pv = partValuesOf(a)
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
}
