package graft.tables

import java.nio.file.Paths
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft_table` as a STRUCTURED STREAMING SOURCE (DataSource V2):
  * offsets ARE commit versions, so the query checkpoint + the commit log
  * give exactly-once table-to-table pipelines with no extra bookkeeping —
  * the streaming dual of `changes()`.
  *
  * {{{
  *   spark.readStream
  *     .format("graft.tables.GraftTableStreamSource")
  *     .option("path", root)                 // the table root
  *     .option("startingVersion", "0")       // 0 = everything (default);
  *     .load()                               //   "latest" = new commits only
  * }}}
  *
  * Semantics (Delta's streaming-source contract, deliberately):
  *  - Each micro-batch is the data-changing files ADDED in a version
  *    range (start, end], each row stamped `_commit_version`. OPTIMIZE
  *    versions (layout-only adds) deliver nothing.
  *  - A version that CHANGED existing rows (merge/delete/overwrite/
  *    restore — removes that are not a pure layout swap) FAILS the
  *    stream: an append-only consumer cannot retract. Opt out with
  *    `skipChangeCommits=true`, which skips such versions' adds entirely.
  *  - A truncated version in the replay range fails loud (restart the
  *    consumer from a snapshot read + fresh checkpoint).
  *
  * 100 TB shape: planning is O(versions in range) LOG metadata on the
  * driver — never a data-path listing; one input partition per added
  * file, read executor-side straight from the parquet footer schema.
  * The reader is parquet-mr's Group API over the FLAT primitive types
  * this table format stages (long/int/double/float/boolean/string/
  * binary/timestamp-micros/date); nested or unknown types fail loud at
  * stream construction, not mid-batch. Files written before a schema
  * evolution simply lack the new columns — those read as typed nulls,
  * same as the batch path.
  */
class GraftTableStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTableStreamSource.streamSchema(GraftTableStreamSource.root(options),
      withImages = options.getBoolean("withImages", false))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftStreamTable(properties.get("path"), schema)

  override def supportsExternalMetadata(): Boolean = false
}

object GraftTableStreamSource {
  private[tables] def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft_table stream source needs option `path` (the table root)")
    p
  }

  /** The table's schema + (with `withImages`) the `_change_type`
    * classification + the `_commit_version` stamp; every column type
    * must be reader-supported — checked HERE so an unsupported table
    * fails at stream construction with the column named. */
  private[graft] def streamSchema(root: String,
      withImages: Boolean = false): StructType = {
    val base = StructType.fromDDL(GraftTable.snapshot(root).schemaDdl)
    base.fields.foreach { f =>
      require(supported(f.dataType),
        s"graft_table stream source: column '${f.name}' has type " +
          s"${f.dataType.sql} — the streaming reader handles flat " +
          "primitives only (long/int/short/byte/double/float/boolean/" +
          "string/binary/timestamp/timestamp_ntz/date); project it away " +
          "in a batch view first")
    }
    val tagged = if (withImages) base.add("_change_type", StringType,
      nullable = false) else base
    tagged.add("_commit_version", LongType, nullable = false)
  }

  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | BooleanType | StringType | BinaryType |
         TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** Shared startingVersion/startingTimestamp resolution (path source AND
    * the catalog's streaming scan). startingTimestamp is INCLUSIVE (Delta
    * parity): the exclusive start is the newest version committed
    * strictly BEFORE it; only the no-commit-before-ts case means
    * "deliver everything" — truncated history / typo'd paths propagate.
    * Naive timestamps parse in the SESSION timezone. */
  private[graft] def resolveStartingVersion(root: String,
      options: CaseInsensitiveStringMap): String = {
    val fromTs = Option(options.get("startingTimestamp")).map { raw =>
      require(options.get("startingVersion") == null,
        "graft_table stream source: startingVersion and " +
          "startingTimestamp are mutually exclusive")
      val t = raw.trim
      require(t.nonEmpty, "graft_table stream source: " +
        "startingTimestamp must be epoch millis or a timestamp " +
        "string, got an empty value")
      val ms =
        if (t.forall(_.isDigit)) t.toLong
        else {
          val zone = java.time.ZoneId.of(org.apache.spark.sql
            .SparkSession.active.sessionState.conf.sessionLocalTimeZone)
          val ldt = if (t.contains(" ") || t.contains("T"))
            java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          else java.time.LocalDate.parse(t).atStartOfDay()
          ldt.atZone(zone).toInstant.toEpochMilli
        }
      GraftTable.versionAtTimestampOpt(root, ms - 1).getOrElse(0L).toString
    }
    fromTs.orElse(Option(options.get("startingVersion"))).getOrElse("0")
  }
}

private[tables] class GraftStreamTable(root: String, schema: StructType)
  extends Table with SupportsRead {
  override def name(): String = s"graft_table `$root` (stream)"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // COLUMN PRUNING through to the parquet projection: a maintenance
      // loop that selects only `_commit_version` (the l14 MV driver) or
      // a narrow transform must not pay full-row assembly of wide
      // documents per delivered file. Spark hands us the required
      // columns; the pruned schema flows into the batch planner and the
      // per-file reader projects the parquet read itself.
      private var pruned: StructType = schema
      override def pruneColumns(required: StructType): Unit =
        // keep THIS scan's field order stable under the table schema's
        // order (required arrives in demand order)
        pruned = StructType(schema.fields.filter(f =>
          required.fieldNames.contains(f.name)))
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = pruned
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftMicroBatchStream(root, pruned,
            GraftTableStreamSource.resolveStartingVersion(root, options),
            options.getBoolean("skipChangeCommits", false),
            options.getLong("maxVersionsPerTrigger", Long.MaxValue),
            options.getBoolean("withImages", false))
      }
    }
}

/** One offset = one committed table version (fully processed up to and
  * including it). */
private[tables] case class GraftVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private[graft] class GraftMicroBatchStream(root: String, schema: StructType,
    startingVersion: String, skipChangeCommits: Boolean,
    maxVersionsPerTrigger: Long, withImages: Boolean = false)
  extends MicroBatchStream with SupportsTriggerAvailableNow {
  require(maxVersionsPerTrigger > 0,
    s"maxVersionsPerTrigger must be > 0, got $maxVersionsPerTrigger")

  // Trigger.AvailableNow: pin the end bound ONCE at query start so the
  // run drains exactly the versions that existed then and stops.
  @volatile private var availableNowBound: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(latestVersionNow())

  private def latestVersionNow(): Long =
    GraftTable.latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $root"))

  override def initialOffset(): Offset = GraftVersionOffset(
    startingVersion match {
      case "latest" => latestVersionNow() // new commits only
      case v => v.toLong // 0 = deliver everything from version 1
    })

  override def latestOffset(): Offset = {
    val now = latestVersionNow()
    GraftVersionOffset(availableNowBound.fold(now)(math.min(now, _)))
  }

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): versions
  // are the admission unit (a commit is atomic — no finer split exists),
  // so `maxVersionsPerTrigger` bounds each micro-batch to N versions.
  // A backfill over a long history then proceeds in bounded batches —
  // checkpointed progress after each — instead of one giant first batch.
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftVersionOffset].version
    val cap = latestOffset().asInstanceOf[GraftVersionOffset].version
    // A restored checkpoint AHEAD of the table's current latest version
    // (history manipulated / table recreated under the same path) must
    // fail loud like the truncated-version path — returning end < start
    // would hand Spark a negative batch.
    require(cap >= from,
      s"graft_table $root: checkpoint offset $from is ahead of the " +
        s"table's latest version $cap — the table history was rewritten " +
        "under this stream; restart from a snapshot read with a fresh " +
        "checkpoint")
    GraftVersionOffset(
      math.min(cap, from + math.min(maxVersionsPerTrigger, cap - from)))
  }

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = () // progress lives in the
  // query checkpoint; the log itself needs no consumer bookkeeping

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftVersionOffset].version
    val to = end.asInstanceOf[GraftVersionOffset].version
    GraftTable.versionDeltas(root, from, to).flatMap {
      case (ver, adds, cdc, changedExisting) =>
        // withImages (the streaming CDF contract): a DML version delivers
        // its cdf/ sidecars — rows pre-classified by the `_change_type`
        // column they carry; an append-only version delivers its adds as
        // constant-`insert` rows; a change version WITHOUT sidecars is
        // unreplayable either way (the feed can't invent retractions).
        if (withImages && cdc.nonEmpty)
          cdc.map(f => GraftFilePartition(
            Paths.get(root).resolve(f).toString, ver,
            constChangeType = null): InputPartition)
        else if (changedExisting && !skipChangeCommits)
          throw new IllegalStateException(
            s"graft_table $root: version $ver changed existing rows " +
              "(merge/delete/overwrite/restore) " +
              (if (withImages)
                "and recorded no change images (it predates " +
                  "changeDataFeed=true, or was an overwrite/restore/" +
                  "drop_partition) — the feed cannot invent retractions. "
              else "— an append-only stream cannot retract them. ") +
              "Set skipChangeCommits=true to skip such versions, or " +
              "restart from a snapshot read")
        else if (changedExisting) Nil
        else adds.map(f => GraftFilePartition(
          Paths.get(root).resolve(f).toString, ver,
          constChangeType = if (withImages) "insert" else null): InputPartition)
    }.toArray
  }

  // column mapping: files carry stable PHYSICAL names; the stream schema
  // (pinned at query start, like any streaming schema) speaks logical.
  // Resolve each field's physical name ONCE AT STREAM CONSTRUCTION — not
  // per batch: a mid-stream rename would otherwise re-point the mapping
  // under the pinned logical names and silently null the renamed column.
  // Physical names never change after assignment, so files written
  // before OR after a mid-stream rename read identically under this
  // pinned resolution; engine columns (_change_type, _commit_version)
  // and pre-mapping tables map to themselves.
  private val physNames: Array[String] = {
    val colMap = GraftTable.columnMapping(root)
    schema.fieldNames.map(n => colMap.getOrElse(n, n))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftFileReaderFactory(schema.json, physNames)
}

// constChangeType: null = no `_change_type` in the stream schema OR the
// file carries its own (a cdf/ sidecar); non-null = stamp every row with
// this constant (an append delivered as `insert` by the withImages feed)
private[tables] case class GraftFilePartition(absPath: String, version: Long,
    constChangeType: String = null)
  extends InputPartition

private[tables] class GraftFileReaderFactory(schemaJson: String,
    physNames: Array[String])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    new GraftFileReader(p.absPath, p.version,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      p.constChangeType, physNames)
  }
}

/** Executor-side reader: parquet-mr Group API over one immutable data
  * file — no Spark-internal reader plumbing, just the footer schema and
  * typed getters. `schema` may be COLUMN-PRUNED (any field subset in
  * table order): the reader projects the parquet read to exactly the
  * requested file columns (footer schema ∩ requested physical names —
  * columns the file predates read as nulls), and when NO file column is
  * requested at all (`select _commit_version` — the MV maintenance
  * driver) it opens no data pages: the footer's record count drives a
  * pure row-synthesis loop. Engine columns are synthesized per field:
  * `_commit_version` = the partition's constant, `_change_type` = the
  * partition constant for appends or the file's own column for cdf/
  * sidecars. */
private[tables] class GraftFileReader(absPath: String, version: Long,
    schema: StructType, constChangeType: String = null,
    physNames: Array[String] = Array.empty)
  extends PartitionReader[InternalRow] {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private val hconf = new org.apache.hadoop.conf.Configuration()
  private val hPath = new org.apache.hadoop.fs.Path(absPath)
  private val constChangeTypeUtf8 =
    if (constChangeType == null) null else UTF8String.fromString(constChangeType)
  private def physName(i: Int): String =
    if (i < physNames.length) physNames(i) else schema.fields(i).name

  // footer once: the file's own schema + record count (pure metadata IO)
  private val (fileSchema, recordCount) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hPath, hconf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(hconf, hPath).build())
    try (r.getFooter.getFileMetaData.getSchema, r.getRecordCount)
    finally r.close()
  }
  // per requested field: does it come from the FILE, and under which name
  private val fromFile: Array[String] = schema.fields.zipWithIndex.map {
    case (f, i) =>
      val synth = f.name == "_commit_version" ||
        (f.name == "_change_type" && constChangeTypeUtf8 != null)
      val n = physName(i)
      if (!synth && fileSchema.containsField(n)) n else null
  }
  private val wantedFileFields = fromFile.filter(_ != null)
  // parquet-level projection: the reader assembles ONLY the requested
  // columns (GroupReadSupport honors parquet.read.schema)
  private val reader: ParquetReader[Group] =
    if (wantedFileFields.isEmpty) null // rows-only mode: no data pages
    else {
      val projection = new org.apache.parquet.schema.MessageType(
        fileSchema.getName,
        wantedFileFields.map(n =>
          fileSchema.getType(fileSchema.getFieldIndex(n))).toSeq.asJava)
      hconf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        projection.toString)
      ParquetReader.builder(new GroupReadSupport(), hPath)
        .withConf(hconf).build()
    }
  private var current: Group = _
  private var synthesized = 0L // rows emitted in rows-only mode

  override def next(): Boolean =
    if (reader == null) {
      val more = synthesized < recordCount
      if (more) synthesized += 1
      more
    } else {
      current = reader.read()
      current != null
    }

  override def get(): InternalRow = {
    val values = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      values(i) =
        if (f.name == "_commit_version") version
        else if (f.name == "_change_type" && constChangeTypeUtf8 != null)
          constChangeTypeUtf8 // append delivered through the CDF feed
        else if (fromFile(i) == null) null // pre-evolution file
        else {
          val grpType = current.getType
          val fi = grpType.getFieldIndex(fromFile(i))
          if (current.getFieldRepetitionCount(fi) == 0) null
          else f.dataType match {
            case LongType | TimestampType | TimestampNTZType =>
              current.getLong(fi, 0)
            case IntegerType | DateType => current.getInteger(fi, 0)
            case ShortType => current.getInteger(fi, 0).toShort
            case ByteType => current.getInteger(fi, 0).toByte
            case DoubleType => current.getDouble(fi, 0)
            case FloatType => current.getFloat(fi, 0)
            case BooleanType => current.getBoolean(fi, 0)
            case StringType =>
              UTF8String.fromBytes(current.getBinary(fi, 0).getBytes)
            case BinaryType => current.getBinary(fi, 0).getBytes
            case other => throw new IllegalStateException(
              s"unreachable: schema check admits no ${other.sql}")
          }
        }
      i += 1
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = if (reader != null) reader.close()
}
