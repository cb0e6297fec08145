package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

import graft.pipeline.PipelineRunner
import graft.tables.GraftTable

/** The ACID commit-log table format: atomic commits, snapshot isolation,
  * time travel, optimistic concurrency, touched-file-only merge, crash
  * safety, vacuum — plus the config (YAML) surface over all of it. */
class GraftTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_io/acid_$name"
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
    root
  }

  /** Every file under `root/sub` plus any `_staging_*` dir, as sorted
    * root-relative paths — what a failed op must leave as it found. */
  private def filesUnder(root: String, sub: String = ""): Seq[String] = {
    val top = Paths.get(root, sub)
    if (!Files.exists(top)) Nil
    else {
      val w = Files.walk(top)
      try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) ||
          p.getFileName.toString.startsWith("_staging_"))
        .map(p => Paths.get(root).relativize(p).toString).toSeq.sorted
      finally w.close()
    }
  }

  test("write/read round-trip, append, and per-version time travel") {
    val root = freshRoot("rt")
    val v1 = GraftTable.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "overwrite")
    v1 shouldBe 1L
    val v2 = GraftTable.write(spark,
      Seq((3L, "c")).toDF("id", "v"), root, "append")
    v2 shouldBe 2L
    GraftTable.read(spark, root).as[(Long, String)].collect().sorted shouldBe
      Array((1L, "a"), (2L, "b"), (3L, "c"))
    // time travel: version 1 still reads exactly the pre-append state
    GraftTable.read(spark, root, Some(1L)).as[(Long, String)]
      .collect().sorted shouldBe Array((1L, "a"), (2L, "b"))
    // overwrite replaces content but history survives
    GraftTable.write(spark, Seq((9L, "z")).toDF("id", "v"), root, "overwrite") shouldBe 3L
    GraftTable.read(spark, root).as[(Long, String)].collect() shouldBe
      Array((9L, "z"))
    GraftTable.read(spark, root, Some(2L)).count() shouldBe 3L
  }

  test("append enforces the log's schema; overwrite may replace it") {
    val root = freshRoot("schema")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    (the[IllegalArgumentException] thrownBy GraftTable.write(spark,
      Seq((2L, 5.0)).toDF("id", "other"), root, "append"))
      .getMessage should include("schema mismatch")
    GraftTable.write(spark, Seq((2L, 5.0)).toDF("id", "other"), root, "overwrite")
    GraftTable.read(spark, root).columns shouldBe Array("id", "other")
  }

  test("merge rewrites ONLY files containing matched keys") {
    val root = freshRoot("merge")
    // two disjoint key ranges land as separate SINGLE-FILE commits, so
    // "which files a merge may touch" is deterministic
    GraftTable.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), root,
      "overwrite")
    GraftTable.write(spark,
      Seq((10L, "x"), (11L, "y")).toDF("id", "v").repartition(1), root,
      "append")
    val before = GraftTable.snapshot(root)
    before.files.size should be >= 2
    // upsert touches only the 10/11 file: update 10, insert 20
    GraftTable.merge(spark, root,
      Seq((10L, "X!"), (20L, "new")).toDF("id", "v"), Seq("id"))
    val after = GraftTable.snapshot(root)
    // the file(s) holding keys 1/2 survive IDENTICALLY (no rewrite)
    val untouched = before.files.filter(after.files.contains)
    untouched should not be empty
    val untouchedRows = spark.read
      .parquet(untouched.map(f => s"$root/$f"): _*)
      .as[(Long, String)].collect().toSet
    untouchedRows shouldBe Set((1L, "a"), (2L, "b"))
    // and content is the correct upsert result
    GraftTable.read(spark, root).as[(Long, String)].collect().sorted shouldBe
      Array((1L, "a"), (2L, "b"), (10L, "X!"), (11L, "y"), (20L, "new"))
    // delete by key: only the matched file rewrites again
    GraftTable.merge(spark, root, Seq(Tuple1(2L)).toDF("id"), Seq("id"), "delete")
    GraftTable.read(spark, root).as[(Long, String)].collect().sorted shouldBe
      Array((1L, "a"), (10L, "X!"), (11L, "y"), (20L, "new"))
    // duplicate-keyed change sets fail the MERGE law
    (the[IllegalArgumentException] thrownBy GraftTable.merge(spark, root,
      Seq((1L, "p"), (1L, "q")).toDF("id", "v"), Seq("id")))
      .getMessage should include("duplicate")
  }

  test("deleteWhere: untouched files by reference, all-match files metadata-drop, " +
    "boundary files rewrite") {
    val root = freshRoot("delw")
    // three single-file commits with disjoint id ranges — the file triage
    // a predicate delete must perform is fully deterministic
    GraftTable.write(spark,
      Seq((1L, "keep"), (2L, "keep")).toDF("id", "v").repartition(1),
      root, "overwrite")                                      // no match
    GraftTable.write(spark,
      Seq((10L, "dead"), (11L, "dead")).toDF("id", "v").repartition(1),
      root, "append")                                         // all match
    GraftTable.write(spark,
      Seq((20L, "dead"), (21L, "keep")).toDF("id", "v").repartition(1),
      root, "append")                                         // boundary
    val before = GraftTable.snapshot(root)
    before.files.size shouldBe 3
    val v = GraftTable.deleteWhere(spark, root, "v = 'dead'")
    v shouldBe 4L
    val after = GraftTable.snapshot(root)
    // the no-match file survives by REFERENCE (same path, no rewrite)
    val survivors = before.files.filter(after.files.contains)
    survivors.size shouldBe 1
    spark.read.parquet(s"$root/${survivors.head}")
      .as[(Long, String)].collect().toSet shouldBe
      Set((1L, "keep"), (2L, "keep"))
    // one rewritten boundary file, nothing staged for the all-match drop
    (after.files.toSet -- before.files).size shouldBe 1
    GraftTable.read(spark, root).as[(Long, String)].collect().sorted shouldBe
      Array((1L, "keep"), (2L, "keep"), (21L, "keep"))
    // DELETE removes rows where pred is TRUE only: null predicate keeps
    GraftTable.write(spark,
      Seq((30L, null.asInstanceOf[String])).toDF("id", "v"), root, "append")
    GraftTable.deleteWhere(spark, root, "v = 'keep'")
    GraftTable.read(spark, root).select("id").as[Long].collect() shouldBe
      Array(30L)
    // a no-match delete is a no-op: no new version
    val top = GraftTable.latestVersion(root).get
    GraftTable.deleteWhere(spark, root, "v = 'absent'") shouldBe top
    GraftTable.latestVersion(root).get shouldBe top
  }

  test("deleteWhere prunes whole files from LOG stats: a TTL delete never " +
    "opens the untouched middle of the table") {
    val root = freshRoot("delprune")
    // time-clustered layout: three single-file commits with disjoint ts
    // ranges — the canonical retention shape. TIMESTAMP_NTZ: Spark
    // writes it as INT64 micros (stats land in the log); LTZ timestamps
    // default to INT96 (no stats → conservative keep, still correct)
    Seq(1 -> 5, 10 -> 15, 20 -> 25).zipWithIndex.foreach { case ((a, b), i) =>
      GraftTable.write(spark,
        Seq(a, b).map(_.toLong).toDF("id").selectExpr("id",
          f"CAST(CONCAT('1997-01-', LPAD(CAST(id AS STRING), 2, '0')) " +
            "AS TIMESTAMP_NTZ) AS ts")
          .repartition(1), root, if (i == 0) "overwrite" else "append")
    }
    // the log alone bounds the candidate set for range predicates — on
    // numeric, timestamp, and IN conjuncts; opaque predicates keep all
    def cands(p: String) = GraftTable.candidateFilesForPredicate(root, p)
    cands("ts < TIMESTAMP_NTZ '1997-01-08 00:00:00'")._1.size shouldBe 1
    cands("id >= 12 AND id < 22")._1.size shouldBe 2
    cands("id IN (11, 14)")._1.size shouldBe 1
    cands("id < 0")._1.size shouldBe 0
    cands("CAST(id AS STRING) = '1'")._1.size shouldBe 3 // opaque: keep all
    val all = GraftTable.snapshot(root)
    // the TTL delete: file 1 is a pure metadata drop, files 2 and 3 are
    // NEVER part of the probe scan and survive by reference
    GraftTable.deleteWhere(spark, root,
      "ts < TIMESTAMP_NTZ '1997-01-08 00:00:00'")
    val after = GraftTable.snapshot(root)
    after.files.toSet shouldBe all.files.toSet.drop(0).excl(all.files.head)
    after.files.size shouldBe 2
    GraftTable.read(spark, root).select("id").as[Long].collect().sorted shouldBe
      Array(10L, 15L, 20L, 25L)
  }

  test("updateWhere: only matching files rewrite; SET sees pre-update values; " +
    "types hold") {
    val root = freshRoot("updw")
    GraftTable.write(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x")
        .repartition(1), root, "overwrite")
    GraftTable.write(spark,
      Seq((10L, "a", 30.0), (11L, "c", 40.0)).toDF("id", "v", "x")
        .repartition(1), root, "append")
    val before = GraftTable.snapshot(root)
    // swap-style assignment: both SET expressions read the ORIGINAL row
    GraftTable.updateWhere(spark, root, "id >= 10 AND v = 'a'",
      Map("v" -> "concat(v, '!')", "x" -> "x + id"))
    val after = GraftTable.snapshot(root)
    // the file with no matching row survives by reference
    before.files.filter(after.files.contains).size shouldBe 1
    GraftTable.read(spark, root).as[(Long, String, Double)]
      .collect().sorted shouldBe Array(
      (1L, "a", 10.0), (2L, "b", 20.0), (10L, "a!", 40.0), (11L, "c", 40.0))
    // assignment casts back to the DECLARED type: x stays double
    GraftTable.updateWhere(spark, root, "id = 1", Map("x" -> "CAST(7 AS INT)"))
    GraftTable.read(spark, root).schema("x").dataType.typeName shouldBe "double"
    // assigning a column the table lacks fails loud; resolver is
    // case-insensitive like Spark analysis
    (the[IllegalArgumentException] thrownBy GraftTable.updateWhere(
      spark, root, "id = 1", Map("nope" -> "1")))
      .getMessage should include("not in the table schema")
    GraftTable.updateWhere(spark, root, "id = 2", Map("X" -> "99.0"))
    GraftTable.read(spark, root).where(col("id") === 2)
      .select("x").as[Double].head() shouldBe 99.0
  }

  test("deleteWhere and updateWhere resolve the predicate before any early " +
    "return: an unknown column fails on an empty table too") {
    val root = freshRoot("dml_empty")
    GraftTable.create(root,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
    // a valid predicate on the 0-file table stays a no-op
    GraftTable.deleteWhere(spark, root, "id = 1") shouldBe 1L
    GraftTable.updateWhere(spark, root, "id = 1", Map("v" -> "'x'")) shouldBe 1L
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      GraftTable.deleteWhere(spark, root, "nope = 1")
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      GraftTable.updateWhere(spark, root, "nope = 1", Map("v" -> "'x'"))
    GraftTable.latestVersion(root) shouldBe Some(1L)
  }

  test("restore: pure log metadata — no data file staged, schema returns, " +
    "vacuumed target fails loud") {
    val root = freshRoot("restore")
    def dataFiles(): Set[String] = {
      val s = Files.list(Paths.get(root, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    GraftTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      root, "overwrite")                                       // v1
    GraftTable.write(spark, Seq((3L, "c")).toDF("id", "v"), root, "append") // v2
    GraftTable.write(spark, Seq((9L, 1.5)).toDF("id", "other"),
      root, "overwrite")                                       // v3: bad push
    val physBefore = dataFiles()
    GraftTable.restore(spark, root, 2L) shouldBe 4L
    // METADATA-ONLY: not one data file appeared on disk
    dataFiles() shouldBe physBefore
    GraftTable.snapshot(root).files.toSet shouldBe
      GraftTable.snapshot(root, Some(2L)).files.toSet
    // content AND schema are v2's; the bad v3 stays time-travelable
    GraftTable.read(spark, root).as[(Long, String)].collect().sorted shouldBe
      Array((1L, "a"), (2L, "b"), (3L, "c"))
    GraftTable.read(spark, root, Some(3L)).columns shouldBe Array("id", "other")
    // metadata-only counts/stats survive the restore (re-logged adds)
    GraftTable.rowCount(root) shouldBe 3L
    GraftTable.columnRange(root, "id").map(_.toString) shouldBe
      Some("(1,3)")
    // restoring to the current version is a no-op
    GraftTable.restore(spark, root, 4L) shouldBe 4L
    // a restore whose target files are physically gone (an aggressive
    // external cleaner — vacuum itself keeps files any RETAINED version
    // references) must fail loud, not read half a version
    val v3only = GraftTable.snapshot(root, Some(3L)).files.toSet --
      GraftTable.snapshot(root).files.toSet
    v3only should not be empty
    v3only.foreach(f => Files.delete(Paths.get(root).resolve(f)))
    (the[IllegalArgumentException] thrownBy
      GraftTable.restore(spark, root, 3L))
      .getMessage should include("vacuumed")
  }

  test("CHECK constraints: add validates all live data; every write path " +
    "enforces on its delta; restore is audit-only") {
    val root = freshRoot("cons")
    GraftTable.write(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"),
      root, "overwrite")                                            // v1
    // a constraint existing data violates cannot be added
    (the[IllegalArgumentException] thrownBy GraftTable.addConstraint(
      spark, root, "x_big", "x > 15"))
      .getMessage should include("existing data violates")
    GraftTable.addConstraint(spark, root, "x_pos", "x > 0")         // v2
    GraftTable.constraints(root) shouldBe Map("x_pos" -> "x > 0")
    (the[IllegalArgumentException] thrownBy GraftTable.addConstraint(
      spark, root, "x_pos", "x > 1"))
      .getMessage should include("already exists")
    // a violating append aborts naming the constraint; nothing commits
    val top = GraftTable.latestVersion(root).get
    (the[IllegalArgumentException] thrownBy GraftTable.write(spark,
      Seq((3L, -1.0)).toDF("id", "x"), root, "append"))
      .getMessage should include("x_pos")
    GraftTable.latestVersion(root).get shouldBe top
    // valid append passes; NULL passes (SQL CHECK: fail only on FALSE)
    GraftTable.write(spark, Seq((3L, 5.0)).toDF("id", "x"), root, "append") // v3
    GraftTable.write(spark, spark.sql(
      "SELECT CAST(4 AS BIGINT) AS id, CAST(NULL AS DOUBLE) AS x"),
      root, "append")                                               // v4
    // updateWhere and merge enforce too (they can introduce violations)
    (the[IllegalArgumentException] thrownBy GraftTable.updateWhere(
      spark, root, "id = 1", Map("x" -> "-5.0")))
      .getMessage should include("x_pos")
    (the[IllegalArgumentException] thrownBy GraftTable.merge(spark, root,
      Seq((1L, -9.0)).toDF("id", "x"), Seq("id")))
      .getMessage should include("x_pos")
    // an overwrite whose schema drops the checked column fails loud
    (the[IllegalArgumentException] thrownBy GraftTable.write(spark,
      Seq((9L, "s")).toDF("id", "v"), root, "overwrite"))
      .getMessage should include("does not resolve")
    // history labels the constraint version; state survives a checkpoint
    GraftTable.history(spark, root)
      .where($"operation" === "ALTER CONSTRAINT").count() shouldBe 1L
    GraftTable.checkpoint(root)
    GraftTable.constraints(root) shouldBe Map("x_pos" -> "x > 0")
    // drop (typos fail loud), then the once-rejected row appends fine
    (the[IllegalArgumentException] thrownBy
      GraftTable.dropConstraint(root, "nope"))
      .getMessage should include("no constraint")
    GraftTable.dropConstraint(root, "x_pos")                        // v5
    GraftTable.write(spark, Seq((5L, -2.0)).toDF("id", "x"), root, "append") // v6
    // re-adding is blocked by the live violation; delete it, re-add
    (the[IllegalArgumentException] thrownBy GraftTable.addConstraint(
      spark, root, "x_pos", "x > 0"))
      .getMessage should include("existing data violates")
    GraftTable.deleteWhere(spark, root, "x < 0")                    // v7
    GraftTable.addConstraint(spark, root, "x_pos", "x > 0")         // v8
    // restore is metadata-only and resurrects the violating file; the
    // audit (verifyConstraints) is how operators certify after one
    GraftTable.restore(spark, root, 6L)                             // v9
    GraftTable.constraints(root) shouldBe Map("x_pos" -> "x > 0")
    GraftTable.verifyConstraints(spark, root) shouldBe Map("x_pos" -> 1L)
  }

  test("a CHECK-rejected updateWhere or merge on a deletion-vector + " +
    "change-feed table leaves its version and every file as they were") {
    val root = freshRoot("cons_cleanup")
    GraftTable.write(spark, (1L to 6L).map(i => (i, i * 10.0)).toDF("k", "v")
      .repartition(2), root, "overwrite")
    GraftTable.setProperty(root, "changeDataFeed", Some("true"))
    GraftTable.setProperty(root, "deletionVectors", Some("true"))
    GraftTable.addConstraint(spark, root, "v_small", "v < 1000")
    val top = GraftTable.latestVersion(root)
    val before = filesUnder(root)
    // both ops stage data, dv/ and cdf/ files before the constraint
    // rejects their adds; none of them may outlive the failed op
    (the[IllegalArgumentException] thrownBy GraftTable.updateWhere(spark,
      root, "k = 2", Map("v" -> "5000.0")))
      .getMessage should include("v_small")
    GraftTable.latestVersion(root) shouldBe top
    filesUnder(root) shouldBe before
    (the[IllegalArgumentException] thrownBy GraftTable.merge(spark, root,
      Seq((3L, 9000.0), (7L, 1.0)).toDF("k", "v"), Seq("k")))
      .getMessage should include("v_small")
    GraftTable.latestVersion(root) shouldBe top
    filesUnder(root) shouldBe before
    GraftTable.read(spark, root).count() shouldBe 6L
  }

  test("timestampAsOf: commit-ts time travel resolves the newest commit at or " +
    "before the timestamp") {
    val root = freshRoot("tsasof")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    Thread.sleep(20)
    val betweenV1V2 = System.currentTimeMillis()
    Thread.sleep(20)
    GraftTable.write(spark, Seq((2L, "b")).toDF("id", "v"), root, "append")
    Thread.sleep(20)
    GraftTable.write(spark, Seq((3L, "c")).toDF("id", "v"), root, "append")
    // logged commit timestamps are monotone and resolvable
    (1L to 3L).map(GraftTable.commitTimestamp(root, _)) shouldBe sorted
    GraftTable.versionAtTimestamp(root, betweenV1V2) shouldBe 1L
    GraftTable.versionAtTimestamp(root, System.currentTimeMillis()) shouldBe 3L
    // before the earliest commit: unknowable, fail loud
    (the[IllegalArgumentException] thrownBy GraftTable.versionAtTimestamp(
      root, GraftTable.commitTimestamp(root, 1L) - 1000))
      .getMessage should include("no commit at or before")
    // config surface: epoch-millis form reads the resolved snapshot
    PipelineRunner.run(spark,
      s"""name: ts_travel
         |source: {format: graft_table, path: "$root",
         |         options: {timestampAsOf: "$betweenV1V2"}}
         |""".stripMargin).passed.count() shouldBe 1L
    // one snapshot selector at a time
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: ts_bad
         |source: {format: graft_table, path: "$root",
         |         options: {timestampAsOf: "$betweenV1V2", versionAsOf: "2"}}
         |""".stripMargin)).getMessage should include("mutually exclusive")
  }

  test("streaming source: versions are offsets, OPTIMIZE invisible, checkpoint " +
    "resumes exactly-once, change commits fail loud unless skipped") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("ssrc")
    val base = freshRoot("ssrc_run")
    GraftTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      root, "overwrite")                                          // v1
    GraftTable.write(spark, Seq((3L, "c")).toDF("id", "v"), root, "append") // v2
    GraftTable.optimize(spark, root, 1)                           // v3: invisible
    GraftTable.write(spark, Seq((4L, "d")).toDF("id", "v"), root, "append") // v4
    def drain(skipChanges: Boolean = false): Unit = {
      val q = spark.readStream
        .format("graft.tables.GraftTableStreamSource")
        .option("path", root)
        .option("skipChangeCommits", skipChanges.toString)
        .load()
        .writeStream
        .option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$base/out/b$id"); ()
        }
        .start()
      q.awaitTermination()
    }
    def readOut() = {
      val dirs = scala.util.Using.resource(
        Files.list(Paths.get(s"$base/out")))(
        _.iterator().asScala.map(_.toString).toSeq.sorted)
      spark.read.parquet(dirs: _*).as[(Long, String, Long)].collect().toSeq.sorted
    }
    drain()
    // the OPTIMIZE version delivered nothing; adds carry their version
    readOut() shouldBe Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L),
      (4L, "d", 4L))
    // resume from the query checkpoint: only the new commit arrives
    GraftTable.write(spark, Seq((5L, "e")).toDF("id", "v"), root, "append") // v5
    drain()
    readOut() shouldBe Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L),
      (4L, "d", 4L), (5L, "e", 5L))
    // a change commit (predicate delete rewrote/removed rows) fails loud
    GraftTable.deleteWhere(spark, root, "id = 1")                 // v6
    GraftTable.write(spark, Seq((6L, "f")).toDF("id", "v"), root, "append") // v7
    (the[org.apache.spark.sql.streaming.StreamingQueryException] thrownBy
      drain()).getMessage should include("changed existing rows")
    // skipChangeCommits: v6's rewrites are skipped, v7 delivers — each
    // row still exactly once
    drain(skipChanges = true)
    readOut() shouldBe Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L),
      (4L, "d", 4L), (5L, "e", 5L), (6L, "f", 7L))
    // maxVersionsPerTrigger: a fresh backfill proceeds in bounded
    // batches — one version per micro-batch here, with checkpointed
    // progress after each — instead of one giant first batch
    val base2 = freshRoot("ssrc_run2")
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = spark.readStream
      .format("graft.tables.GraftTableStreamSource")
      .option("path", root).option("skipChangeCommits", "true")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", s"$base2/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val vs = b.select("_commit_version").distinct()
          .collect().map(_.getLong(0))
        vs.length should be <= 1
        ids.synchronized { ids += id }; ()
      }
      .start()
    q2.awaitTermination()
    ids.size should be >= 4 // one batch per delivering version, not one big one
  }

  test("streaming CDF (withImages): DML versions stream their classified " +
    "images, appends stream as inserts, resume is exactly-once, " +
    "uncovered change versions fail loud") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("scdf")
    val base = freshRoot("scdf_run")
    GraftTable.write(spark, Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("k", "v"), root, "overwrite")                           // v1
    GraftTable.setProperty(root, "changeDataFeed", Some("true"))    // v2
    GraftTable.updateWhere(spark, root, "k = 1", Map("v" -> "v + 5")) // v3
    GraftTable.deleteWhere(spark, root, "k = 3")                    // v4
    def drain(skipChanges: Boolean = false): Unit = {
      val q = spark.readStream
        .format("graft.tables.GraftTableStreamSource")
        .option("path", root)
        .option("withImages", "true")
        .option("skipChangeCommits", skipChanges.toString)
        .load()
        .writeStream
        .option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$base/out/b$id"); ()
        }
        .start()
      q.awaitTermination()
    }
    def readOut() = {
      val dirs = scala.util.Using.resource(
        Files.list(Paths.get(s"$base/out")))(
        _.iterator().asScala.map(_.toString).toSeq.sorted)
      spark.read.parquet(dirs: _*).as[(Long, Double, String, Long)]
        .collect().toSeq.sorted
    }
    drain()
    readOut() shouldBe Seq(
      (1L, 10.0, "insert", 1L), (2L, 20.0, "insert", 1L),
      (3L, 30.0, "insert", 1L),
      (1L, 10.0, "update_preimage", 3L), (1L, 15.0, "update_postimage", 3L),
      (3L, 30.0, "delete", 4L)).sorted
    // resume: a new merge delivers ONLY its own images
    GraftTable.merge(spark, root,
      Seq((2L, 99.0), (7L, 70.0)).toDF("k", "v"), Seq("k"))         // v5
    drain()
    readOut().filter(_._4 == 5L).sorted shouldBe Seq(
      (2L, 20.0, "update_preimage", 5L), (2L, 99.0, "update_postimage", 5L),
      (7L, 70.0, "insert", 5L)).sorted
    // a change version with NO images (property toggled off) fails loud;
    // skipChangeCommits skips it and the next append still delivers
    GraftTable.setProperty(root, "changeDataFeed", Some("false"))   // v6
    GraftTable.deleteWhere(spark, root, "k = 7")                    // v7: no cdc
    GraftTable.write(spark, Seq((8L, 80.0)).toDF("k", "v"), root, "append") // v8
    (the[org.apache.spark.sql.streaming.StreamingQueryException] thrownBy
      drain()).getMessage should include("recorded no change images")
    drain(skipChanges = true)
    readOut().filter(r => r._4 >= 6L) shouldBe Seq((8L, 80.0, "insert", 8L))
  }

  test("replay fails loud on an unknown log action kind (forward-compat guard)") {
    val root = freshRoot("unk")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    // a "newer writer" commits an action kind this reader cannot replay —
    // skipping it could drop rows or resurrect deleted ones, so reads of
    // that version (and beyond) must refuse, naming the kind
    Files.writeString(
      Paths.get(root, "_graft_log", f"${2L}%020d.json"),
      """{"rewriteManifest":{"v":2}}""")
    (the[IllegalStateException] thrownBy GraftTable.read(spark, root))
      .getMessage should include("unknown action kind 'rewriteManifest'")
    // older versions stay readable — the guard bites only when the
    // unknown action is inside the replayed range
    GraftTable.read(spark, root, Some(1L)).count() shouldBe 1L
  }

  test("optimistic concurrency: a raced commit slot throws; appends retry past it") {
    val root = freshRoot("occ")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    // a writer that resolved version 1 loses the race when another
    // writer's version 2 lands first: its claim of slot 2 must throw,
    // never overwrite the rival's commit
    val stolen = Paths.get(root, "_graft_log", f"${2L}%020d.json")
    Files.writeString(stolen, "")
    a[GraftTable.ConcurrentWriteException] should be thrownBy
      GraftTable.commit(root, 1L, Nil)
    // and the rival's log file is byte-identical (not clobbered)
    Files.readString(stolen) shouldBe ""
    // a blind append re-resolves past the race and lands at version 3
    GraftTable.write(spark, Seq((2L, "c")).toDF("id", "v"), root, "append") shouldBe 3L
  }

  test("stress: 8 genuinely concurrent appenders all land exactly once " +
    "through OCC retries") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = freshRoot("stress")
    GraftTable.write(spark, Seq((0L, -1L)).toDF("w", "i"), root, "overwrite")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writers = (1 to 8).map { w =>
      Future {
        (0 until 5).foreach { i =>
          GraftTable.write(spark, Seq((w.toLong, i.toLong)).toDF("w", "i"),
            root, "append", maxRetries = 200)
        }
      }
    }
    try Await.result(Future.sequence(writers), 180.seconds)
    finally pool.shutdown()
    // every append won exactly one contiguous commit slot; no write was
    // lost, duplicated, or torn under real thread contention
    GraftTable.latestVersion(root).get shouldBe 41L
    val rows = GraftTable.read(spark, root).as[(Long, Long)].collect()
    rows.length shouldBe 41
    rows.toSet.size shouldBe 41
  }

  test("crash mid-write leaves readers on the old version; vacuum reclaims debris") {
    val root = freshRoot("crash")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    // simulate a writer that died after staging data but before commit:
    // orphan parquet in data/, a dead staging dir, a torn log temp file
    Seq((99L, "ghost")).toDF("id", "v").write
      .parquet(s"$root/_staging_deadbeef/out")
    Files.copy(
      Paths.get(root, "data").toFile.listFiles().head.toPath,
      Paths.get(root, "data", "deadbeef_part0.parquet"))
    Files.writeString(Paths.get(root, "_graft_log", ".commit_dead.tmp"), "{")
    // readers see ONLY version 1's content — orphans are invisible
    GraftTable.latestVersion(root) shouldBe Some(1L)
    GraftTable.read(spark, root).as[(Long, String)].collect() shouldBe
      Array((1L, "a"))
    // vacuum removes exactly the unreferenced debris
    val removed = GraftTable.vacuum(root, 0L)
    removed should contain("data/deadbeef_part0.parquet")
    removed.exists(_.startsWith("_staging_")) shouldBe true
    removed.exists(_.endsWith(".tmp")) shouldBe true
    // and the live table is untouched
    GraftTable.read(spark, root).count() shouldBe 1L
    // historical files are NOT vacuumed (time travel keeps working)
    GraftTable.write(spark, Seq((2L, "b")).toDF("id", "v"), root, "overwrite")
    GraftTable.vacuum(root, 0L)
    GraftTable.read(spark, root, Some(1L)).as[(Long, String)]
      .collect() shouldBe Array((1L, "a"))
  }

  test("config surface: graft_table sink modes + source time travel + validation") {
    val root = freshRoot("cfg")
    val src = s"/tmp/graft_io/acid_cfg_src"
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "amt")
      .write.mode("overwrite").parquet(src)
    PipelineRunner.run(spark,
      s"""name: acid_base
         |source: {format: parquet, path: "$src"}
         |sink: {format: graft_table, path: "$root", mode: overwrite}
         |""".stripMargin)
    Seq((2L, 99.0), (4L, 40.0)).toDF("id", "amt")
      .write.mode("overwrite").parquet(s"${src}_upd")
    PipelineRunner.run(spark,
      s"""name: acid_merge
         |source: {format: parquet, path: "${src}_upd"}
         |sink: {format: graft_table, path: "$root", mode: merge,
         |       options: {on: id}}
         |""".stripMargin)
    val latest = PipelineRunner.run(spark,
      s"""name: acid_read
         |source: {format: graft_table, path: "$root"}
         |transforms: [{op: sort, cols: [id]}]
         |""".stripMargin).passed
    latest.as[(Long, Double)].collect() shouldBe
      Array((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0))
    val v1 = PipelineRunner.run(spark,
      s"""name: acid_tt
         |source: {format: graft_table, path: "$root",
         |         options: {versionAsOf: "1"}}
         |transforms: [{op: sort, cols: [id]}]
         |""".stripMargin).passed
    v1.as[(Long, Double)].collect() shouldBe
      Array((1L, 10.0), (2L, 20.0), (3L, 30.0))
    // guard rails at parse time
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: acid_bad1
         |source: {format: parquet, path: "$src"}
         |sink: {format: graft_table, path: "$root", mode: merge}
         |""".stripMargin)).getMessage should include("options.on")
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: acid_bad2
         |source: {format: graft_table, path: "$root", schema: "id BIGINT"}
         |""".stripMargin)).getMessage should include("commit log")
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: acid_bad3
         |source: {format: parquet, path: "$src"}
         |sink: {format: graft_table, path: "$root", mode: overwrite,
         |       clusterBy: [id]}
         |""".stripMargin)).getMessage should include("owns its physical layout")
  }

  test("optimize: bin-packs to the target file count, content-identical, history intact") {
    val root = freshRoot("opt")
    val rows = (1L to 400L).map(i => (i, s"v$i"))
    // fragment: 8 appends, >= 8 data files
    rows.grouped(50).zipWithIndex.foreach { case (g, i) =>
      GraftTable.write(spark, g.toDF("id", "v").repartition(2), root,
        if (i == 0) "overwrite" else "append")
    }
    val preSnap = GraftTable.snapshot(root)
    preSnap.files.size should be >= 8
    val v = GraftTable.optimize(spark, root, targetFiles = 2)
    v shouldBe preSnap.version + 1
    val postSnap = GraftTable.snapshot(root)
    postSnap.files.size should be <= 2
    // layout-only: exactly the same rows
    GraftTable.read(spark, root).as[(Long, String)].collect().sorted shouldBe
      rows.toArray
    // time travel to the fragmented version still works, old layout intact
    GraftTable.snapshot(root, Some(preSnap.version)).files shouldBe preSnap.files
    GraftTable.read(spark, root, Some(preSnap.version)).count() shouldBe 400L
    // vacuum keeps both layouts (every version still references its files)
    GraftTable.vacuum(root, 0L)
    GraftTable.read(spark, root, Some(preSnap.version)).count() shouldBe 400L
  }

  test("optimize zorderBy: written files bound BOTH dimensions") {
    val root = freshRoot("optz")
    val grid = (for (x <- 0 until 128; y <- 0 until 128) yield (x, y))
    GraftTable.write(spark, grid.toDF("x", "y").repartition(8), root, "overwrite")
    GraftTable.optimize(spark, root, targetFiles = 16,
      zorderBy = Seq("x", "y"), zorderBits = 7)
    val snap = GraftTable.snapshot(root)
    snap.files.size should be <= 16
    val spans = GraftTable.read(spark, root)
      .groupBy(input_file_name()).agg(min($"y"), max($"y"), min($"x"), max($"x"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    val n = spans.length
    // second dimension: only the bottom band of z-squares intersects y<16
    spans.count { case (ylo, yhi, _, _) => ylo <= 15 && yhi >= 0 } should be <= n / 2
    spans.count { case (_, _, xlo, xhi) => xlo <= 15 && xhi >= 0 } should be <= n / 2
  }

  test("history: one metadata row per version with the inferred operation") {
    val root = freshRoot("hist")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")  // v1
    GraftTable.write(spark, Seq((2L, "b")).toDF("id", "v"), root, "append")     // v2
    GraftTable.appendBatch(spark, Seq((3L, "c")).toDF("id", "v"), root, "app", 0L) // v3
    GraftTable.merge(spark, root, Seq((1L, "A")).toDF("id", "v"), Seq("id"))    // v4
    GraftTable.optimize(spark, root, targetFiles = 1)                           // v5
    val h = GraftTable.history(spark, root).orderBy($"version")
      .select($"version", $"operation", $"rows_added", $"txn").collect()
    h.map(r => (r.getLong(0), r.getString(1))) shouldBe Array(
      (1L, "CREATE"), (2L, "APPEND"), (3L, "STREAMING APPEND"),
      (4L, "MERGE"), (5L, "OPTIMIZE"))
    h(2).getString(3) shouldBe "app#0"
    // merge touched only id=1's file: its rewrite re-adds exactly 1 row
    h.map(_.getLong(2)).take(4) shouldBe Array(1L, 1L, 1L, 1L)
    // v1 is CREATE whatever wrote it — an appendBatch-created table is not
    // misreported as OVERWRITE, and its txn evidence still surfaces
    val root2 = freshRoot("hist2")
    GraftTable.appendBatch(spark, Seq((1L, "a")).toDF("id", "v"), root2, "s", 0L)
    val h2 = GraftTable.history(spark, root2).select($"operation", $"txn").head()
    h2.getString(0) shouldBe "CREATE"
    h2.getString(1) shouldBe "s#0"
    // pure-metadata commits get their own labels, not "APPEND"
    GraftTable.setProperty(root, "changeDataFeed", Some("true"))       // v6
    GraftTable.renameColumn(root, "v", "val")                          // v7
    GraftTable.history(spark, root).orderBy($"version")
      .select($"operation").as[String].collect().drop(5) shouldBe
      Array("SET PROPERTY", "ALTER SCHEMA")
  }

  test("writeEvolve: new columns extend the schema atomically, old files read as nulls") {
    val root = freshRoot("evolve")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    // plain append still rejects drift (fail IS the default)
    intercept[IllegalArgumentException](GraftTable.write(spark,
      Seq((2L, "b", 0.5)).toDF("id", "v", "score"), root, "append"))
      .getMessage should include("schema mismatch")
    // evolving append: score joins the schema, old rows read score = null
    GraftTable.writeEvolve(spark,
      Seq((2L, "b", 0.5)).toDF("id", "v", "score"), root)
    val rows = GraftTable.read(spark, root).orderBy($"id")
      .as[(Long, String, Option[Double])].collect()
    rows shouldBe Array((1L, "a", None), (2L, "b", Some(0.5)))
    // a narrower evolving append back-fills ITS missing column as null
    GraftTable.writeEvolve(spark, Seq((3L, "c")).toDF("id", "v"), root)
    GraftTable.read(spark, root).where($"id" === 3).select($"score")
      .head().isNullAt(0) shouldBe true
    // type conflicts always fail
    intercept[IllegalArgumentException](GraftTable.writeEvolve(spark,
      Seq((4L, "d", "high")).toDF("id", "v", "score"), root))
      .getMessage should include("type conflict")
    // config surface: evolve rides the graft_table sink on append only
    Seq((5L, "e", 0.9, true)).toDF("id", "v", "score", "ok")
      .write.mode("overwrite").parquet(s"$root/../evolve_src")
    PipelineRunner.run(spark,
      s"""name: tbl_evolve
         |source: {format: parquet, path: "$root/../evolve_src"}
         |transforms: []
         |sink: {format: graft_table, path: "$root", mode: append, evolve: add_nulls}
         |""".stripMargin)
    GraftTable.read(spark, root).columns shouldBe
      Array("id", "v", "score", "ok")
    GraftTable.read(spark, root).count() shouldBe 4L
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: bad
         |source: {format: parquet, path: "/x"}
         |transforms: []
         |sink: {format: graft_table, path: "/y", mode: overwrite, evolve: add_nulls}
         |""".stripMargin)).getMessage should include("append")
  }

  test("writeEvolve: column resolution follows the session resolver (case-insensitive)") {
    val root = freshRoot("evolve_ci")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    // `ID` IS `id` under default case-insensitive analysis: no second
    // column joins the schema, and the append lands under the table's
    // spelling — not a schema with both `id` and `ID` that later reads
    // would reject as ambiguous
    GraftTable.writeEvolve(spark, Seq((2L, "b")).toDF("ID", "V"), root)
    GraftTable.read(spark, root).columns shouldBe Array("id", "v")
    GraftTable.read(spark, root).orderBy($"id").as[(Long, String)]
      .collect() shouldBe Array((1L, "a"), (2L, "b"))
    // and the type-conflict check cannot be dodged by re-casing the name
    intercept[IllegalArgumentException](GraftTable.writeEvolve(spark,
      Seq((3, "c")).toDF("ID", "v"), root)) // Int vs the table's Long
      .getMessage should include("type conflict")
  }

  test("appendBatch evolve: per-batch widening with txn idempotence intact") {
    val root = freshRoot("txn_evolve")
    GraftTable.appendBatch(spark, Seq((1L, "a")).toDF("id", "v"),
      root, "s1", 0L) shouldBe Some(1L)
    // strict append (evolve off) still rejects drift mid-stream
    intercept[IllegalArgumentException](GraftTable.appendBatch(spark,
      Seq((9L, "x", 0.1)).toDF("id", "v", "score"), root, "strict", 0L))
      .getMessage should include("schema mismatch")
    // a re-run whose source grew a column widens the table in one
    // txn-stamped commit: meta + data change atomically
    GraftTable.appendBatch(spark, Seq((2L, "b", 0.5)).toDF("id", "v", "score"),
      root, "s2", 0L, evolve = true) shouldBe Some(2L)
    GraftTable.read(spark, root).orderBy($"id")
      .as[(Long, String, Option[Double])].collect() shouldBe
      Array((1L, "a", None), (2L, "b", Some(0.5)))
    // the replay protocol survives evolution: same (appId, batchId) no-ops
    GraftTable.appendBatch(spark, Seq((2L, "b", 0.5)).toDF("id", "v", "score"),
      root, "s2", 0L, evolve = true) shouldBe None
    GraftTable.latestVersion(root) shouldBe Some(2L)
    // a narrower evolving batch back-fills its missing column as null
    GraftTable.appendBatch(spark, Seq((3L, "c")).toDF("id", "v"),
      root, "s2", 1L, evolve = true) shouldBe Some(3L)
    GraftTable.read(spark, root).where($"id" === 3).select($"score")
      .head().isNullAt(0) shouldBe true
  }

  test("changes: rows-added feed skips OPTIMIZE rewrites, stamps versions, bounds ranges") {
    val root = freshRoot("feed")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite") // v1
    GraftTable.write(spark, Seq((2L, "b")).toDF("id", "v"), root, "append")    // v2
    GraftTable.optimize(spark, root, targetFiles = 1)                          // v3
    GraftTable.write(spark, Seq((3L, "c")).toDF("id", "v"), root, "append")    // v4
    // full feed from the beginning: every row exactly once, despite the
    // optimize having re-added rows 1 and 2 in its rewrite
    GraftTable.changes(spark, root, 0L).select($"id", $"_commit_version")
      .as[(Long, Long)].collect().sorted shouldBe
      Array((1L, 1L), (2L, 2L), (3L, 4L))
    // incremental catch-up from version 2: only v4's append arrives
    GraftTable.changes(spark, root, 2L).select($"id").as[Long]
      .collect() shouldBe Array(3L)
    // bounded range (from, to]
    GraftTable.changes(spark, root, 1L, Some(2L)).select($"id").as[Long]
      .collect() shouldBe Array(2L)
    // caught-up feed is empty but typed
    val empty = GraftTable.changes(spark, root, 4L)
    empty.count() shouldBe 0L
    empty.columns should contain("_commit_version")
    intercept[IllegalArgumentException](GraftTable.changes(spark, root, 5L))
    // config-surface guards
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: bad
         |source: {format: graft_table, path: "$root",
         |         options: {versionAsOf: "2", changesFrom: "1"}}
         |transforms: []
         |""".stripMargin)).getMessage should include("mutually exclusive")
  }

  test("appendBatch: a replayed (appId, batchId) no-ops; a new appId appends") {
    val root = freshRoot("txn")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    GraftTable.appendBatch(spark, df, root, "app1", 0L) shouldBe Some(1L)
    // replay of batch 0 (crash between table commit and checkpoint advance)
    GraftTable.appendBatch(spark, df, root, "app1", 0L) shouldBe None
    GraftTable.latestVersion(root) shouldBe Some(1L)
    GraftTable.read(spark, root).count() shouldBe 2L
    // next batch of the same stream appends
    GraftTable.appendBatch(spark, Seq((3L, "c")).toDF("id", "v"),
      root, "app1", 1L) shouldBe Some(2L)
    // a stale batchId from the same app also no-ops (monotone contract)
    GraftTable.appendBatch(spark, df, root, "app1", 0L) shouldBe None
    // a DIFFERENT writer's batch 0 is a different transaction
    GraftTable.appendBatch(spark, Seq((4L, "d")).toDF("id", "v"),
      root, "app2", 0L) shouldBe Some(3L)
    GraftTable.read(spark, root).count() shouldBe 4L
    GraftTable.lastTxn(root, "app1") shouldBe Some(1L)
    GraftTable.lastTxn(root, "app2") shouldBe Some(0L)
  }

  test("streaming graft_table sink: one ACID commit per micro-batch, exactly-once") {
    import java.nio.file.attribute.FileTime
    val root = freshRoot("stream_sink")
    val base = "/tmp/graft_io/acid_stream_src"
    graft.streaming.StreamOps.rmrf(base)
    Files.createDirectories(Paths.get(base))
    Seq(("c1", Seq((1L, "x"), (2L, "y"))), ("c2", Seq((3L, "z")))).zipWithIndex
      .foreach { case ((n, rows), i) =>
        val tmp = s"$base/tmp_$n"
        rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = scala.util.Using.resource(Files.list(Paths.get(tmp)))(
          _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
        val dst = Paths.get(base, s"chunk_$n.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 60000L))
      }
    PipelineRunner.run(spark,
      s"""name: acid_stream
         |mode: streaming
         |source: {format: parquet, path: "$base/chunk_*", schema: auto, options: {maxFilesPerTrigger: "1"}}
         |transforms:
         |  - {op: derive, name: v2, expr: "upper(v)"}
         |sink: {format: graft_table, path: "$root", mode: append,
         |  options: {checkpoint_interval: "2"}}
         |""".stripMargin)
    // two micro-batches -> two versions, each carrying one txn action
    GraftTable.latestVersion(root) shouldBe Some(2L)
    // batch 2 crossed the checkpoint cadence: the log is sealed at v2
    Files.exists(Paths.get(root, "_graft_log",
      f"${2L}%020d.checkpoint.json")) shouldBe true
    GraftTable.read(spark, root).orderBy($"id")
      .select($"id", $"v2").as[(Long, String)].collect() shouldBe
      Array((1L, "X"), (2L, "Y"), (3L, "Z"))
    val logLines = (1L to 2L).flatMap(v => Files.readAllLines(
      Paths.get(root, "_graft_log", f"$v%020d.json")).asScala)
    logLines.count(_.contains("\"txn\"")) shouldBe 2
    // version 1 is the first batch alone — per-batch commits, not one blob
    GraftTable.read(spark, root, asOf = Some(1L)).count() shouldBe 2L
    // streaming merge mode is rejected at run start
    intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: acid_stream_bad
         |mode: streaming
         |source: {format: parquet, path: "$base/chunk_*", schema: auto}
         |transforms: []
         |sink: {format: graft_table, path: "$root", mode: merge, options: {on: "id"}}
         |""".stripMargin)).getMessage should include("per-micro-batch")
    // a `limit` tail + table sink is loud: the table commits per batch
    // BEFORE the tail, so it would silently diverge from batch mode
    intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: acid_stream_lim
         |mode: streaming
         |source: {format: parquet, path: "$base/chunk_*", schema: auto}
         |transforms:
         |  - {op: limit, max_rows: 1}
         |sink: {format: graft_table, path: "$root", mode: append}
         |""".stripMargin)).getMessage should include("limit")
  }

  test("checkpoint + truncateHistory: sealed state replays, dropped versions reclaim") {
    val root = freshRoot("ckpt")
    GraftTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      root, "overwrite")                                                // v1
    GraftTable.write(spark, Seq((3L, "c")).toDF("id", "v"), root, "append") // v2
    GraftTable.merge(spark, root, Seq((1L, "A")).toDF("id", "v"), Seq("id")) // v3
    GraftTable.appendBatch(spark, Seq((4L, "d")).toDF("id", "v"),
      root, "stream", 7L)                                               // v4
    val before = GraftTable.read(spark, root).orderBy($"id")
      .as[(Long, String)].collect()

    // checkpoint at latest: same snapshot, resolved from the seal
    GraftTable.checkpoint(root) shouldBe 4L
    Files.exists(Paths.get(root, "_graft_log",
      f"${4L}%020d.checkpoint.json")) shouldBe true
    GraftTable.read(spark, root).orderBy($"id")
      .as[(Long, String)].collect() shouldBe before

    // retention: drop v1–v3's logs; latest still resolves, dropped
    // versions fail loud, the txn map survives through the seal
    GraftTable.truncateHistory(root, 3L)
    (1L to 3L).foreach(v => Files.exists(
      Paths.get(root, "_graft_log", f"$v%020d.json")) shouldBe false)
    GraftTable.read(spark, root).orderBy($"id")
      .as[(Long, String)].collect() shouldBe before
    intercept[IllegalArgumentException](
      GraftTable.read(spark, root, asOf = Some(2L)))
      .getMessage should include("truncated")
    GraftTable.lastTxn(root, "stream") shouldBe Some(7L)
    // a replayed micro-batch still no-ops off the checkpointed txn map
    GraftTable.appendBatch(spark, Seq((4L, "d")).toDF("id", "v"),
      root, "stream", 7L) shouldBe None

    // vacuum reclaims the files ONLY dropped versions referenced (v3's
    // merge rewrote id=1's file: the pre-merge original is now orphaned)
    val reclaimed = GraftTable.vacuum(root, 0L)
    reclaimed should not be empty
    GraftTable.read(spark, root).orderBy($"id")
      .as[(Long, String)].collect() shouldBe before

    // the table keeps working past the seal: appends, feed, snapshots
    GraftTable.write(spark, Seq((5L, "e")).toDF("id", "v"), root, "append") // v5
    GraftTable.read(spark, root).count() shouldBe 5L
    GraftTable.changes(spark, root, 4L).select($"id").as[Long]
      .collect() shouldBe Array(5L)
    intercept[IllegalArgumentException](
      GraftTable.changes(spark, root, 2L))
      .getMessage should include("truncated")
    // a truncated range can't prove append-only → MV-style consumers
    // fall back to a full recompute instead of silently double-counting
    GraftTable.appendOnlySince(root, 1L, 5L) shouldBe false
    GraftTable.appendOnlySince(root, 3L, 5L) shouldBe true

    // age-based retention: backdate v4's log, cutoff now → truncates at 4
    // (latest v5 always survives), and the table still reads correctly
    import java.nio.file.attribute.FileTime
    Files.setLastModifiedTime(
      Paths.get(root, "_graft_log", f"${4L}%020d.json"),
      FileTime.fromMillis(1700000000000L))
    GraftTable.truncateOlderThan(root, System.currentTimeMillis())
      .shouldBe(Some(4L))
    GraftTable.read(spark, root).count() shouldBe 5L
    Files.exists(Paths.get(root, "_graft_log", f"${5L}%020d.json")) shouldBe true
  }

  test("file skipping: logged min/max prune files with no footer opened") {
    import org.apache.spark.sql.functions.{concat, lit => flit, lpad}
    val root = freshRoot("skip")
    val df = spark.range(0, 1000).select($"id",
      concat(flit("u"), lpad($"id".cast("string"), 4, "0")).as("s"))
    // 4 range-partitioned files -> disjoint id spans per file
    GraftTable.write(spark, df.repartitionByRange(4, $"id"), root, "overwrite")
    val (kept, all) = GraftTable.filesInRange(root, "id", 100, 120)
    all should have size 4
    kept should have size 1
    // readRange scans ONLY the surviving file and still answers exactly
    // (the BETWEEN pushes into the GraftFileIndex; lastPrune pins it)
    val out = GraftTable.readRange(spark, root, "id", 100L, 120L)
    out.count() shouldBe 21L
    GraftTable.lastReadIndex.get.lastPrune.get shouldBe ((1, 4))
    // string stats skip too (parquet binary order == UTF8String order)
    GraftTable.filesInRange(root, "s", "u0100", "u0120")._1 should have size 1
    // stats ride the checkpoint seal: pruning survives truncation
    GraftTable.write(spark,
      spark.range(2000, 2010).select($"id",
        concat(flit("u"), lpad($"id".cast("string"), 4, "0")).as("s"))
        .coalesce(1),
      root, "append")
    GraftTable.truncateHistory(root, 1L)
    val (kept2, all2) = GraftTable.filesInRange(root, "id", 100, 120)
    all2 should have size 5
    kept2 should have size 1
    GraftTable.readRange(spark, root, "id", 100L, 120L).count() shouldBe 21L
    // an unknown-stats column keeps every file (never a wrong skip)
    GraftTable.filesInRange(root, "nope", 0, 1)._1 should have size 5
    // timestamp stats: INT64-micros min/max in the log, string bounds
    val troot = freshRoot("skip_ts")
    val tdf = spark.range(0, 96).select($"id",
      org.apache.spark.sql.functions.expr(
        "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP_NTZ '2024-01-01 00:00:00')")
        .as("event_ts"))
    GraftTable.write(spark, tdf.repartitionByRange(4, $"event_ts"), troot, "overwrite")
    val (tk, ta) = GraftTable.filesInRange(troot, "event_ts",
      "2024-01-02 00:00:00", "2024-01-02 06:00:00")
    ta should have size 4
    tk should have size 1
    GraftTable.readRange(spark, troot, "event_ts",
      "2024-01-02 00:00:00", "2024-01-02 06:00:00").count() shouldBe 7L
    // config surface: the pruned read answers like the plain read
    PipelineRunner.run(spark,
      s"""name: skip_cfg
         |source: {format: graft_table, path: "$root",
         |  options: {rangeCol: id, rangeLo: "100", rangeHi: "120"}}
         |transforms: []
         |""".stripMargin).passed.count() shouldBe 21L
    // parse guards: partial range spec, range on a change feed
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: bad
         |source: {format: graft_table, path: "$root", options: {rangeCol: id}}
         |transforms: []
         |""".stripMargin)).getMessage should include("rangeLo")
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: bad2
         |source: {format: graft_table, path: "$root",
         |  options: {rangeCol: id, rangeLo: "1", rangeHi: "2", changesFrom: "1"}}
         |transforms: []
         |""".stripMargin)).getMessage should include("snapshot reads")
  }

  test("materialized view: incremental refresh == full recompute, exactly-once cursor") {
    import graft.tables.MaterializedView
    import graft.tables.MaterializedView.AggSpec
    val base = freshRoot("mv_base"); val mv = freshRoot("mv_agg")
    val keys = Seq("k")
    val aggs = Seq(AggSpec("count", "v", "n"), AggSpec("sum", "v", "sum_v"),
      AggSpec("min", "v", "min_v"), AggSpec("max", "v", "max_v"))
    def recompute() = GraftTable.read(spark, base).groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"),
        min($"v").as("min_v"), max($"v").as("max_v"))
      .orderBy($"k").collect().map(_.toSeq).toSeq
    def mvRows() = GraftTable.read(spark, mv)
      .orderBy($"k").collect().map(_.toSeq).toSeq

    GraftTable.write(spark,
      Seq(("a", 1L), ("a", 3L), ("b", 5L)).toDF("k", "v"), base, "overwrite")
    MaterializedView.refresh(spark, base, mv, keys, aggs) shouldBe Some(1L)
    mvRows() shouldBe recompute() // first materialization (full)

    // append-only delta -> INCREMENTAL path (the MV version is a MERGE)
    GraftTable.write(spark,
      Seq(("a", 2L), ("c", 7L)).toDF("k", "v"), base, "append")
    MaterializedView.refresh(spark, base, mv, keys, aggs) shouldBe Some(2L)
    mvRows() shouldBe recompute()
    GraftTable.history(spark, mv).where($"version" === 2)
      .head.getAs[String]("operation") shouldBe "MERGE"

    // already current -> no-op (also the crash-replay behavior)
    MaterializedView.refresh(spark, base, mv, keys, aggs) shouldBe None

    // OPTIMIZE is layout-only: the refresh consumes the version but the
    // MV content is unchanged
    GraftTable.optimize(spark, base, targetFiles = 1)
    MaterializedView.refresh(spark, base, mv, keys, aggs)
    mvRows() shouldBe recompute()

    // a base MERGE rewrote rows -> automatic FULL recompute (OVERWRITE)
    GraftTable.merge(spark, base, Seq(("a", 100L)).toDF("k", "v"), Seq("k"))
    MaterializedView.refresh(spark, base, mv, keys, aggs).isDefined shouldBe true
    mvRows() shouldBe recompute()
    val lastOp = GraftTable.history(spark, mv)
      .orderBy($"version".desc).head.getAs[String]("operation")
    lastOp shouldBe "OVERWRITE"

    // and back to incremental afterwards
    GraftTable.write(spark, Seq(("b", 0L)).toDF("k", "v"), base, "append")
    MaterializedView.refresh(spark, base, mv, keys, aggs)
    mvRows() shouldBe recompute()
  }

  test("metadata-only aggregates: rowCount and columnRange answer from the log") {
    val root = freshRoot("meta_agg")
    GraftTable.write(spark, spark.range(0, 100).select($"id",
      ($"id" % 10).as("m")).repartitionByRange(3, $"id"), root, "overwrite")
    GraftTable.write(spark, spark.range(100, 150).select($"id",
      ($"id" % 10).as("m")).coalesce(1), root, "append")
    GraftTable.rowCount(root) shouldBe 150L
    GraftTable.rowCount(root, asOf = Some(1L)) shouldBe 100L
    GraftTable.columnRange(root, "id").map { case (lo, hi) =>
      (lo.toString.toDouble.toLong, hi.toString.toDouble.toLong)
    } shouldBe Some((0L, 149L))
    // merge keeps the metadata exact (rewritten files re-log counts)
    GraftTable.merge(spark, root,
      Seq((5L, 99L)).toDF("id", "m"), Seq("id"))
    GraftTable.rowCount(root) shouldBe 150L
    // a MISSING-stats column answers None, not a partial range
    GraftTable.columnRange(root, "nope") shouldBe None
    // both survive the checkpoint seal
    GraftTable.checkpoint(root)
    GraftTable.truncateHistory(root, 2L)
    GraftTable.rowCount(root) shouldBe 150L
    GraftTable.columnRange(root, "id").isDefined shouldBe true
  }

  test("file skipping: readRange == full filter on randomized layouts and bounds") {
    val root = freshRoot("skip_prop")
    // a mixed layout: one range-clustered commit (disjoint spans), one
    // hash-partitioned commit (overlapping spans), one tiny append
    val d1 = spark.range(0, 400).select($"id",
      (($"id" * 2654435761L) % 1000).as("x"))
    GraftTable.write(spark, d1.repartitionByRange(4, $"x"), root, "overwrite")
    GraftTable.write(spark, spark.range(400, 700).select($"id",
      (($"id" * 97L) % 1000).as("x")).repartition(3), root, "append")
    GraftTable.write(spark, spark.range(700, 710).select($"id",
      lit(500L).as("x")).coalesce(1), root, "append")
    val full = GraftTable.read(spark, root)
    forSamples(for {
      a <- org.scalacheck.Gen.chooseNum(-100L, 1100L)
      b <- org.scalacheck.Gen.chooseNum(-100L, 1100L)
    } yield (math.min(a, b), math.max(a, b)), n = 10) { case (lo, hi) =>
      val pruned = GraftTable.readRange(spark, root, "x", lo, hi)
        .orderBy($"id").as[(Long, Long)].collect()
      val exact = full.where($"x" >= lo && $"x" <= hi)
        .orderBy($"id").as[(Long, Long)].collect()
      pruned shouldBe exact // whatever was skipped could not have matched
      val (kept, all) = GraftTable.filesInRange(root, "x", lo, hi)
      kept.size should be <= all.size
    }
  }

  test("soak: 30 txn commits + checkpoint cadence + truncation keep every contract") {
    val root = freshRoot("soak")
    // a long-running ingest: 30 micro-batch commits, sealing every 10
    (0 until 30).foreach { b =>
      GraftTable.appendBatch(spark,
        Seq((b.toLong, s"row$b")).toDF("id", "v").coalesce(1),
        root, "stream", b.toLong)
      if ((b + 1) % 10 == 0) GraftTable.checkpoint(root)
    }
    GraftTable.latestVersion(root) shouldBe Some(30L)
    GraftTable.rowCount(root) shouldBe 30L
    GraftTable.lastTxn(root, "stream") shouldBe Some(29L)
    // retention to version 20: reads, counts, txn map, and the feed past
    // the seal all intact; time travel to 20 (the seal) works, 19 fails
    GraftTable.truncateHistory(root, 20L)
    GraftTable.read(spark, root).count() shouldBe 30L
    GraftTable.rowCount(root, asOf = Some(20L)) shouldBe 20L
    GraftTable.lastTxn(root, "stream") shouldBe Some(29L)
    GraftTable.changes(spark, root, 20L).count() shouldBe 10L
    intercept[IllegalArgumentException](GraftTable.snapshot(root, Some(19L)))
    // a replayed early batch STILL no-ops off the sealed txn map
    GraftTable.appendBatch(spark, Seq((0L, "row0")).toDF("id", "v"),
      root, "stream", 0L) shouldBe None
    // compaction after the soak: 30 tiny files -> 1, content intact
    GraftTable.autoCompact(spark, root, smallBytes = 1024 * 1024,
      minSmall = 8).isDefined shouldBe true
    GraftTable.snapshot(root).files should have size 1
    GraftTable.read(spark, root).count() shouldBe 30L
    val d = GraftTable.describe(spark, root).head()
    d.getAs[Long]("n_files") shouldBe 1L
    d.getAs[Long]("n_rows") shouldBe 30L
    d.getAs[Long]("checkpoint_version") should be >= 20L
    d.getAs[Int]("min_reader") shouldBe 1
    d.getAs[Long]("n_dv_files") shouldBe 0L
    d.getAs[Boolean]("column_mapped") shouldBe false
    GraftTable.vacuum(root, 0L)
    GraftTable.read(spark, root).count() shouldBe 30L
  }

  test("autoCompact: fires only past the small-file threshold, from log sizes alone") {
    val root = freshRoot("autoc")
    // 6 tiny single-row commits -> 6 small files: below minSmall=8, no-op
    (0 until 6).foreach(i => GraftTable.write(spark,
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), root,
      if (i == 0) "overwrite" else "append"))
    GraftTable.autoCompact(spark, root, smallBytes = 1024 * 1024,
      minSmall = 8) shouldBe None
    GraftTable.snapshot(root).files should have size 6
    // two more: threshold crossed, one layout-only OPTIMIZE version lands
    (6 until 8).foreach(i => GraftTable.write(spark,
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), root, "append"))
    val v = GraftTable.autoCompact(spark, root, smallBytes = 1024 * 1024,
      minSmall = 8)
    v shouldBe Some(9L) // 8 writes + the optimize
    GraftTable.snapshot(root).files should have size 1
    GraftTable.read(spark, root).count() shouldBe 8L
    // healthy layout: immediately idempotent
    GraftTable.autoCompact(spark, root, smallBytes = 1024 * 1024,
      minSmall = 8) shouldBe None
  }

  test("conditional merge: WHEN MATCHED AND cond THEN UPDATE (last-writer-wins)") {
    val root = freshRoot("cmerge")
    GraftTable.write(spark,
      Seq(("a", 1L, 10L), ("b", 5L, 20L), ("c", 3L, 30L))
        .toDF("k", "ver", "v"), root, "overwrite")
    // source: a newer (wins), b staler (dropped — target survives),
    // d unmatched (inserts)
    GraftTable.merge(spark, root,
      Seq(("a", 2L, 11L), ("b", 4L, 21L), ("d", 1L, 40L))
        .toDF("k", "ver", "v"),
      Seq("k"), condition = Some("s.ver > t.ver"))
    GraftTable.read(spark, root).orderBy($"k")
      .as[(String, Long, Long)].collect() shouldBe Array(
      ("a", 2L, 11L), ("b", 5L, 20L), ("c", 3L, 30L), ("d", 1L, 40L))
    // rerun-idempotent: replaying the SAME change set changes nothing
    // (a's ver is no longer greater, b still stale, d now matches-stale)
    GraftTable.merge(spark, root,
      Seq(("a", 2L, 11L), ("b", 4L, 21L), ("d", 1L, 40L))
        .toDF("k", "ver", "v"),
      Seq("k"), condition = Some("s.ver > t.ver"))
    GraftTable.read(spark, root).count() shouldBe 4L
    GraftTable.read(spark, root).where($"k" === "a").head.getLong(2) shouldBe 11L
    // a NULL condition keeps the target (SQL MERGE's unknown = no update)
    GraftTable.merge(spark, root,
      Seq(("a", 99L, 99L)).toDF("k", "ver", "v"),
      Seq("k"), condition = Some("CAST(NULL AS BOOLEAN)"))
    GraftTable.read(spark, root).where($"k" === "a").head.getLong(2) shouldBe 11L
    // condition on delete is rejected
    intercept[IllegalArgumentException](GraftTable.merge(spark, root,
      Seq(("a", 1L, 1L)).toDF("k", "ver", "v"), Seq("k"), "delete",
      condition = Some("s.ver > t.ver")))
      .getMessage should include("upsert")
    // config surface: options.condition rides the merge sink
    Seq(("a", 100L, 12L)).toDF("k", "ver", "v")
      .write.mode("overwrite").parquet(s"$root/../cmerge_src")
    PipelineRunner.run(spark,
      s"""name: cmerge_cfg
         |source: {format: parquet, path: "$root/../cmerge_src"}
         |transforms: []
         |sink: {format: graft_table, path: "$root", mode: merge,
         |  options: {on: "k", condition: "s.ver > t.ver"}}
         |""".stripMargin)
    GraftTable.read(spark, root).where($"k" === "a").head.getLong(2) shouldBe 12L
  }

  test("mode mv_refresh: a declared MV maintains incrementally through YAML") {
    val base = freshRoot("mv_yaml_b"); val mv = freshRoot("mv_yaml_m")
    GraftTable.write(spark,
      Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v"), base, "overwrite")
    val yaml =
      s"""name: spend_mv
         |mode: mv_refresh
         |source: {format: graft_table, path: "$base"}
         |mv:
         |  path: "$mv"
         |  keys: [k]
         |  aggs: ["count() AS n", "sum(v) AS s", "approx_distinct(v) AS nd"]
         |""".stripMargin
    def run() = PipelineRunner.run(spark, yaml).passed.orderBy($"k")
      .select($"k", $"n", $"s", $"nd").as[(String, Long, Long, Long)].collect()
    run() shouldBe Array(("a", 2L, 3L, 2L), ("b", 1L, 5L, 1L))
    // append-only advance -> the second run is the INCREMENTAL path
    GraftTable.write(spark,
      Seq(("a", 2L), ("c", 7L)).toDF("k", "v"), base, "append")
    run() shouldBe Array(("a", 3L, 5L, 2L), ("b", 1L, 5L, 1L), ("c", 1L, 7L, 1L))
    GraftTable.history(spark, mv).orderBy($"version".desc)
      .head.getAs[String]("operation") shouldBe "MERGE"
    // already current -> a no-op run still returns the view
    run().length shouldBe 3
    // parse guards: mode without the block, transforms present, bad agg,
    // non-table source
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"name: x\nmode: mv_refresh\nsource: {format: graft_table, path: \"$base\"}\n"))
      .getMessage should include("mv")
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: x
         |mode: mv_refresh
         |source: {format: graft_table, path: "$base"}
         |transforms: [{op: limit, max_rows: 1}]
         |mv: {path: "$mv", keys: [k], aggs: ["count() AS n"]}
         |""".stripMargin)).getMessage should include("transforms")
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: x
         |mode: mv_refresh
         |source: {format: graft_table, path: "$base"}
         |mv: {path: "$mv", keys: [k], aggs: ["median(v) AS m"]}
         |""".stripMargin)).getMessage should include("count|sum|min|max")
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: x
         |mode: mv_refresh
         |source: {format: parquet, path: "/tmp/x"}
         |mv: {path: "$mv", keys: [k], aggs: ["count() AS n"]}
         |""".stripMargin)).getMessage should include("graft_table")
  }

  test("mode mv_refresh + streaming: continuous maintenance paced by the " +
    "table stream; replayed versions no-op via the txn cursor") {
    val base = freshRoot("mv_str_b"); val mv = freshRoot("mv_str_m")
    GraftTable.write(spark,
      Seq(("a", 1L), ("b", 5L)).toDF("k", "v"), base, "overwrite") // v1
    GraftTable.write(spark, Seq(("a", 2L)).toDF("k", "v"), base, "append") // v2
    GraftTable.write(spark,
      Seq(("c", 7L), ("a", 3L)).toDF("k", "v"), base, "append")    // v3
    val yaml =
      s"""name: mvstr
         |mode: mv_refresh
         |streaming: true
         |source: {format: graft_table, path: "$base",
         |  options: {maxVersionsPerTrigger: "1"}}
         |mv: {path: "$mv", keys: [k], aggs: ["count() AS n", "sum(v) AS s"]}
         |""".stripMargin
    def run() = PipelineRunner.run(spark, yaml).passed.orderBy($"k")
      .select($"k", $"n", $"s").as[(String, Long, Long)].collect()
    run() shouldBe Array(("a", 3L, 6L), ("b", 1L, 5L), ("c", 1L, 7L))
    // paced version-by-version: v1 materialized FULL (a CREATE — the
    // view's first version), v2 and v3 each their own incremental MERGE —
    // not one jump to latest
    val ops = GraftTable.history(spark, mv).orderBy($"version")
      .select($"operation").as[String].collect()
    ops.head shouldBe "CREATE"
    ops.count(_ == "MERGE") shouldBe 2
    // crash-replay: a rerun starts a FRESH stream checkpoint and replays
    // v1..v3 — every refresh no-ops on the txn cursor, the MV writes
    // nothing new
    val vBefore = GraftTable.latestVersion(mv).get
    run() shouldBe Array(("a", 3L, 6L), ("b", 1L, 5L), ("c", 1L, 7L))
    GraftTable.latestVersion(mv).get shouldBe vBefore
    // catch-up: one new base version -> exactly one more MV merge
    GraftTable.write(spark, Seq(("b", 1L)).toDF("k", "v"), base, "append")
    run() shouldBe Array(("a", 3L, 6L), ("b", 2L, 6L), ("c", 1L, 7L))
    GraftTable.latestVersion(mv).get shouldBe vBefore + 1
    // parse guards: the flag outside mv_refresh; a batch selector on the
    // streaming source
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      "name: x\nstreaming: true\n" +
        "source: {format: parquet, path: \"/tmp/x\"}\n"))
      .getMessage should include("mv_refresh")
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: x
         |mode: mv_refresh
         |streaming: true
         |source: {format: graft_table, path: "$base",
         |  options: {versionAsOf: "1"}}
         |mv: {path: "$mv", keys: [k], aggs: ["count() AS n"]}
         |""".stripMargin)).getMessage should include("maxVersionsPerTrigger")
  }

  test("deletion vectors: DML is merge-on-read — no boundary rewrite, " +
    "readers anti-filter, OPTIMIZE materializes, restore reconciles") {
    val root = freshRoot("dv"); val cow = freshRoot("dv_cow")
    val mor = freshRoot("dv_mor")
    val df0 = (1L to 100L).map(i => (i, i * 10.0)).toDF("k", "v")
    // every row-level op, on a twin with the change feed on and deletion
    // vectors `dv`; v7 is the state after the first four ops
    def sameOps(r: String, dv: Boolean): Unit = {
      GraftTable.write(spark, df0.repartition(4), r, "overwrite")      // v1
      GraftTable.setProperty(r, "changeDataFeed", Some("true"))        // v2
      GraftTable.setProperty(r, "deletionVectors", Some(dv.toString))  // v3
      GraftTable.deleteWhere(spark, r, "k % 10 = 3")
      GraftTable.deleteWhere(spark, r, "k % 10 = 7")
      GraftTable.updateWhere(spark, r, "k = 4", Map("v" -> "999.0"))
      GraftTable.merge(spark, r,
        Seq((5L, -5.0), (1000L, 1.0)).toDF("k", "v"), Seq("k"))        // v7
      GraftTable.merge(spark, r, Seq(6L, 16L).toDF("k"), Seq("k"),
        how = "delete")
      GraftTable.merge(spark, r,
        Seq((8L, 1.0), (9L, 1000.0), (2000L, 2.0)).toDF("k", "v"), Seq("k"),
        condition = Some("s.v > t.v"))
      GraftTable.merge(spark, r,
        Seq((11L, -11.0), (3000L, 3.0)).toDF("k", "v"), Seq("k"),
        deleteKeys = Some(Seq(12L, 22L, 4000L).toDF("k")))
    }
    GraftTable.write(spark, df0.repartition(4), root, "overwrite")     // v1
    GraftTable.setProperty(root, "deletionVectors", Some("true"))      // v2
    val filesV2 = GraftTable.snapshot(root).files.toSet
    filesV2.size shouldBe 4
    // predicate delete: zero files written, zero removed — only vectors
    GraftTable.deleteWhere(spark, root, "k % 10 = 3")                  // v3
    GraftTable.snapshot(root).files.toSet shouldBe filesV2
    val h3 = GraftTable.history(spark, root).where($"version" === 3).head
    h3.getAs[Int]("n_added_files") shouldBe 0
    h3.getAs[Int]("n_removed_files") shouldBe 0
    GraftTable.read(spark, root).count() shouldBe 90
    GraftTable.rowCount(root) shouldBe 90 // metadata-only count agrees
    GraftTable.read(spark, root).where($"k" % 10 === 3).count() shouldBe 0
    // second delete on the same files: vectors are CUMULATIVE
    GraftTable.deleteWhere(spark, root, "k % 10 = 7")                  // v4
    GraftTable.read(spark, root).count() shouldBe 80
    // 1-row update writes exactly one 1-row post-image file — never a
    // boundary rewrite
    GraftTable.updateWhere(spark, root, "k = 4", Map("v" -> "999.0"))  // v5
    val h5 = GraftTable.history(spark, root).where($"version" === 5).head
    h5.getAs[Int]("n_added_files") shouldBe 1
    h5.getAs[Int]("n_removed_files") shouldBe 0
    h5.getAs[Long]("rows_added") shouldBe 1L
    h5.getAs[String]("operation") shouldBe "MERGE"
    // merge upsert: victims vectored, only the source rows written
    GraftTable.merge(spark, root,
      Seq((5L, -5.0), (1000L, 1.0)).toDF("k", "v"), Seq("k"))          // v6
    GraftTable.history(spark, root).where($"version" === 6).head
      .getAs[Int]("n_removed_files") shouldBe 0
    // bit-identical to the copy-on-write twin of the same op sequence
    sameOps(cow, dv = false)
    GraftTable.read(spark, root).as[(Long, Double)].collect().sorted shouldBe
      GraftTable.read(spark, cow, asOf = Some(7)).as[(Long, Double)]
        .collect().sorted
    // and through the merges too: a merge-on-read twin (no commit past v3
    // removes a file) ends with the same rows and the same change feed
    sameOps(mor, dv = true)
    GraftTable.history(spark, mor).where($"version" > 3)
      .select($"n_removed_files").as[Int].collect().toSet shouldBe Set(0)
    GraftTable.read(spark, mor).as[(Long, Double)].collect().sorted shouldBe
      GraftTable.read(spark, cow).as[(Long, Double)].collect().sorted
    def feed(r: String) = GraftTable.changesWithImages(spark, r, 3)
      .select($"k", $"v", $"_change_type", $"_commit_version")
      .as[(Long, Double, String, Long)].collect().sorted
    feed(mor) shouldBe feed(cow)
    feed(cow).map(_._3).toSet shouldBe Set("delete", "update_preimage",
      "update_postimage", "insert")
    // checkpoint carries the vector map; snapshot resolution via it works
    GraftTable.checkpoint(root)
    GraftTable.read(spark, root).count() shouldBe 81
    GraftTable.rowCount(root) shouldBe 81
    // time travel re-applies each version's own vector state
    GraftTable.read(spark, root, asOf = Some(3)).count() shouldBe 90
    GraftTable.read(spark, root, asOf = Some(3))
      .where($"k" % 10 === 7).count() shouldBe 10
    // restore to v3: vector state reconciled back (metadata only)
    GraftTable.restore(spark, root, 3L)                                // v7
    GraftTable.read(spark, root).count() shouldBe 90
    GraftTable.read(spark, root).where($"k" === 4)
      .select($"v").as[Double].head() shouldBe 40.0
    // OPTIMIZE materializes the vectors: row set unchanged, vectors gone
    GraftTable.optimize(spark, root, 2)                                // v8
    GraftTable.read(spark, root).count() shouldBe 90
    GraftTable.rowCount(root) shouldBe 90
    // retention: while any log or checkpoint references a vector it
    // survives vacuum (time travel keeps working); truncation reclaims
    // the sidecars only dropped logs referenced — the checkpoint written
    // at v6 still pins ITS vector map, so v6 stays readable even after
    // the logs are gone, exactly like data files
    GraftTable.vacuum(root, 0L).count(_.startsWith("dv/")) shouldBe 0
    GraftTable.read(spark, root, asOf = Some(6)).count() shouldBe 81
    GraftTable.truncateHistory(root, 8L)
    GraftTable.vacuum(root, 0L).count(_.startsWith("dv/")) should be >= 1
    GraftTable.read(spark, root, asOf = Some(6)).count() shouldBe 81
    GraftTable.read(spark, root).count() shouldBe 90
  }

  test("deletion vectors + change feed: cdc images ride merge-on-read " +
    "commits and the retraction MV stays incremental") {
    import graft.tables.MaterializedView
    import graft.tables.MaterializedView.AggSpec
    val base = freshRoot("dv_cdf"); val mv = freshRoot("dv_cdf_mv")
    GraftTable.write(spark,
      Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v"),
      base, "overwrite")                                               // v1
    GraftTable.setProperty(base, "deletionVectors", Some("true"))      // v2
    GraftTable.setProperty(base, "changeDataFeed", Some("true"))       // v3
    val aggs = Seq(AggSpec("count", "", "n"), AggSpec("count", "v", "n_v"),
      AggSpec("sum", "v", "sum_v"))
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    GraftTable.updateWhere(spark, base, "v = 2.0", Map("v" -> "20.0"))  // v4
    // the feed classifies the MoR update exactly
    GraftTable.changesWithImages(spark, base, 3)
      .select($"k", $"v", $"_change_type", $"_commit_version")
      .as[(String, Double, String, Long)].collect().sorted shouldBe
      Array(("a", 2.0, "update_preimage", 4L),
        ("a", 20.0, "update_postimage", 4L)).sorted
    // the MV consumes it incrementally (merge, not overwrite)
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    GraftTable.history(spark, mv).orderBy($"version".desc)
      .select($"operation").head().getString(0) should not be "OVERWRITE"
    GraftTable.read(spark, mv).orderBy($"k")
      .as[(String, Long, Long, Double)].collect() shouldBe
      Array(("a", 2L, 2L, 21.0), ("b", 1L, 1L, 5.0))
    // a MoR group-kill delete flows through as retractions — and the
    // dead-group delete + cursor-bearing upsert land as ONE atomic MV
    // version (no interim state where dead groups are gone but touched
    // groups still hold stale aggregates)
    GraftTable.deleteWhere(spark, base, "k = 'b'")                     // v5
    val mvBefore = GraftTable.latestVersion(mv).get
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    GraftTable.latestVersion(mv).get shouldBe mvBefore + 1
    GraftTable.read(spark, mv).select($"k").as[String].collect() shouldBe
      Array("a")
  }

  test("bloom file stats: point lookups on a bloom'd column skip files " +
    "whose min/max ranges fully overlap; un-bloom'd columns cannot; " +
    "sketches survive checkpointed replay; bad types fail loud") {
    val root = freshRoot("bloom")
    GraftTable.write(spark, Seq((0L, "seed")).toDF("id", "s"),
      root, "overwrite")                                               // v1
    GraftTable.setProperty(root, "stats_bloom", Some("id"))            // v2
    // round-robin repartition makes every staged file span the whole id
    // range — min/max stats become useless for a point lookup, exactly
    // the case the sketch exists for
    val a = (0L to 999L).map(i => (i * 3, s"x${i % 7}")).toDF("id", "s")
      .repartition(2)
    val b = (0L to 999L).map(i => (i * 3 + 1, s"x${i % 7}")).toDF("id", "s")
      .repartition(2)
    GraftTable.write(spark, a, root, "overwrite")                      // v3
    GraftTable.write(spark, b, root, "append")                         // v4
    val total = GraftTable.snapshot(root).files.size
    total should be >= 4
    // the sketch landed in the log, inside the column's stats node
    Files.readString(Paths.get(root, "_graft_log")
      .resolve(f"${3L}%020d.json")) should include(""""bloom":"""")
    import org.apache.spark.sql.functions.col
    def probe(cond: org.apache.spark.sql.Column): (Long, Int) = {
      val n = GraftTable.read(spark, root).where(cond).count()
      (n, GraftTable.lastReadIndex.get.lastPrune.get._1)
    }
    // id=300 lives in exactly one file; every file's range covers it
    val (n1, kept1) = probe(col("id") === 300L)
    n1 shouldBe 1L
    kept1 should be < total
    // IN-list keeps only files that might hold either value
    val (n2, kept2) = probe(col("id").isin(300L, 301L))
    n2 shouldBe 2L
    kept2 should be < total
    // an un-bloom'd overlapping column cannot skip anything
    val (n3, kept3) = probe(col("s") === "x3")
    n3 should be > 0L
    kept3 shouldBe total
    // a value NO file contains: bloom empties the candidate set
    val (n4, kept4) = probe(col("id") === 2L) // ≡2 mod 3 — never written
    n4 shouldBe 0L
    kept4 should be < total
    // checkpoint carries the stats nodes verbatim — replay after
    // truncation keeps skipping
    GraftTable.checkpoint(root)
    GraftTable.truncateHistory(root, GraftTable.latestVersion(root).get)
    val (n5, kept5) = probe(col("id") === 300L)
    n5 shouldBe 1L
    kept5 should be < total
    // a non-integral, non-string column is rejected loud at stage time
    GraftTable.setProperty(root, "stats_bloom", Some("missing_col"))
    GraftTable.write(spark, Seq((9999L, "z")).toDF("id", "s"),
      root, "append") // absent column: skipped, never an error
    val root2 = freshRoot("bloom_badtype")
    GraftTable.write(spark, Seq((1L, 2.0)).toDF("id", "v"),
      root2, "overwrite")
    GraftTable.setProperty(root2, "stats_bloom", Some("v"))
    (the[IllegalArgumentException] thrownBy GraftTable.write(spark,
      Seq((2L, 3.0)).toDF("id", "v"), root2, "append"))
      .getMessage should include("only integral and string")
  }

  test("min/max MV under retraction: touched-group recompute MERGES " +
    "(never overwrites), re-surfaces the second-place value, kills dead " +
    "groups in the same commit; no-CDF rewrites still overwrite") {
    import graft.tables.MaterializedView
    import graft.tables.MaterializedView.AggSpec
    val base = freshRoot("mm_mv_b"); val mv = freshRoot("mm_mv_m")
    GraftTable.write(spark,
      Seq(("a", 1.0), ("a", 5.0), ("b", 7.0), ("c", 3.0)).toDF("k", "v"),
      base, "overwrite")                                               // v1
    GraftTable.setProperty(base, "changeDataFeed", Some("true"))       // v2
    val aggs = Seq(AggSpec("min", "v", "lo"), AggSpec("max", "v", "hi"))
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs) // first: full
    GraftTable.read(spark, mv).orderBy($"k")
      .as[(String, Double, Double)].collect() shouldBe
      Array(("a", 1.0, 5.0), ("b", 7.0, 7.0), ("c", 3.0, 3.0))
    // a retraction touching ONE group: the deleted max must give way to
    // the second-place value — impossible for merge algebra, exactly
    // what the touched-group recompute re-derives from the base
    GraftTable.deleteWhere(spark, base, "v = 5.0")                     // v3
    val mvBefore = GraftTable.latestVersion(mv).get
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    GraftTable.latestVersion(mv).get shouldBe mvBefore + 1
    GraftTable.history(spark, mv).orderBy($"version".desc)
      .select($"operation").head().getString(0) should include("MERGE")
    GraftTable.read(spark, mv).orderBy($"k")
      .as[(String, Double, Double)].collect() shouldBe
      Array(("a", 1.0, 1.0), ("b", 7.0, 7.0), ("c", 3.0, 3.0))
    // dead group: all of c's rows vanish → the group leaves the view in
    // the SAME merge commit (deleteKeys), never a stale survivor
    GraftTable.deleteWhere(spark, base, "k = 'c'")                     // v4
    val before2 = GraftTable.latestVersion(mv).get
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    GraftTable.latestVersion(mv).get shouldBe before2 + 1
    GraftTable.read(spark, mv).select($"k").as[String]
      .collect().sorted shouldBe Array("a", "b")
    // appends afterwards still ride the cheap append-incremental branch
    GraftTable.write(spark, Seq(("b", 9.0)).toDF("k", "v"), base, "append")
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    GraftTable.read(spark, mv).where($"k" === "b")
      .as[(String, Double, Double)].head() shouldBe (("b", 7.0, 9.0))
    // without a change feed the touched groups cannot even be NAMED —
    // the fallback stays the full overwrite
    val base2 = freshRoot("mm_mv_b2"); val mv2 = freshRoot("mm_mv_m2")
    GraftTable.write(spark,
      Seq(("a", 1.0), ("a", 2.0)).toDF("k", "v"), base2, "overwrite")
    MaterializedView.refresh(spark, base2, mv2, Seq("k"), aggs)
    GraftTable.deleteWhere(spark, base2, "v = 2.0")
    MaterializedView.refresh(spark, base2, mv2, Seq("k"), aggs)
    GraftTable.history(spark, mv2).orderBy($"version".desc)
      .select($"operation").head().getString(0) shouldBe "OVERWRITE"
    GraftTable.read(spark, mv2)
      .as[(String, Double, Double)].collect() shouldBe Array(("a", 1.0, 1.0))
  }

  test("deletion-vector staging is immune to the caller's " +
    "maxRecordsPerFile: one cumulative sidecar per data file, always") {
    val root = freshRoot("dv_onepart")
    GraftTable.write(spark,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v"), root, "overwrite")
    GraftTable.setProperty(root, "deletionVectors", Some("true"))
    // a session that splits every write at 2 records would, unpinned,
    // split the 8-row vector into sidecar parts whose second dv action
    // SUPERSEDES the first on replay (resurrecting deleted rows)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    GraftTable.deleteWhere(s2, root, "k <= 8")
    import s2.implicits._
    GraftTable.read(s2, root).select(col("k")).as[Long]
      .collect().sorted shouldBe Array(9L, 10L)
    GraftTable.rowCount(root) shouldBe 2L
    // exactly one live sidecar parquet under dv/
    Files.list(Paths.get(root, "dv")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) shouldBe 1
  }

  test("disjoint-writer OCC: two merges touching different partitions " +
    "both commit; a same-partition race still aborts; OPTIMIZE retries " +
    "past a concurrent append") {
    val root = freshRoot("occ")
    val df = Seq(("p1", 1L, 10.0), ("p1", 2L, 20.0),
      ("p2", 3L, 30.0), ("p2", 4L, 40.0)).toDF("p", "k", "v")
    GraftTable.write(spark, df, root, "overwrite",
      partitionBy = Seq("p"))                                        // v1
    // merge A (partition p1) resolves its snapshot; the hook then lands
    // merge B (partition p2) FIRST — A loses the version race, replays
    // B's commit, proves disjointness, and re-commits. Both land.
    GraftTable.testRaceHook = () => GraftTable.merge(spark, root,
      Seq(("p2", 3L, 33.0)).toDF("p", "k", "v"), Seq("p", "k"))      // v2
    GraftTable.merge(spark, root,
      Seq(("p1", 1L, 11.0)).toDF("p", "k", "v"), Seq("p", "k"))      // v3
    GraftTable.latestVersion(root).get shouldBe 3L
    GraftTable.read(spark, root).orderBy($"k")
      .as[(String, Long, Double)].collect() shouldBe Array(
      ("p1", 1L, 11.0), ("p1", 2L, 20.0), ("p2", 3L, 33.0), ("p2", 4L, 40.0))
    // TRUE conflict: both writers touch partition p1 — the loser aborts
    // and deletes the data files it staged
    var racerFiles = Seq.empty[String]
    GraftTable.testRaceHook = () => {
      GraftTable.merge(spark, root,
        Seq(("p1", 2L, 22.0)).toDF("p", "k", "v"), Seq("p", "k"))    // v4
      racerFiles = filesUnder(root, "data")
    }
    (the[GraftTable.ConcurrentWriteException] thrownBy
      GraftTable.merge(spark, root,
        Seq(("p1", 1L, 111.0)).toDF("p", "k", "v"), Seq("p", "k")))
      .getMessage should include("conflicts with a concurrent commit")
    filesUnder(root, "data") shouldBe racerFiles
    // deleteWhere scoped to p2 sails past a raced p1 update
    GraftTable.testRaceHook = () => GraftTable.updateWhere(spark, root,
      "p = 'p1' AND k = 1", Map("v" -> "12.0"))                      // v5
    GraftTable.deleteWhere(spark, root, "p = 'p2' AND k = 4")        // v6
    GraftTable.read(spark, root).orderBy($"k")
      .as[(String, Long, Double)].collect() shouldBe Array(
      ("p1", 1L, 12.0), ("p1", 2L, 22.0), ("p2", 3L, 33.0))
    // OPTIMIZE computed against v6 retries past a concurrent append:
    // the appended file stays live beside the compacted layout
    GraftTable.testRaceHook = () => GraftTable.write(spark,
      Seq(("p1", 9L, 90.0)).toDF("p", "k", "v"), root, "append")     // v7
    GraftTable.optimize(spark, root, 1)                              // v8
    GraftTable.read(spark, root).count() shouldBe 4L
    GraftTable.read(spark, root).where($"k" === 9L).count() shouldBe 1L
    // dropPartition retries past a concurrent append too (TTL drop +
    // live ingest compose; the raced row into ANOTHER partition lives)
    GraftTable.testRaceHook = () => GraftTable.write(spark,
      Seq(("p1", 10L, 100.0)).toDF("p", "k", "v"), root, "append")   // v9
    GraftTable.dropPartition(root, Map("p" -> "p2"))                 // v10
    GraftTable.read(spark, root).select($"k").as[Long]
      .collect().sorted shouldBe Array(1L, 2L, 9L, 10L)
    // a racer that commits the same (appId, batchId) first makes the
    // streaming append a no-op that keeps none of its staged files
    def batch() = GraftTable.appendBatch(spark,
      Seq(("p1", 11L, 110.0)).toDF("p", "k", "v"), root, "occ-app", 1L)
    GraftTable.testRaceHook = () => {
      batch() shouldBe Some(11L)                                     // v11
      racerFiles = filesUnder(root, "data")
    }
    batch() shouldBe None
    GraftTable.latestVersion(root).get shouldBe 11L
    filesUnder(root, "data") shouldBe racerFiles
  }

  test("deletion vectors apply INSIDE the scan (no join node) for " +
    "broadcast-class vectors, with the anti-join as over-budget fallback " +
    "— same rows either way at 10%+ deleted") {
    val root = freshRoot("dv_inline")
    GraftTable.write(spark,
      (1L to 20000L).map(i => (i, i % 97)).toDF("k", "m"), root, "overwrite")
    GraftTable.setProperty(root, "deletionVectors", Some("true"))
    GraftTable.deleteWhere(spark, root, "m < 10") // ~10.3% of rows, MoR
    GraftTable.deleteWhere(spark, root, "k % 1000 = 0") // cumulative grows
    val expect = (1L to 20000L).filter(i => i % 97 >= 10 && i % 1000 != 0)
    val inline = GraftTable.read(spark, root)
    inline.select($"k").as[Long].collect().sorted shouldBe expect
    // the merge-on-read filter is an in-scan predicate, not a join
    val p = inline.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    (p should not).include("Join")
    p should include("graft_dv_live")
    // data predicates still push through to the parquet scan
    val pushed = GraftTable.read(spark, root).where($"k" > 10000L)
    pushed.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) should
      include regex "PushedFilters: \\[.*k.*\\]"
    pushed.select($"k").as[Long].collect().sorted shouldBe
      expect.filter(_ > 10000L)
    // over-budget vectors fall back to the anti-join, bit-identical
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.dv.inlineMaxRows", "0")
    val fb = GraftTable.read(s2, root)
    fb.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) should
      include("Join")
    fb.select(col("k")).collect().map(_.getLong(0)).sorted shouldBe expect
    // metadata-only row count agrees with both
    GraftTable.rowCount(root) shouldBe expect.size.toLong
    // DESCRIBE surfaces the vector load from the log alone
    val d = GraftTable.describe(spark, root).head()
    d.getAs[Long]("n_dv_files") should be >= 1L
    d.getAs[Long]("n_dead_rows") shouldBe (20000L - expect.size)
    d.getAs[Int]("min_reader") shouldBe 2
  }

  test("column mapping: rename/drop are metadata commits — old files " +
    "readable, time travel intact, DML + skipping + evolve compose, " +
    "re-added name never resurrects dropped data") {
    val root = freshRoot("colmap")
    GraftTable.write(spark,
      (1L to 100L).map(i => (i, i * 2.0, s"u$i")).toDF("id", "amount", "user"),
      root, "overwrite")                                               // v1
    val nFiles = Files.walk(Paths.get(root, "data")).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    // RENAME is pure metadata: no data file written or replaced
    GraftTable.renameColumn(root, "amount", "price")                   // v2
    Files.walk(Paths.get(root, "data")).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet")) shouldBe nFiles
    // the enabling commit raises the LOG's reader floor (protocol
    // action): column mapping rides the known meta action, so a
    // pre-mapping binary would otherwise silently read renamed columns
    // as all-null — the protocol line is an unknown action kind to it,
    // which its replay guard fails loud on
    Files.readString(Paths.get(root, "_graft_log")
      .resolve(f"${2L}%020d.json")) should include(
      """"protocol":{"minReader":3}""")
    GraftTable.columnMapping(root) shouldBe Map(
      "id" -> "id", "price" -> "amount", "user" -> "user")
    GraftTable.describe(spark, root).head()
      .getAs[Boolean]("column_mapped") shouldBe true
    GraftTable.describe(spark, root).head()
      .getAs[Int]("min_reader") shouldBe 3
    // old files read under the NEW logical name
    GraftTable.read(spark, root).where($"price" === 20.0)
      .select($"id").as[Long].head() shouldBe 10L
    // time travel to pre-rename keeps the OLD name
    GraftTable.read(spark, root, Some(1L)).columns should contain("amount")
    // rename collision / partition column / unknown column fail loud
    intercept[IllegalArgumentException](
      GraftTable.renameColumn(root, "user", "id"))
    intercept[IllegalArgumentException](
      GraftTable.renameColumn(root, "ghost", "x"))
    // appends + merge + predicate DML against the renamed schema
    GraftTable.write(spark,
      Seq((101L, 999.0, "u101")).toDF("id", "price", "user"),
      root, "append")                                                  // v3
    GraftTable.merge(spark, root,
      Seq((1L, 111.0, "u1")).toDF("id", "price", "user"), Seq("id"))   // v4
    GraftTable.updateWhere(spark, root, "id = 2",
      Map("price" -> "price + 0.5"))                                   // v5
    GraftTable.deleteWhere(spark, root, "id = 3")                      // v6
    val got = GraftTable.read(spark, root).where($"id" <= 3 || $"id" >= 100)
      .orderBy($"id").as[(Long, Double, String)].collect()
    got shouldBe Array((1L, 111.0, "u1"), (2L, 4.5, "u2"),
      (100L, 200.0, "u100"), (101L, 999.0, "u101"))
    // log-stats skipping answers under the logical name
    GraftTable.columnRange(root, "price").map(_._2.toString.toDouble)
      .get shouldBe 999.0
    val (cand, all) = GraftTable.filesInRange(root, "price", 990.0, 1000.0)
    cand.size should be < all.size
    // type conflict on evolve still fails (rename does not launder types)
    (the[IllegalArgumentException] thrownBy GraftTable.writeEvolve(spark,
      Seq((102L, "oops", "u")).toDF("id", "price", "user"), root))
      .getMessage should include("type conflict")
    // DROP then re-add the same logical name: fresh physical — the old
    // column's bytes in old files can never resurrect
    GraftTable.dropColumn(root, "user")                                // v7
    GraftTable.read(spark, root).columns shouldBe Array("id", "price")
    GraftTable.writeEvolve(spark,
      Seq((200L, 5.0, "NEW")).toDF("id", "price", "user"), root)       // v8
    val back = GraftTable.read(spark, root)
      .where($"id" === 1L || $"id" === 200L)
      .orderBy($"id").select($"user").as[String].collect()
    back shouldBe Array(null, "NEW") // old rows NULL, never old "u1"
    // checkpoint carries the mapping at reader floor 3; replay through
    // it (history truncated) keeps reading correctly
    GraftTable.checkpoint(root)
    GraftTable.truncateHistory(root, GraftTable.latestVersion(root).get)
    GraftTable.read(spark, root).where($"id" === 200L)
      .select($"user").as[String].head() shouldBe "NEW"
    // constraints referencing a column block its rename/drop —
    // whole-identifier match only: a column whose name is a SUBSTRING of
    // a referenced one (rice vs price) renames freely
    GraftTable.addConstraint(spark, root, "pos", "price >= 0")
    intercept[IllegalArgumentException](
      GraftTable.renameColumn(root, "price", "cost"))
    intercept[IllegalArgumentException](GraftTable.dropColumn(root, "price"))
    GraftTable.writeEvolve(spark,
      Seq((201L, 6.0, "u", 1L)).toDF("id", "price", "user", "rice"), root)
    GraftTable.renameColumn(root, "rice", "grain") // not blocked by 'pos'
    GraftTable.dropColumn(root, "grain")
    // and the constraint still ENFORCES against mapped staged files
    intercept[IllegalArgumentException](GraftTable.write(spark,
      Seq((300L, -1.0, "bad")).toDF("id", "price", "user"), root, "append"))
  }

  test("partition-aware autoCompact: a partition past the dead-row " +
    "threshold self-heals (vectors materialized away), cold partitions' " +
    "files untouched, time travel intact") {
    val root = freshRoot("autocompact_dv")
    val df = (1L to 1000L).map(i => (if (i <= 500) "hot" else "cold", i, i * 1.0))
      .toDF("p", "k", "v")
    GraftTable.write(spark, df, root, "overwrite", partitionBy = Seq("p")) // v1
    GraftTable.setProperty(root, "deletionVectors", Some("true"))          // v2
    // kill 60% of the hot partition via merge-on-read (no rewrite yet)
    GraftTable.deleteWhere(spark, root, "p = 'hot' AND k % 5 < 3")         // v3
    val st = GraftTable.snapshot(root)
    val coldBefore = st.files.filter(_.contains("p=cold")).sorted
    // below the small-file bar, above the dead-row bar → compacts hot only
    GraftTable.autoCompact(spark, root, minSmall = 999,
      deadRowFraction = 0.2) shouldBe Some(4L)
    val after = GraftTable.snapshot(root)
    after.files.filter(_.contains("p=cold")).sorted shouldBe coldBefore
    after.files.filter(_.contains("p=hot")) should not be
      st.files.filter(_.contains("p=hot"))
    // vectors materialized away: the hot partition reads with no dv filter
    GraftTable.read(spark, root).where($"p" === "hot").count() shouldBe 200L
    GraftTable.read(spark, root).count() shouldBe 700L
    GraftTable.rowCount(root) shouldBe 700L
    // healthy layout now: a second pass is a no-op
    GraftTable.autoCompact(spark, root, minSmall = 999,
      deadRowFraction = 0.2) shouldBe None
    // the same policy as a declared YAML op (no-op here: healthy)
    PipelineRunner.run(spark,
      s"""name: ac_yaml
         |mode: maintenance
         |maintenance: {op: auto_compact, path: "$root",
         |              dead_row_fraction: "0.2"}
         |""".stripMargin).passed.count() shouldBe 700L
    GraftTable.latestVersion(root).get shouldBe 4L // still the OPTIMIZE
    // time travel to the pre-compaction DV state still answers exactly
    GraftTable.read(spark, root, Some(3L)).count() shouldBe 700L
    GraftTable.read(spark, root, Some(1L)).count() shouldBe 1000L
  }

  test("streaming source reads column-mapped tables: pre-rename files " +
    "and post-rename appends both deliver under the logical name") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("colmap_stream")
    val scratch = freshRoot("colmap_stream_run")
    GraftTable.write(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount"), root, "overwrite") // v1
    GraftTable.renameColumn(root, "amount", "price")                       // v2
    GraftTable.write(spark,
      Seq((3L, 30.0)).toDF("id", "price"), root, "append")                 // v3
    val q = spark.readStream
      .format("graft.tables.GraftTableStreamSource")
      .option("path", root)
      .load()
      .writeStream
      .option("checkpointLocation", s"$scratch/cp")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$scratch/out/b$id"); ()
      }
      .start()
    q.awaitTermination()
    val dirs = scala.util.Using.resource(
      Files.list(Paths.get(s"$scratch/out")))(
      _.iterator().asScala.map(_.toString).toSeq.sorted)
    val got = spark.read.parquet(dirs: _*)
    got.columns.toSeq should contain allOf ("id", "price")
    got.select($"id", $"price").as[(Long, Double)].collect().sorted shouldBe
      Array((1L, 10.0), (2L, 20.0), (3L, 30.0))
  }

  test("z-order WITHIN a partitioned layout: dirs survive, both " +
    "dimensions bounded per file inside each partition, rows identical") {
    val root = freshRoot("zorder_part")
    val rnd = new scala.util.Random(7)
    val df = (1 to 4000).map { i =>
      (if (i % 2 == 0) "a" else "b", rnd.nextInt(1000).toLong,
        rnd.nextInt(1000).toLong, i.toLong)
    }.toDF("p", "x", "y", "id")
    GraftTable.write(spark, df, root, "overwrite", partitionBy = Seq("p"))
    val before = GraftTable.read(spark, root)
      .orderBy($"id").as[(String, Long, Long, Long)].collect()
    GraftTable.optimize(spark, root, targetFiles = 8,
      zorderBy = Seq("x", "y"))
    val st = GraftTable.snapshot(root)
    // partition dirs survive and every live file still logs its value
    st.files.foreach(f => f should (include("p=a") or include("p=b")))
    // data is bit-identical
    GraftTable.read(spark, root).orderBy($"id")
      .as[(String, Long, Long, Long)].collect() shouldBe before
    // skipping pays on BOTH dimensions: a narrow band on either prunes
    // files (the pre-optimize layout was row-order — no pruning at all)
    val (cx, all) = GraftTable.filesInRange(root, "x", 0L, 99L)
    val (cy, _) = GraftTable.filesInRange(root, "y", 900L, 999L)
    cx.size should be < all.size
    cy.size should be < all.size
    // a partition column as a z-dimension is rejected
    intercept[IllegalArgumentException](
      GraftTable.optimize(spark, root, 4, zorderBy = Seq("p", "x")))
  }

  test("stream startingTimestamp: inclusive Delta semantics — commits at " +
    "or after the timestamp deliver; vacuum dryRun deletes nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("start_ts")
    val scratch = freshRoot("start_ts_run")
    GraftTable.write(spark, Seq((1L, "a")).toDF("k", "v"), root, "overwrite")
    Thread.sleep(20)
    val cut = GraftTable.commitTimestamp(root, 1L) + 1 // after v1's commit
    Thread.sleep(20)
    GraftTable.write(spark, Seq((2L, "b")).toDF("k", "v"), root, "append")
    GraftTable.write(spark, Seq((3L, "c")).toDF("k", "v"), root, "append")
    val q = spark.readStream
      .format("graft.tables.GraftTableStreamSource")
      .option("path", root)
      .option("startingTimestamp", cut.toString)
      .load()
      .writeStream
      .option("checkpointLocation", s"$scratch/cp")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$scratch/out/b$id"); ()
      }
      .start()
    q.awaitTermination()
    val dirs = scala.util.Using.resource(
      Files.list(Paths.get(s"$scratch/out")))(
      _.iterator().asScala.map(_.toString).toSeq.sorted)
    spark.read.parquet(dirs: _*).select($"k").as[Long]
      .collect().sorted shouldBe Array(2L, 3L) // v1 predates the cut
    // both options together fail loud
    intercept[Exception] {
      spark.readStream.format("graft.tables.GraftTableStreamSource")
        .option("path", root).option("startingVersion", "0")
        .option("startingTimestamp", cut.toString).load()
        .writeStream.option("checkpointLocation", s"$scratch/cp2")
        .trigger(Trigger.AvailableNow())
        .format("noop").start().awaitTermination()
    }
    // an EMPTY startingTimestamp is a typo, not "deliver everything"
    intercept[Exception] {
      spark.readStream.format("graft.tables.GraftTableStreamSource")
        .option("path", root).option("startingTimestamp", " ").load()
        .writeStream.option("checkpointLocation", s"$scratch/cp3")
        .trigger(Trigger.AvailableNow())
        .format("noop").start().awaitTermination()
    }
    // a timestamp PREDATING the table is the ONE legitimately-absorbed
    // failure (versionAtTimestampOpt → None → everything); parsed in the
    // session timezone, not pinned UTC
    val q2 = spark.readStream
      .format("graft.tables.GraftTableStreamSource")
      .option("path", root)
      .option("startingTimestamp", "1970-01-02")
      .load().writeStream
      .option("checkpointLocation", s"$scratch/cp4")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$scratch/out2/b$id"); ()
      }
      .start()
    q2.awaitTermination()
    val dirs2 = scala.util.Using.resource(
      Files.list(Paths.get(s"$scratch/out2")))(
      _.iterator().asScala.map(_.toString).toSeq.sorted)
    spark.read.parquet(dirs2: _*).select($"k").as[Long]
      .collect().sorted shouldBe Array(1L, 2L, 3L)
    // vacuum dryRun: reports the reclaim set, touches nothing
    GraftTable.deleteWhere(spark, root, "k = 1") // orphan v1's file later
    GraftTable.truncateHistory(root, GraftTable.latestVersion(root).get)
    val wouldRemove = GraftTable.vacuum(root, 0L, dryRun = true)
    wouldRemove should not be empty
    GraftTable.read(spark, root).count() shouldBe 2L
    GraftTable.vacuum(root, 0L) shouldBe wouldRemove
    GraftTable.read(spark, root).count() shouldBe 2L
  }

  test("change feed across rename → overwrite: overwrite PRESERVES an " +
    "active column mapping, so pre-overwrite versions read their renamed " +
    "columns (not silent nulls); new columns still get fresh physicals") {
    val root = freshRoot("feed_ow_map")
    GraftTable.write(spark,
      Seq((1L, 10.0)).toDF("k", "v"), root, "overwrite")              // v1
    GraftTable.renameColumn(root, "v", "price")                       // v2
    GraftTable.write(spark,
      Seq((2L, 20.0)).toDF("k", "price"), root, "append")             // v3
    GraftTable.write(spark,
      Seq((3L, 30.0)).toDF("k", "price"), root, "overwrite")          // v4
    // mapping survives: price still reads the stable physical 'v', so
    // v1's pre-rename file and v3's append stay coherent in the feed
    GraftTable.columnMapping(root) shouldBe Map("k" -> "k", "price" -> "v")
    GraftTable.changes(spark, root, 0L)
      .select($"k", $"price", $"_commit_version")
      .as[(Long, Double, Long)].collect().sortBy(_._1) shouldBe Array(
      (1L, 10.0, 1L), (2L, 20.0, 3L), (3L, 30.0, 4L))
    // snapshot read sees only the overwrite's data
    GraftTable.read(spark, root).as[(Long, Double)].collect() shouldBe
      Array((3L, 30.0))
    // an overwrite column the mapping never saw gets a FRESH physical
    // (never a plain name that could collide with dropped bytes)
    GraftTable.write(spark,
      Seq((4L, 40.0, "x")).toDF("k", "price", "tag"), root, "overwrite")
    val cm = GraftTable.columnMapping(root)
    cm("price") shouldBe "v"
    cm("tag") should not be "tag"
    GraftTable.read(spark, root).select($"tag").as[String]
      .head() shouldBe "x"
  }

  test("merge evolve: a schema-evolving upsert widens the table in the " +
    "SAME commit; old rows read typed nulls; type conflicts still fail; " +
    "composes with column mapping via fresh physicals") {
    val root = freshRoot("merge_evolve")
    GraftTable.write(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root, "overwrite")  // v1
    val before = GraftTable.latestVersion(root).get
    GraftTable.merge(spark, root,
      Seq((2L, 22.0, "eu"), (3L, 30.0, "us")).toDF("k", "v", "region"),
      Seq("k"), evolve = true)                                        // v2
    GraftTable.latestVersion(root).get shouldBe before + 1 // one commit
    GraftTable.read(spark, root).orderBy($"k")
      .as[(Long, Double, String)].collect() shouldBe
      Array((1L, 10.0, null), (2L, 22.0, "eu"), (3L, 30.0, "us"))
    // non-evolving merge against the widened schema still type-checks
    (the[IllegalArgumentException] thrownBy GraftTable.merge(spark, root,
      Seq((1L, "oops", "x")).toDF("k", "v", "region"), Seq("k"),
      evolve = true)).getMessage should include("type conflict")
    // on a column-mapped table the evolved column gets a FRESH physical
    GraftTable.renameColumn(root, "v", "price")                       // v3
    GraftTable.merge(spark, root,
      Seq((4L, 40.0, "de", 7L)).toDF("k", "price", "region", "score"),
      Seq("k"), evolve = true)                                        // v4
    GraftTable.columnMapping(root)("score") should not be "score"
    GraftTable.read(spark, root).where($"k" === 4L)
      .select($"price", $"score").as[(Double, Long)].head() shouldBe
      (40.0, 7L)
    GraftTable.read(spark, root).where($"k" === 1L)
      .select($"score").as[java.lang.Long].head() shouldBe null
    // time travel to pre-evolution keeps the narrow schema
    GraftTable.read(spark, root, Some(1L)).columns shouldBe Array("k", "v")
  }

  test("merge evolve preserves target columns the source does not carry " +
    "on matched rows (no silent null-out); inserts still null-fill") {
    val root = freshRoot("merge_evolve_preserve")
    GraftTable.write(spark,
      Seq((1L, 10.0, "eu"), (2L, 20.0, "us")).toDF("k", "v", "region"),
      root, "overwrite")                                              // v1
    // source carries k + a NEW column only — v/region must survive on
    // the matched row (Delta updateAll-with-evolution semantics; the
    // non-evolve path rejects this source loudly, so evolve converting
    // that error into a null-out would be silent data loss)
    GraftTable.merge(spark, root,
      Seq((2L, 7L), (3L, 9L)).toDF("k", "score"), Seq("k"),
      evolve = true)                                                  // v2
    GraftTable.read(spark, root).orderBy($"k")
      .as[(Long, java.lang.Double, String, java.lang.Long)]
      .collect() shouldBe Array(
      (1L, Double.box(10.0), "eu", null), // untouched
      (2L, Double.box(20.0), "us", Long.box(7L)), // matched: v/region KEPT
      (3L, null, null, Long.box(9L))) // insert: honest null fill
    // same contract under merge-on-read (DV path stages post rows only)
    GraftTable.setProperty(root, "deletionVectors", Some("true"))
    GraftTable.merge(spark, root,
      Seq(Tuple2(1L, 5L)).toDF("k", "score"), Seq("k"), evolve = true)
    GraftTable.read(spark, root).where($"k" === 1L)
      .select($"v", $"region", $"score")
      .as[(Double, String, Long)].head() shouldBe (10.0, "eu", 5L)
  }

  test("merge OCC defaults to all-adds-conflict when keys do not pin the " +
    "partition; keysPartitionLocal opts back into partition scoping") {
    val root = freshRoot("occ_keyscope")
    GraftTable.write(spark,
      Seq(("p1", 1L, 10.0), ("p2", 2L, 20.0)).toDF("p", "k", "v"),
      root, "overwrite", partitionBy = Seq("p"))                     // v1
    // merge on k ONLY: its not-matched probe spans every partition, so a
    // raced insert of k=7 into p2 while this merge inserts k=7 into p1
    // would yield duplicate keys — must abort even though the partitions
    // differ
    GraftTable.testRaceHook = () => GraftTable.write(spark,
      Seq(("p2", 7L, 70.0)).toDF("p", "k", "v"), root, "append")     // v2
    (the[GraftTable.ConcurrentWriteException] thrownBy
      GraftTable.merge(spark, root,
        Seq(("p1", 7L, 77.0)).toDF("p", "k", "v"), Seq("k")))
      .getMessage should include("conflicts with a concurrent commit")
    // the caller that KNOWS keys are partition-local (one writer per
    // partition) opts in explicitly and sails past the disjoint add
    GraftTable.testRaceHook = () => GraftTable.write(spark,
      Seq(("p2", 8L, 80.0)).toDF("p", "k", "v"), root, "append")     // v3
    GraftTable.merge(spark, root,
      Seq(("p1", 9L, 90.0)).toDF("p", "k", "v"), Seq("k"),
      keysPartitionLocal = true)                                     // v4
    GraftTable.read(spark, root).select($"k").as[Long]
      .collect().sorted shouldBe Array(1L, 2L, 7L, 8L, 9L)
  }

  test("merge deleteKeys: upsert + companion deletes land as ONE commit " +
    "with exactly-classified CDC; overlapping key sets fail loud") {
    val root = freshRoot("merge_delkeys")
    GraftTable.write(spark,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"),
      root, "overwrite")                                            // v1
    GraftTable.setProperty(root, "changeDataFeed", Some("true"))    // v2
    val before = GraftTable.latestVersion(root).get
    GraftTable.merge(spark, root,
      Seq((1L, 11.0), (9L, 90.0)).toDF("k", "v"), Seq("k"),
      deleteKeys = Some(Seq(Tuple1(2L)).toDF("k")))                 // v3
    GraftTable.latestVersion(root).get shouldBe before + 1 // atomic
    GraftTable.read(spark, root).orderBy($"k")
      .as[(Long, Double)].collect() shouldBe
      Array((1L, 11.0), (3L, 30.0), (9L, 90.0))
    GraftTable.changesWithImages(spark, root, before)
      .select($"k", $"v", $"_change_type")
      .as[(Long, Double, String)].collect().sorted shouldBe Seq(
      (1L, 10.0, "update_preimage"), (1L, 11.0, "update_postimage"),
      (2L, 20.0, "delete"), (9L, 90.0, "insert")).sorted
    // a key in BOTH sets would be order-dependent — rejected
    (the[IllegalArgumentException] thrownBy GraftTable.merge(spark, root,
      Seq((3L, 33.0)).toDF("k", "v"), Seq("k"),
      deleteKeys = Some(Seq(Tuple1(3L)).toDF("k"))))
      .getMessage should include("BOTH")
  }

  test("checkpoint reader-version gate: a checkpoint declaring a newer " +
    "minReader fails loud instead of silently dropping state") {
    val root = freshRoot("ckpt_reader")
    GraftTable.write(spark, Seq((1L, "x")).toDF("k", "s"), root, "overwrite")
    GraftTable.checkpoint(root)
    // plain table: floor 1; DV tables raise it to 2
    val ckpt = Files.list(Paths.get(root, "_graft_log")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".checkpoint.json")).get
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(ckpt))
    node.get("minReader").asInt() shouldBe 1
    // forge a future-feature checkpoint: replay through it must refuse
    val forged = node.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    forged.put("minReader", 99)
    Files.writeString(ckpt, forged.toString)
    // truncate so resolution MUST go through the checkpoint
    Files.deleteIfExists(Paths.get(root, "_graft_log")
      .resolve(f"${1L}%020d.json"))
    (the[IllegalStateException] thrownBy
      GraftTable.read(spark, root).collect())
      .getMessage should include("requires reader version 99")
    // vacuum reads the same checkpoint: it refuses too, deleting nothing
    val before = filesUnder(root)
    (the[IllegalStateException] thrownBy GraftTable.vacuum(root, 0L))
      .getMessage should include("requires reader version 99")
    filesUnder(root) shouldBe before
    // same gate at the LOG level: a protocol action declaring a newer
    // floor refuses replay loud
    val root2 = freshRoot("ckpt_reader2")
    GraftTable.write(spark, Seq((1L, "x")).toDF("k", "s"), root2, "overwrite")
    val log2 = Paths.get(root2, "_graft_log").resolve(f"${2L}%020d.json")
    Files.writeString(log2, """{"protocol":{"minReader":99}}""")
    (the[IllegalStateException] thrownBy
      GraftTable.read(spark, root2).collect())
      .getMessage should include("requires reader version 99")
  }

  test("streaming MV over a DML base: skipChangeCommits paces past the " +
    "change commit and the CDF retraction path keeps the view incremental") {
    val base = freshRoot("mv_str_dml_b"); val mv = freshRoot("mv_str_dml_m")
    GraftTable.write(spark,
      Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v"), base, "overwrite") // v1
    GraftTable.setProperty(base, "changeDataFeed", Some("true"))       // v2
    val yaml =
      s"""name: mvstrdml
         |mode: mv_refresh
         |streaming: true
         |source: {format: graft_table, path: "$base",
         |  options: {skipChangeCommits: "true", maxVersionsPerTrigger: "1"}}
         |mv: {path: "$mv", keys: [k],
         |  aggs: ["count() AS n", "count(v) AS n_v", "sum(v) AS s"]}
         |""".stripMargin
    def run() = PipelineRunner.run(spark, yaml).passed.orderBy($"k")
      .select($"k", $"n", $"n_v", $"s").as[(String, Long, Long, Long)].collect()
    run() shouldBe Array(("a", 2L, 2L, 3L), ("b", 1L, 1L, 5L))
    // a copy-on-write UPDATE lands as a change commit; the stream skips
    // its content (the trigger never delivers change-commit rows) but a
    // later append's batch watermark COVERS it, and refresh consumes the
    // whole range through the signed pre/post-image feed — never a full
    // recompute, never a wrong answer
    GraftTable.updateWhere(spark, base, "k = 'a' AND v = 2",
      Map("v" -> "20"))                                                // v3
    GraftTable.write(spark, Seq(("c", 7L)).toDF("k", "v"), base, "append") // v4
    run() shouldBe Array(("a", 2L, 2L, 21L), ("b", 1L, 1L, 5L), ("c", 1L, 1L, 7L))
    GraftTable.history(spark, mv).orderBy($"version")
      .select($"operation").as[String].collect()
      .count(_ == "OVERWRITE") shouldBe 0 // only the CREATE + MERGEs
    // and the same composition under merge-on-read DML (deletion vectors)
    GraftTable.setProperty(base, "deletionVectors", Some("true"))      // v5
    GraftTable.deleteWhere(spark, base, "k = 'b'")                     // v6 (DV)
    GraftTable.write(spark, Seq(("d", 9L)).toDF("k", "v"), base, "append") // v7
    run() shouldBe Array(("a", 2L, 2L, 21L), ("c", 1L, 1L, 7L), ("d", 1L, 1L, 9L))
  }

  test("materialized view: approx_distinct maintains a mergeable HLL sketch") {
    import graft.tables.MaterializedView
    import graft.tables.MaterializedView.AggSpec
    val base = freshRoot("mv_hll_b"); val mv = freshRoot("mv_hll_m")
    val aggs = Seq(AggSpec("count", "u", "n"),
      AggSpec("approx_distinct", "u", "n_users"))
    def est() = MaterializedView.estimated(
      GraftTable.read(spark, mv), aggs)
      .orderBy($"k").select($"k", $"n_users").as[(String, Long)].collect()
    // create: k=a sees users 1,2 (2 distinct); k=b sees 1
    GraftTable.write(spark,
      Seq(("a", 1L), ("a", 2L), ("a", 1L), ("b", 1L)).toDF("k", "u"),
      base, "overwrite")
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    est() shouldBe Array(("a", 2L), ("b", 1L))
    // incremental: a sees user 2 AGAIN (sketch must not double-count)
    // and user 3 (new); c appears
    GraftTable.write(spark,
      Seq(("a", 2L), ("a", 3L), ("c", 9L)).toDF("k", "u"), base, "append")
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    est() shouldBe Array(("a", 3L), ("b", 1L), ("c", 1L))
    // a base rewrite (merge) forces the full path; the estimate follows
    GraftTable.merge(spark, base, Seq(("b", 7L)).toDF("k", "u"), Seq("k"))
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    est().toMap.apply("a") shouldBe 3L
  }

  test("conditional merge == an independent reference on randomized change sets") {
    forSamples(org.scalacheck.Gen.chooseNum(1, 1000000), n = 5) { seed =>
      def h(i: Long) = (seed * 31L + i * 2654435761L) & 0x7fffffffL
      val root = freshRoot(s"cmerge_prop_$seed")
      val baseRows = (0L until 10L).map(k => (s"k$k", h(k) % 100, h(k + 50)))
      GraftTable.write(spark, baseRows.toDF("k", "ver", "v"), root, "overwrite")
      val updRows = (0L until 13L).filter(k => h(k + 100) % 3 != 0)
        .map(k => (s"k$k", h(k + 200) % 100, h(k + 300)))
      GraftTable.merge(spark, root, updRows.toDF("k", "ver", "v"),
        Seq("k"), condition = Some("s.ver > t.ver"))
      // reference: plain Scala map algebra, no Spark
      val ref = updRows.foldLeft(baseRows.map(r => r._1 -> r).toMap) {
        case (m, u) => m.get(u._1) match {
          case Some(t) if u._2 > t._2 => m + (u._1 -> u)
          case Some(_) => m // stale source drops
          case None => m + (u._1 -> u) // unmatched inserts
        }
      }.values.toSeq.sorted
      GraftTable.read(spark, root).orderBy($"k")
        .as[(String, Long, Long)].collect().toSeq.sorted shouldBe ref
    }
  }

  test("deleteWhere/updateWhere/restore == plain-algebra references on " +
    "randomized multi-file tables") {
    forSamples(org.scalacheck.Gen.chooseNum(1, 1000000), n = 5) { seed =>
      def h(i: Long) = (seed * 31L + i * 2654435761L) & 0x7fffffffL
      val root = freshRoot(s"dml_prop_$seed")
      val rows = (0L until 24L).map(k => (k, h(k) % 50, s"s${h(k + 7) % 5}"))
      rows.grouped(8).zipWithIndex.foreach { case (g, i) =>
        GraftTable.write(spark, g.toSeq.toDF("id", "n", "s").repartition(1),
          root, if (i == 0) "overwrite" else "append")
      }
      def readAll() = GraftTable.read(spark, root)
        .as[(Long, Long, String)].collect().toSeq.sorted
      val cut = h(1000) % 50
      val preDelete = GraftTable.latestVersion(root).get
      GraftTable.deleteWhere(spark, root, s"n < $cut")
      val afterDel = rows.filterNot(_._2 < cut)
      readAll() shouldBe afterDel.sorted
      GraftTable.updateWhere(spark, root, "s = 's1'",
        Map("n" -> "n * 2 + id"))
      val afterUpd = afterDel.map(r =>
        if (r._3 == "s1") (r._1, r._2 * 2 + r._1, r._3) else r)
      readAll() shouldBe afterUpd.sorted
      // restore undoes both DML versions; metadata-only count agrees
      GraftTable.restore(spark, root, preDelete)
      readAll() shouldBe rows.sorted
      GraftTable.rowCount(root) shouldBe 24L
    }
  }

  test("materialized view: refresh == recompute under randomized op sequences") {
    import graft.tables.MaterializedView
    import graft.tables.MaterializedView.AggSpec
    val aggs = Seq(AggSpec("count", "v", "n"), AggSpec("sum", "v", "sum_v"),
      AggSpec("min", "v", "min_v"), AggSpec("max", "v", "max_v"))
    // ops: 0=append new keys, 1=merge-upsert an existing key (forces the
    // full-recompute path on the next refresh), 2=optimize (layout-only,
    // must NOT break incrementality), 3=refresh mid-sequence
    forSamples(org.scalacheck.Gen.listOfN(6,
      org.scalacheck.Gen.chooseNum(0, 3)), n = 4) { ops =>
      val tag = Math.abs(ops.hashCode()).toString
      val base = freshRoot(s"mvp_b$tag"); val mv = freshRoot(s"mvp_m$tag")
      var next = 100L
      def rows(n: Int) = {
        val r = (0 until n).map(i => (s"k${(next + i) % 7}", next + i))
        next += n; r.toDF("k", "v")
      }
      GraftTable.write(spark, rows(5), base, "overwrite")
      ops.foreach {
        case 0 => GraftTable.write(spark, rows(3), base, "append")
        case 1 => GraftTable.merge(spark, base,
          Seq((s"k${next % 7}", next * 10)).toDF("k", "v"), Seq("k"))
        case 2 => GraftTable.optimize(spark, base, targetFiles = 1)
        case 3 => MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
      }
      MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
      val got = GraftTable.read(spark, mv).orderBy($"k")
        .collect().map(_.toSeq).toSeq
      val want = GraftTable.read(spark, base).groupBy($"k")
        .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"),
          min($"v").as("min_v"), max($"v").as("max_v"))
        .orderBy($"k").collect().map(_.toSeq).toSeq
      got shouldBe want
    }
  }

  test("streaming graft_table sink honors evolve: add_nulls per micro-batch") {
    val root = freshRoot("stream_evolve")
    // run 1 created the table with (id, v)
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    // run 2's source grew a column — with evolve: add_nulls the stream
    // widens the table on its first batch instead of failing mid-stream
    // (batch-mode parity: the same YAML in batch mode calls writeEvolve)
    val src = "/tmp/graft_io/acid_evolve_src"
    graft.streaming.StreamOps.rmrf(src)
    Seq((2L, "b", 0.5)).toDF("id", "v", "score")
      .write.mode("overwrite").parquet(src)
    PipelineRunner.run(spark,
      s"""name: acid_stream_evolve
         |mode: streaming
         |source: {format: parquet, path: "$src", schema: auto}
         |transforms: []
         |sink: {format: graft_table, path: "$root", mode: append, evolve: add_nulls}
         |""".stripMargin)
    GraftTable.read(spark, root).columns shouldBe Array("id", "v", "score")
    GraftTable.read(spark, root).orderBy($"id")
      .as[(Long, String, Option[Double])].collect() shouldBe
      Array((1L, "a", None), (2L, "b", Some(0.5)))
    // the widening commit is still txn-stamped (exactly-once protocol)
    val v2 = Files.readAllLines(
      Paths.get(root, "_graft_log", f"${2L}%020d.json")).asScala
    v2.count(_.contains("\"txn\"")) shouldBe 1
    v2.count(_.contains("\"meta\"")) shouldBe 1
  }

  test("staged timestamps are INT64 micros (never the INT96 session default): " +
    "the streaming reader and the skip stats both work on a timestamp column") {
    val root = freshRoot("tsmicro")
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01.000001")),
      (2L, java.sql.Timestamp.valueOf("2024-06-01 12:30:00")))
    GraftTable.write(spark, rows.toDF("id", "ts"), root, "overwrite")
    // the caller's session conf is untouched after staging (still the
    // INT96 Spark default — the pin lives in a session clone)
    spark.conf.get("spark.sql.parquet.outputTimestampType") shouldBe "INT96"
    // physical check: the staged footer says INT64, not INT96
    val dataFile = scala.util.Using.resource(
      Files.list(Paths.get(root, "data")))(_.iterator().asScala.next())
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile.toUri),
        spark.sessionState.newHadoopConf()))
    try {
      val sch = rd.getFooter.getFileMetaData.getSchema
      sch.getType(sch.getFieldIndex("ts"))
        .asPrimitiveType().getPrimitiveTypeName.toString shouldBe "INT64"
    }
    finally rd.close()
    // INT96 recorded no stats; micros do — metadata-only range now exists
    GraftTable.columnRange(root, "ts").isDefined shouldBe true
    // and the streaming file reader (getLong on the column) delivers the
    // exact values instead of throwing mid-batch
    val base = freshRoot("tsmicro_run")
    val q = spark.readStream
      .format("graft.tables.GraftTableStreamSource")
      .option("path", root).load()
      .writeStream
      .option("checkpointLocation", s"$base/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$base/out/b$id"); ()
      }
      .start()
    q.awaitTermination()
    val dirs = scala.util.Using.resource(Files.list(Paths.get(s"$base/out")))(
      _.iterator().asScala.map(_.toString).toSeq.sorted)
    spark.read.parquet(dirs: _*).select($"id", $"ts")
      .as[(Long, java.sql.Timestamp)].collect().toSeq.sortBy(_._1) shouldBe rows
  }

  test("vacuum retention guard: young unreferenced files survive (in-flight " +
    "writer safety); aged debris reclaims; retention 0 disables the guard") {
    val root = freshRoot("vacret")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    // a concurrent writer mid-flight: fresh staged-but-uncommitted debris
    Seq((99L, "ghost")).toDF("id", "v").write
      .parquet(s"$root/_staging_inflight/out")
    Files.copy(
      Paths.get(root, "data").toFile.listFiles().head.toPath,
      Paths.get(root, "data", "inflight_part0.parquet"))
    // default window (7 days): nothing is old enough — the racing
    // writer's files are safe
    GraftTable.vacuum(root) shouldBe empty
    Files.exists(Paths.get(root, "data", "inflight_part0.parquet")) shouldBe true
    // age ONLY the orphan data file past the window → reclaimed; the
    // still-young staging dir continues to survive
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    Files.setLastModifiedTime(Paths.get(root, "data", "inflight_part0.parquet"), old)
    GraftTable.vacuum(root) shouldBe Seq("data/inflight_part0.parquet")
    Files.exists(Paths.get(root, "_staging_inflight")) shouldBe true
    // retention 0 = no guard (offline/test use): the staging dir goes too
    GraftTable.vacuum(root, 0L) shouldBe Seq("_staging_inflight")
    // referenced data was never touched
    GraftTable.read(spark, root).as[(Long, String)].collect() shouldBe
      Array((1L, "a"))
  }

  test("stream checkpoint ahead of the table's history fails loud, not end<start") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("ckahead")
    val base = freshRoot("ckahead_run")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    GraftTable.write(spark, Seq((2L, "b")).toDF("id", "v"), root, "append")
    GraftTable.write(spark, Seq((3L, "c")).toDF("id", "v"), root, "append")
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.tables.GraftTableStreamSource")
        .option("path", root).load()
        .writeStream
        .option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      q.awaitTermination()
    }
    drain() // checkpoint now holds offset 3
    // the table is recreated shorter under the same path (history rewrite)
    val w = Files.walk(Paths.get(root))
    try w.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally w.close()
    GraftTable.write(spark, Seq((9L, "z")).toDF("id", "v"), root, "overwrite")
    (the[org.apache.spark.sql.streaming.StreamingQueryException] thrownBy
      drain()).getMessage should include("ahead of the table")
  }

  test("automatic file skipping: a plain .where() on read() prunes files " +
    "from the logged stats — no rangeCol declaration, vectorized scan") {
    val root = freshRoot("autoskip")
    // range-clustered layout: 10 files, ids contiguous per file
    GraftTable.write(spark,
      spark.range(0, 10000).select($"id", ($"id" % 7).as("v"))
        .repartitionByRange(10, $"id"),
      root, "overwrite")
    val (df, Some(idx)) = GraftTable.readIndexed(spark, root): @unchecked
    // correctness first: the filtered read equals the oracle computation
    val got = df.where("id BETWEEN 2500 AND 3499")
      .agg(count(lit(1)).as("n"), sum($"id").as("s"))
      .as[(Long, Long)].head()
    got shouldBe ((1000L, (2500L to 3499L).sum))
    // the filter REACHED the index: the scan kept a strict subset
    val (kept, total) = idx.lastPrune.get
    total shouldBe 10
    kept should be <= 3 // the 1000-id band spans at most 3 range files
    kept should be >= 1
    // conservative on shapes stats cannot prove: an OR keeps everything
    val (df2, Some(idx2)) = GraftTable.readIndexed(spark, root): @unchecked
    df2.where("id = 1 OR v = 3").count() shouldBe (1 + 10000 / 7 + 1)
    idx2.lastPrune.foreach { case (k, t) => k shouldBe t }
    // string-column stats prune too
    val roots = freshRoot("autoskip_str")
    GraftTable.write(spark,
      spark.range(0, 2600).select(
        concat(lit("k"), format_string("%04d", $"id")).as("k"), $"id")
        .repartitionByRange(4, $"k"),
      roots, "overwrite")
    val (dfs, Some(idxs)) = GraftTable.readIndexed(spark, roots): @unchecked
    dfs.where($"k" === "k0042").count() shouldBe 1L
    idxs.lastPrune.get._1 shouldBe 1
    // the YAML surface: `filter` transform on a graft_table source prunes
    // with NO source option — the ep25 shape, option-free
    val res = PipelineRunner.run(spark,
      s"""name: autoskip_yaml
         |source: {format: graft_table, path: "$root"}
         |transforms:
         |  - {op: filter, expr: "id BETWEEN 9000 AND 9099"}
         |""".stripMargin).passed
    res.count() shouldBe 100L
    val (k2, t2) = GraftTable.lastReadIndex.get.lastPrune.get
    t2 shouldBe 10
    k2 should be <= 2
  }

  test("partitioned layout: hive dirs + logged partitionValues, pruned " +
    "listing, metadata-only drop_partition, DML composes") {
    val root = freshRoot("part")
    def allDataFiles(): Set[String] = {
      val w = Files.walk(Paths.get(root, "data"))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => Paths.get(root, "data").relativize(p).toString).toSet
      finally w.close()
    }
    val df = spark.range(0, 900).select(
      $"id", (($"id" % 3) === 0).cast("string").as("junk"),
      element_at(typedLit(Seq("US", "DE", "JP")), ($"id" % 3 + 1).cast("int"))
        .as("country"))
      .drop("junk")
    GraftTable.write(spark, df, root, "overwrite",
      partitionBy = Seq("country"))
    GraftTable.partitioning(root) shouldBe Seq("country")
    // hive-style dirs, partition columns still IN the data files
    allDataFiles().forall(f => f.matches("country=(US|DE|JP)/.*\\.parquet")) shouldBe true
    GraftTable.read(spark, root).columns should contain("country")
    GraftTable.read(spark, root).count() shouldBe 900L
    // partition-filtered read lists ONLY that partition's files (equality
    // pushes into the index; footer min=max on the partition column)
    val (d1, Some(i1)) = GraftTable.readIndexed(spark, root): @unchecked
    d1.where($"country" === "DE").count() shouldBe 300L
    val deFiles = allDataFiles().count(_.startsWith("country=DE/"))
    i1.lastPrune.get shouldBe ((deFiles, allDataFiles().size))
    // append INHERITS the layout; redeclaring a different one fails
    GraftTable.write(spark,
      Seq((9000L, "US")).toDF("id", "country"), root, "append")
    allDataFiles().count(_.startsWith("country=US/")) should be >= 2
    (the[IllegalArgumentException] thrownBy GraftTable.write(spark,
      Seq((9001L, "US")).toDF("id", "country"), root, "append",
      partitionBy = Seq("id"))).getMessage should include("cannot change")
    // merge keeps composing: rewritten + inserted rows land back in
    // their partitions with logged values
    GraftTable.merge(spark, root,
      Seq((0L, "US"), (9100L, "JP")).toDF("id", "country"), Seq("id"))
    GraftTable.read(spark, root).where($"id" === 9100L)
      .select($"country").as[String].head() shouldBe "JP"
    val filesBeforeDrop = allDataFiles()
    // drop_partition: pure metadata — zero bytes written, files untouched
    val vDrop = GraftTable.dropPartition(root, Map("country" -> "JP"))
    allDataFiles() shouldBe filesBeforeDrop // nothing deleted or written
    val dropLog = Files.readAllLines(
      Paths.get(root, "_graft_log", f"$vDrop%020d.json")).asScala
      .filter(_.nonEmpty)
    dropLog.count(_.contains("\"add\"")) shouldBe 0
    dropLog.count(_.contains("\"remove\"")) should be >= 1
    GraftTable.read(spark, root).where($"country" === "JP").count() shouldBe 0L
    GraftTable.read(spark, root).count() shouldBe 601L // 900-300 US/DE +2
    // time travel still sees JP; vacuum(0) then reclaims it after truncate
    GraftTable.read(spark, root, Some(vDrop - 1))
      .where($"country" === "JP").count() shouldBe 301L
    // no-op and error paths
    GraftTable.dropPartition(root, Map("country" -> "FR")) shouldBe vDrop
    (the[IllegalArgumentException] thrownBy
      GraftTable.dropPartition(root, Map("id" -> "1")))
      .getMessage should include("not a partition column")
    (the[IllegalArgumentException] thrownBy
      GraftTable.dropPartition(freshRoot("part_nope") + "", Map("x" -> "1")))
      .getMessage should include("not a graft_table")
    // optimize preserves the partition dirs; z-order is rejected
    // (assert over the LIVE file set — dropped partitions' files stay on
    // disk for time travel until truncate+vacuum)
    GraftTable.optimize(spark, root, targetFiles = 2)
    GraftTable.snapshot(root).files
      .forall(_.matches("data/country=(US|DE)/.*\\.parquet")) shouldBe true
    GraftTable.read(spark, root).count() shouldBe 601L
    // z-order composes with the partition layout (round 19) — only a
    // PARTITION column as a dimension is rejected (it is already a
    // directory-level constant)
    (the[IllegalArgumentException] thrownBy GraftTable.optimize(spark, root,
      2, zorderBy = Seq("country", "id"))).getMessage should include("z-order")
    // restore carries partition values back: drop US, restore, drop again ok
    val vOpt = GraftTable.latestVersion(root).get
    GraftTable.dropPartition(root, Map("country" -> "US"))
    GraftTable.restore(spark, root, vOpt)
    GraftTable.dropPartition(root, Map("country" -> "US"))
    GraftTable.read(spark, root).select($"country").distinct()
      .as[String].collect() shouldBe Array("DE")
    // the YAML surface: partitioned sink (overwrite) + drop_partition op
    val yroot = freshRoot("part_yaml")
    PipelineRunner.run(spark,
      s"""name: part_sink
         |source: {format: parquet, path: "$sf/nation.parquet", schema: auto}
         |sink: {format: graft_table, path: "$yroot", mode: overwrite,
         |       partitionBy: [n_regionkey]}
         |""".stripMargin)
    GraftTable.partitioning(yroot) shouldBe Seq("n_regionkey")
    PipelineRunner.run(spark,
      s"""name: part_drop
         |mode: maintenance
         |maintenance: {op: drop_partition, path: "$yroot",
         |              partition: {n_regionkey: "0"}}
         |""".stripMargin).passed.where($"n_regionkey" === 0).count() shouldBe 0L
    // parse guards: partition map on foreign ops, missing map, layout
    // knobs on non-overwrite graft sinks
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: b
         |mode: maintenance
         |maintenance: {op: vacuum, path: "$yroot", partition: {a: "1"}}
         |""".stripMargin)).getMessage should include("belongs to drop_partition")
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: b
         |mode: maintenance
         |maintenance: {op: drop_partition, path: "$yroot"}
         |""".stripMargin)).getMessage should include("needs `partition`")
    intercept[IllegalArgumentException](graft.config.PipelineSpec.parse(
      s"""name: b
         |source: {format: parquet, path: "/tmp/x", schema: auto}
         |sink: {format: graft_table, path: "$yroot", mode: append,
         |       partitionBy: [n_regionkey]}
         |""".stripMargin)).getMessage should include("overwrite")
  }

  test("change data feed: pre/post images ride DML commits as cdf/ " +
    "sidecars; uncovered change versions fail loud; vacuum honors refs") {
    val root = freshRoot("cdf")
    GraftTable.write(spark,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"),
      root, "overwrite")                                        // v1
    // property OFF: a delete records no images — the full feed refuses
    GraftTable.deleteWhere(spark, root, "k = 3")                // v2
    (the[IllegalStateException] thrownBy GraftTable
      .changesWithImages(spark, root, 0).collect())
      .getMessage should include("recorded no change data")
    // the plain append-only feed refuses the same version its own way
    GraftTable.setProperty(root, "changeDataFeed", Some("true")) // v3
    GraftTable.tableProperties(root) shouldBe Map("changeDataFeed" -> "true")
    GraftTable.updateWhere(spark, root, "k = 1",
      Map("v" -> "v + 5"))                                      // v4
    GraftTable.merge(spark, root,
      Seq((2L, 99.0), (7L, 70.0)).toDF("k", "v"), Seq("k"))     // v5
    GraftTable.deleteWhere(spark, root, "k = 7")                // v6
    // feed from v3 on: exact classified rows
    val feed = GraftTable.changesWithImages(spark, root, 3)
      .select($"k", $"v", $"_change_type", $"_commit_version")
      .as[(Long, Double, String, Long)].collect().toSeq.sorted
    feed shouldBe Seq(
      (1L, 10.0, "update_preimage", 4L),
      (1L, 15.0, "update_postimage", 4L),
      (2L, 20.0, "update_preimage", 5L),
      (2L, 99.0, "update_postimage", 5L),
      (7L, 70.0, "insert", 5L),
      (7L, 70.0, "delete", 6L)).sorted
    // appends deliver as inserts with no sidecar
    GraftTable.write(spark, Seq((8L, 80.0)).toDF("k", "v"), root, "append")
    GraftTable.changesWithImages(spark, root, 6)
      .select($"k", $"v", $"_change_type", $"_commit_version")
      .as[(Long, Double, String, Long)].collect() shouldBe
      Array((8L, 80.0, "insert", 7L))
    // the CDF timestamp column rides every change row (Delta parity) and
    // matches the logged commit wall-clock of its version
    GraftTable.changesWithImages(spark, root, 6)
      .select($"_commit_timestamp".cast("long")).head().getLong(0) shouldBe
      GraftTable.commitTimestamp(root, 7L) / 1000L
    // cdf files are referenced: vacuum(0) keeps them while logs retain
    // their versions; after truncation they reclaim
    val kept = GraftTable.vacuum(root, 0L)
    kept.count(_.startsWith("cdf/")) shouldBe 0
    Files.list(Paths.get(root, "cdf")).count() should be >= 3L
    GraftTable.truncateHistory(root, 7L)
    GraftTable.vacuum(root, 0L).count(_.startsWith("cdf/")) should be >= 3
    // cdcCoveredSince: history now truncated → not replayable
    GraftTable.cdcCoveredSince(root, 3, 7) shouldBe false
  }

  test("materialized view goes INCREMENTAL under updates/deletes when the " +
    "feed has images and aggs are sum/count; groups die exactly; min " +
    "rides the touched-group merge") {
    import graft.tables.MaterializedView
    import graft.tables.MaterializedView.AggSpec
    val base = freshRoot("mvret")
    val mv = freshRoot("mvret_mv")
    val aggs = Seq(AggSpec("count", "", "n"), AggSpec("count", "v", "n_v"),
      AggSpec("sum", "v", "sum_v"))
    def want() = GraftTable.read(spark, base).groupBy($"k")
      .agg(count(lit(1)).as("n"), count($"v").as("n_v"), sum($"v").as("sum_v"))
      .orderBy($"k").collect().map(_.toSeq).toSeq
    def got() = GraftTable.read(spark, mv).orderBy($"k")
      .collect().map(_.toSeq).toSeq
    def lastMvOp(): String = {
      val h = GraftTable.history(spark, mv)
      h.orderBy($"version".desc).select($"operation").head().getString(0)
    }
    GraftTable.write(spark,
      Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", None),
        ("b", Some(5.0)), ("c", None)).toDF("k", "v"),
      base, "overwrite")
    GraftTable.setProperty(base, "changeDataFeed", Some("true"))
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    got() shouldBe want()
    // an UPDATE no longer forces a full recompute: the refresh consumes
    // signed pre/post images and MERGES — the MV's new version is a
    // keyed merge, not an overwrite
    GraftTable.updateWhere(spark, base, "k = 'a' AND v = 2.0",
      Map("v" -> "v * 10"))
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs).isDefined shouldBe true
    lastMvOp() should not be "OVERWRITE"
    got() shouldBe want()
    // a group dies (all rows deleted) → its MV row is deleted; a sum
    // whose non-null contributions all retract reverts to NULL
    GraftTable.deleteWhere(spark, base, "k = 'b'")        // b: group dead
    GraftTable.deleteWhere(spark, base, "v = 1.0 OR v = 20.0") // a: only null v left
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    lastMvOp() should not be "OVERWRITE"
    got() shouldBe want()
    GraftTable.read(spark, mv).select($"k").as[String].collect().sorted shouldBe
      Array("a", "c")
    GraftTable.read(spark, mv).where($"k" === "a")
      .select($"sum_v").head().isNullAt(0) shouldBe true
    // mixed inserts + retractions in one range still exact
    GraftTable.write(spark, Seq(("d", Some(7.0))).toDF("k", "v"), base, "append")
    GraftTable.updateWhere(spark, base, "k = 'd'", Map("v" -> "v + 1"))
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    got() shouldBe want()
    // an MV with min/max cannot consume the signed delta — but with the
    // feed naming the touched groups it re-derives ONLY those and still
    // MERGES (round-20 touched-group path; the full overwrite survives
    // only when no change images exist at all — pinned in the dedicated
    // min/max MV spec)
    val mv2 = freshRoot("mvret_mv2")
    val aggs2 = aggs :+ AggSpec("min", "v", "min_v")
    MaterializedView.refresh(spark, base, mv2, Seq("k"), aggs2)
    GraftTable.updateWhere(spark, base, "k = 'd'", Map("v" -> "v - 3"))
    MaterializedView.refresh(spark, base, mv2, Seq("k"), aggs2)
    GraftTable.history(spark, mv2).orderBy($"version".desc)
      .select($"operation").head().getString(0) should include("MERGE")
    GraftTable.read(spark, mv2).where($"k" === "d")
      .select($"min_v").as[Double].head() shouldBe 5.0
  }

  test("materialized view COUNT(expr) excludes nulls (SQL semantics), " +
    "incrementally too; count()/count(*) stays COUNT(*)") {
    import graft.tables.MaterializedView
    import graft.tables.MaterializedView.AggSpec
    val base = freshRoot("mvcount")
    val mv = freshRoot("mvcount_mv")
    val aggs = Seq(AggSpec("count", "", "n_rows"),
      AggSpec("count", "x", "n_x"))
    def df(rows: Seq[(String, Option[Long])]) = rows.toDF("k", "x")
    GraftTable.write(spark,
      df(Seq(("a", Some(1L)), ("a", None), ("b", Some(2L)))), base, "overwrite")
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    GraftTable.read(spark, mv).orderBy($"k")
      .as[(String, Long, Long)].collect() shouldBe
      Array(("a", 2L, 1L), ("b", 1L, 1L))
    // incremental: the delta's nulls stay excluded through the merge
    GraftTable.write(spark, df(Seq(("a", None), ("b", Some(5L)))), base, "append")
    MaterializedView.refresh(spark, base, mv, Seq("k"), aggs)
    GraftTable.read(spark, mv).orderBy($"k")
      .as[(String, Long, Long)].collect() shouldBe
      Array(("a", 3L, 1L), ("b", 2L, 2L))
    // matches the from-scratch SQL aggregate exactly
    val want = GraftTable.read(spark, base).groupBy($"k")
      .agg(count(lit(1)).as("n_rows"), count($"x").as("n_x"))
      .orderBy($"k").as[(String, Long, Long)].collect()
    GraftTable.read(spark, mv).orderBy($"k")
      .as[(String, Long, Long)].collect() shouldBe want
  }

  test("bloom stats record their hash domain: a cross-typed string-DML " +
    "predicate never consults the long-built sketch (a cross-domain " +
    "consult would hash differently and WRONGLY skip the matching file)") {
    val root = freshRoot("bloom_domain")
    GraftTable.write(spark, Seq((0L, "seed")).toDF("id", "s"),
      root, "overwrite")                                               // v1
    GraftTable.setProperty(root, "stats_bloom", Some("id"))            // v2
    // round-robin files: every file spans the id range, so only the
    // sketch can prune — exactly the wrong-skip hazard surface
    GraftTable.write(spark,
      (0L to 999L).map(i => (i * 3, s"x${i % 7}")).toDF("id", "s")
        .repartition(2), root, "overwrite")                            // v3
    // the hash domain is logged with the sketch
    Files.readString(Paths.get(root, "_graft_log")
      .resolve(f"${3L}%020d.json")) should include(""""bloomT":"long"""")
    // string-literal point DELETE on the BIGINT column: row evaluation
    // cast-matches id=300, so file pruning must keep the file (the
    // pre-fix bloom consult ran mightContainString against a putLong
    // sketch and pruned it — a silent no-op delete)
    GraftTable.deleteWhere(spark, root, "id = '300'")
    GraftTable.read(spark, root).where(col("id") === 300L)
      .count() shouldBe 0L
    GraftTable.read(spark, root).count() shouldBe 999L
    // matched-type predicates still consult and still skip
    GraftTable.read(spark, root).where(col("id") === 2L).count() shouldBe 0L
    GraftTable.lastReadIndex.get.lastPrune.get._1 should be <
      GraftTable.snapshot(root).files.size
  }

  test("evolve-preserve upsert on duplicate-key targets: ONE post-image " +
    "per key (deterministic first target row by scan position donates " +
    "the preserved columns), matching the non-evolve collapse") {
    val root = freshRoot("evolve_dupkey")
    // one file, so (__f, __i) order is the write order: ("a") precedes ("b")
    GraftTable.write(spark,
      Seq((1L, "a", 10.0), (1L, "b", 20.0), (2L, "c", 30.0))
        .toDF("id", "tag", "v").coalesce(1), root, "overwrite")
    // source misses `tag` (the preserve column) and updates id=1
    GraftTable.merge(spark, root,
      Seq((1L, 99.0), (3L, 40.0)).toDF("id", "v"), Seq("id"),
      evolve = true)
    val out = GraftTable.read(spark, root)
      .orderBy($"id").as[(Long, String, Double)].collect()
    // pre-fix: the preserve join fanned out to TWO id=1 post rows
    out shouldBe Array(
      (1L, "a", 99.0),   // one post-image; tag preserved from the first row
      (2L, "c", 30.0),
      (3L, null, 40.0))  // insert: no target row to preserve
  }

  // ---- small-key merge: driver-held keys stay in the plan ---------------

  /** Poll `n` until it stops changing: listener delivery is async. */
  private def settle(n: => Int): Unit = {
    var last = -1
    var spins = 0
    while (n != last && spins < 20) { last = n; Thread.sleep(200); spins += 1 }
  }

  /** `f`'s result and the Spark jobs it ran, each as the names of the RDDs
    * its stages read from (those without parents). Jobs are told apart by
    * a job group, which staging threads and AQE's broadcast threads
    * inherit. */
  private def withJobs[A](f: => A): (A, Seq[Seq[String]]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(js.stageInfos.flatMap(_.rddInfos.filter(_.parentIds.isEmpty)
            .map(_.name)).distinct)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val out = try f finally spark.sparkContext.clearJobGroup()
      settle(jobs.size)
      (out, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `f`'s result and the rows each `collect` under it returned to the
    * driver, read from the executed plan: a CollectLimit's limit, else
    * the top operator's output-row count. */
  private def collectedRows[A](f: => A): (A, Seq[Long]) = {
    import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution,
      SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def rows(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => rows(a.executedPlan)
      case q: QueryStageExec => rows(q.plan)
      case c: CollectLimitExec => c.limit.toLong
      case w: WholeStageCodegenExec => rows(w.child)
      case p => p.metrics.get("numOutputRows").fold(-1L)(_.value)
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") seen.add(rows(qe.executedPlan))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = f
      settle(seen.size)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a small-key upsert matches its keys in the plan: at most 5 jobs, " +
    "none of them reading only driver-built rows (a key-relation build)") {
    val root = freshRoot("merge_jobs")
    GraftTable.write(spark, (1L to 100L).map(i => (i, s"t$i")).toDF("id", "v")
      .repartition(2), root, "overwrite")
    GraftTable.setProperty(root, "changeDataFeed", Some("true"))
    val (_, jobs) = withJobs(GraftTable.merge(spark, root,
      Seq((5L, "u5"), (500L, "u500")).toDF("id", "v"), Seq("id")))
    withClue(jobs.mkString("\n")) {
      jobs.size should be <= 5
      jobs.filter(_.forall(_ == "ParallelCollectionRDD")) shouldBe empty
    }
    GraftTable.read(spark, root).where($"id" === 5L || $"id" === 500L)
      .orderBy($"id").as[(Long, String)].collect() shouldBe
      Array((5L, "u5"), (500L, "u500"))
    GraftTable.read(spark, root).count() shouldBe 101L
  }

  test("small- and large-key merges agree on join equality: null keys, " +
    "-0.0 = 0.0, NaN = NaN, binary by value, a two-column key, deleteKeys") {
    val big = 70000L // past LocalKeyCap: large-key mode
    // `dup` repeats an upsert key under SQL grouping, which the MERGE law rejects
    final case class Case(name: String, on: Seq[String],
        table: org.apache.spark.sql.DataFrame, ups: org.apache.spark.sql.DataFrame,
        dels: Option[org.apache.spark.sql.DataFrame],
        dup: Option[org.apache.spark.sql.DataFrame],
        extra: Seq[org.apache.spark.sql.Column], want: Seq[(String, String)])
    val cases = Seq(
      Case("null keys", Seq("k"),
        Seq((None, "t0"), (Some(1L), "t1"), (Some(2L), "t2")).toDF("k", "v"),
        Seq((None, "u0"), (Some(1L), "u1"), (Some(3L), "u3")).toDF("k", "v"),
        None, Some(Seq((None: Option[Long], "x")).toDF("k", "v")),
        Seq(($"id" + 1000000L).as("k")),
        Seq("null" -> "t0", "null" -> "u0", "1" -> "u1", "2" -> "t2", "3" -> "u3")),
      Case("-0.0 = 0.0", Seq("k"),
        Seq((0.0, "t0"), (1.5, "t1")).toDF("k", "v"),
        Seq((-0.0, "u0"), (2.5, "u2")).toDF("k", "v"),
        None, Some(Seq((0.0, "x")).toDF("k", "v")),
        Seq(($"id".cast("double") + 1e6).as("k")),
        Seq("0.0" -> "u0", "1.5" -> "t1", "2.5" -> "u2")),
      Case("NaN = NaN", Seq("k"),
        Seq((Double.NaN, "t0"), (1.0, "t1")).toDF("k", "v"),
        Seq((Double.NaN, "u0"), (2.0, "u2")).toDF("k", "v"),
        None, Some(Seq((Double.NaN, "x")).toDF("k", "v")),
        Seq(($"id".cast("double") + 1e6).as("k")),
        Seq("NaN" -> "u0", "1.0" -> "t1", "2.0" -> "u2")),
      Case("binary", Seq("k"),
        Seq((Array[Byte](1, 2), "t0"), (Array[Byte](3), "t1")).toDF("k", "v"),
        Seq((Array[Byte](1, 2), "u0"), (Array[Byte](9), "u9")).toDF("k", "v"),
        None, Some(Seq((Array[Byte](1, 2), "x")).toDF("k", "v")),
        Seq(concat(lit("x"), $"id".cast("string")).cast("binary").as("k")),
        Seq("[1,2]" -> "u0", "[3]" -> "t1", "[9]" -> "u9")),
      Case("two-column key", Seq("a", "b"),
        Seq((1L, "a", "t0"), (1L, "b", "t1"), (2L, "a", "t2"), (2L, null, "tn"))
          .toDF("a", "b", "v"),
        Seq((1L, "b", "u1"), (2L, "b", "u3"), (2L, null, "un")).toDF("a", "b", "v"),
        None, Some(Seq((1L, "b", "x")).toDF("a", "b", "v")),
        Seq(($"id" + 1000000L).as("a"), lit("x").as("b")),
        Seq("1|a" -> "t0", "1|b" -> "u1", "2|a" -> "t2", "2|null" -> "tn",
          "2|null" -> "un", "2|b" -> "u3")),
      Case("upsert + deleteKeys", Seq("k"),
        Seq((Some(1L), "t1"), (Some(2L), "t2"), (Some(3L), "t3"), (None, "tn"))
          .toDF("k", "v"),
        Seq((Some(1L), "u1"), (Some(4L), "u4"), (None, "un")).toDF("k", "v"),
        // a null delete key deletes nothing and collides with no upsert key
        Some(Seq(Some(2L), None).toDF("k")), None,
        Seq(($"id" + 1000000L).as("k")),
        Seq("1" -> "u1", "3" -> "t3", "4" -> "u4", "null" -> "tn", "null" -> "un")))
    def show(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case d: Double => if (d.isNaN) "NaN" else (d + 0.0).toString // -0.0 as 0.0
      case x => x.toString
    }
    for (c <- cases; large <- Seq(false, true)) withClue(s"${c.name}, " +
      s"${if (large) "large" else "small"} mode: ") {
      val extra = Option.when(large)(spark.range(big)
        .select(c.extra :+ lit("big").as("v"): _*))
      def upsOf(df: org.apache.spark.sql.DataFrame) = extra.fold(df)(df.unionByName(_))
      val root = freshRoot(s"merge_eq_${c.name.filter(_.isLetter)}_$large")
      GraftTable.write(spark, c.table.coalesce(1), root, "overwrite")
      c.dup.foreach(d => (the[IllegalArgumentException] thrownBy
        GraftTable.merge(spark, root, upsOf(c.ups.unionByName(d)), c.on))
        .getMessage should include("duplicate"))
      GraftTable.merge(spark, root, upsOf(c.ups), c.on, deleteKeys = c.dels)
      val out = GraftTable.read(spark, root)
      out.where($"v" =!= "big").collect().map(r =>
        (c.on.indices.map(i => show(r.get(i))).mkString("|"), r.getString(c.on.size)))
        .sorted.toSeq shouldBe c.want.sorted
      out.where($"v" === "big").count() shouldBe (if (large) big else 0L)
    }
  }

  test("merge census is bounded: a >64k-key upsert with one duplicate " +
    "fails with at most LocalKeyCap + 1 key rows collected") {
    val root = freshRoot("merge_bigdup")
    GraftTable.write(spark, Seq((1L, "a")).toDF("id", "v"), root, "overwrite")
    val ups = spark.range(70000L).select($"id", lit("u").as("v"))
      .unionByName(Seq((69999L, "dup")).toDF("id", "v"))
    val (err, rows) = collectedRows(the[IllegalArgumentException] thrownBy
      GraftTable.merge(spark, root, ups, Seq("id")))
    err.getMessage should include("duplicate")
    err.getMessage should include("69999")
    rows should not be empty
    rows.max should be <= (GraftTable.LocalKeyCap + 1).toLong
    GraftTable.latestVersion(root) shouldBe Some(1L)
  }

  test("merge census is bounded: 10 upsert keys beside 70,000 delete keys " +
    "keep the delete keys distributed") {
    val root = freshRoot("merge_bigdel")
    GraftTable.write(spark, (1L to 20L).map(i => (i, s"t$i")).toDF("id", "v"),
      root, "overwrite")
    val (_, rows) = collectedRows(GraftTable.merge(spark, root,
      (1L to 10L).map(i => (i, s"u$i")).toDF("id", "v"), Seq("id"),
      deleteKeys = Some(spark.range(11L, 70011L).toDF("id"))))
    rows should not be empty
    rows.max should be <= (GraftTable.LocalKeyCap + 1).toLong
    GraftTable.read(spark, root).orderBy($"id").as[(Long, String)].collect() shouldBe
      (1L to 10L).map(i => (i, s"u$i")).toArray
    // a key in both sets is still rejected with the delete keys distributed
    (the[IllegalArgumentException] thrownBy GraftTable.merge(spark, root,
      Seq((5L, "x")).toDF("id", "v"), Seq("id"),
      deleteKeys = Some(spark.range(0L, 70000L).toDF("id"))))
      .getMessage should include("BOTH")
  }

  test("staging plans a raw file source from its analyzed plan: a file " +
    "added after the read is not written, and no listing job re-runs") {
    val root = freshRoot("rawsrc")
    val src = freshRoot("rawsrc_in")
    val more = freshRoot("rawsrc_more")
    // a local-zone TIMESTAMP column, so staging still pins its parquet type
    // on a session clone
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, ts), (2L, ts)).toDF("id", "ts").coalesce(1).write.parquet(src)
    val df = spark.read.parquet(src)
    Seq((3L, ts)).toDF("id", "ts").coalesce(1).write.parquet(more)
    val late = scala.util.Using.resource(Files.list(Paths.get(more)))(
      _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
    Files.move(late, Paths.get(src, "late.parquet"))
    df.count() shouldBe 2L
    val (_, jobs) = withJobs(GraftTable.write(spark, df, root, "overwrite"))
    GraftTable.read(spark, root).count() shouldBe 2L
    withClue(jobs.mkString("\n")) { jobs.size shouldBe 1 }
  }
}
