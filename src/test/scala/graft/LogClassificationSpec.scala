package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.tables.GraftTable

/** Pins how the log classifies each kind of commit: the change-feed
  * predicates, the stream source's per-version delta, whether the full
  * change feed can replay the version, and DESCRIBE HISTORY's operation.
  * One table walks through every commit kind; each version is then
  * classified on its own, `(v - 1, v]`. */
class LogClassificationSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_io/logclass_$name"
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
    root
  }

  /** (appendOnly, cdcCovered, changedExisting, data adds, cdc files,
    * images replay, history operation) of version `v` alone. A truncated
    * version has no delta and no history row: those read as -1 / "". */
  private def classify(root: String, v: Long) = {
    val delta = Try(GraftTable.versionDeltas(root, v - 1, v).head).toOption
    val ops = GraftTable.history(spark, root).where($"version" === v)
      .select("operation").as[String].collect()
    (GraftTable.appendOnlySince(root, v - 1, v),
      GraftTable.cdcCoveredSince(root, v - 1, v),
      delta.map(_._4),
      delta.fold(-1)(_._2.size), delta.fold(-1)(_._3.size),
      Try(GraftTable.changesWithImages(spark, root, v - 1, Some(v))).isSuccess,
      ops.headOption.getOrElse(""))
  }

  test("each commit kind classifies the same in every log reader") {
    val root = freshRoot("kinds")
    def rows(ks: Seq[Long], p: String) = ks.map(k => (p, k, k * 10)).toDF("p", "k", "v")
    GraftTable.write(spark, rows(1L to 4L, "a").unionByName(rows(5L to 8L, "b")),
      root, "overwrite", partitionBy = Seq("p"))                       // v1
    GraftTable.write(spark, rows(Seq(9L), "a"), root, "append")         // v2
    GraftTable.appendBatch(spark, rows(Seq(10L), "a"), root, "app", 0L) // v3
    GraftTable.optimize(spark, root, 1)                                 // v4
    GraftTable.merge(spark, root, rows(Seq(1L), "a")
      .withColumn("v", $"v" + 1), Seq("k"))                             // v5
    GraftTable.setProperty(root, "deletionVectors", Some("true"))       // v6
    GraftTable.deleteWhere(spark, root, "k = 2")                        // v7
    GraftTable.setProperty(root, "changeDataFeed", Some("true"))        // v8
    GraftTable.updateWhere(spark, root, "k = 3", Map("v" -> "v + 1"))   // v9
    GraftTable.write(spark, rows(Seq(1L), "a").unionByName(rows(Seq(5L), "b")),
      root, "overwrite")                                                // v10
    GraftTable.restore(spark, root, 9L)                                 // v11
    GraftTable.dropPartition(root, Map("p" -> "b"))                     // v12
    GraftTable.latestVersion(root) shouldBe Some(12L)

    val T = true; val F = false
    (1L to 12L).map(v => v -> classify(root, v)) shouldBe Seq(
      1L -> (T, T, Some(F), 8, 0, T, "CREATE"),
      2L -> (T, T, Some(F), 1, 0, T, "APPEND"),
      3L -> (T, T, Some(F), 1, 0, T, "STREAMING APPEND"),
      4L -> (T, T, Some(F), 0, 0, T, "OPTIMIZE"),
      5L -> (F, F, Some(T), 2, 0, F, "MERGE"),        // copy-on-write
      6L -> (T, T, Some(F), 0, 0, T, "SET PROPERTY"),
      7L -> (F, F, Some(T), 0, 0, F, "MERGE"),        // merge-on-read
      8L -> (T, T, Some(F), 0, 0, T, "SET PROPERTY"),
      9L -> (F, T, Some(T), 1, 2, T, "MERGE"),        // DML with images
      10L -> (F, F, Some(T), 2, 0, F, "OVERWRITE"),
      11L -> (F, F, Some(T), 4, 0, F, "OVERWRITE"),   // restore
      12L -> (F, F, Some(T), 0, 0, F, "MERGE"))       // drop_partition
    // a truncated version: the predicates say false, the delta and the
    // full feed refuse it, history has no row for it
    GraftTable.truncateHistory(root, 1L)
    classify(root, 1L) shouldBe ((F, F, None, -1, -1, F, ""))
    Try(GraftTable.versionDeltas(root, 0L, 1L)).failed.get.getMessage should
      include("version 1's log was truncated")
  }
}
