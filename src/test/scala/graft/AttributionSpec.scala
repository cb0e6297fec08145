package graft

import org.apache.spark.sql.functions._

import graft.core.{Attribution, Checkpoints}
import graft.queries.Similarity
import graft.tables.GraftTable

/** Pins the stage names each instrumented call records in
  * `core.Attribution` — the keys `perfbench/measure.py` and the bench's
  * gate line read (`verify_*`, `cc_round` with its `_n` count,
  * `edges_sym`, `collapse_keys`, `expand`, `merge_*`). A renamed,
  * dropped or double-recorded stage fails here. */
class AttributionSpec extends SparkSpecBase {
  import spark.implicits._

  /** Keys of the snapshot JSON, in recording order. */
  private def keys(): Seq[String] =
    "\"([a-z_]+)\":".r.findAllMatchIn(Attribution.snapshotJson()).map(_.group(1)).toSeq

  private def recorded(f: => Unit): Seq[String] = {
    Attribution.clear()
    try { f; keys() } finally Attribution.clear()
  }

  // two near-dup pairs (Jaccard 9/11), one exact duplicate, one singleton
  private lazy val docs = Seq(
    1L -> "a b c d e f g h i j", 2L -> "a b c d e f g h i k",
    3L -> "a b c d e f g h i j", 4L -> "p q r s t u v w x y",
    5L -> "p q r s t u v w x z", 6L -> "lonely words only here")
    .toDF("doc_id", "text")
    .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts"))

  private def clusters(): Seq[String] = recorded {
    val out = Similarity.lshClusters(docs, threshold = 0.8, bucketCap = 4096)
    out.collect().length shouldBe 6
    Checkpoints.release(out)
  }

  test("lshClusters records the clustering stage set") {
    clusters() shouldBe Seq(
      "collapse_keys", "cand_bands", "cand_pairs", "candidates",
      "verify_encode", "verify_force", "edges_sym", "cc_round", "cc_round_n",
      "expand")
  }

  test("a small-key GraftTable.merge records census, probe, stage and commit") {
    val root = "/tmp/graft_io/attribution_merge"
    graft.streaming.StreamOps.rmrf(root)
    GraftTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root,
      "overwrite")
    recorded {
      GraftTable.merge(spark, root, Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
        Seq("id"))
    } shouldBe Seq("merge_census", "merge_probe", "merge_stage", "merge_commit")
    graft.streaming.StreamOps.rmrf(root)
  }

  test("deleteWhere and updateWhere record probe, stage and commit") {
    val root = "/tmp/graft_io/attribution_dml"
    graft.streaming.StreamOps.rmrf(root)
    GraftTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root,
      "overwrite")
    recorded(GraftTable.deleteWhere(spark, root, "id = 1")) shouldBe
      Seq("delete_where_probe", "delete_where_stage", "delete_where_commit")
    recorded(GraftTable.updateWhere(spark, root, "id = 2", Map("v" -> "'B'"))) shouldBe
      Seq("update_where_probe", "update_where_stage", "update_where_commit")
    graft.streaming.StreamOps.rmrf(root)
  }
}
