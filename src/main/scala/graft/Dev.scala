package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev utility over the query registry, on the Bench session config
  * (`local[$SPARK_GRAFT_CPUS]`, default 32, via [[core.Session]]) so the
  * plans shown are the benched plans:
  *
  *   graft.Dev show <query> [sfDir]          run one query and .show() it
  *   graft.Dev show --parquet <path>         print a parquet file (e.g. Verify output)
  *   graft.Dev explain <q1,q2,...> [sfDir] [outDir suffix]
  *       formatted physical plans to stdout, or one file per query,
  *       `<outDir>/<query>_<suffix>.txt` (the before/after plan evidence
  *       the optimization rounds commit under `plans/rNN/`)
  *   graft.Dev plans [sfDir] [outFile]
  *       the headline-query plan markdown (`PLANS_rNN.md`); `PlanSpec`
  *       pins the load-bearing properties, this file shows the full plans
  */
object Dev {
  private val headline = Seq(
    "pricing_summary",     // scan + filter pushdown + two-phase agg
    "d1_broadcast_join",   // pinned broadcasts
    "d2_sortmerge_join",   // big-big shuffle join under AQE
    "d7_asof_join",        // single-shuffle window construction
    "e6_rollup",           // Expand + two-phase agg
    "f3_running_sum",      // partitioned window
    "g2_ordered_limit",    // TakeOrderedAndProject
    "j5_tfidf",            // explode + two aggs + join
    "k4_topk_search",      // broadcast cross + TakeOrdered
    "k6_minhash_lsh",      // band self-join + distinct
    "k8_simhash",          // map-only fused graft_simhash + banded self-join
    "k9_srp_ann",          // fused graft_srp_sig + hamming-probe broadcast
    "g4_zorder_cluster",   // Morton bit algebra inside one codegen stage
    "j15_unigram_logprob", // tf shrink + shuffle vocab join + int-sum agg
    "ep16_config_scd2",    // single-join SCD2: one outer join + Generate
    "ep1_config_pipeline", // full YAML pipeline plan
    "g5_corpus_shuffle",   // range-partitioned sort on the seeded md5 key
    "j16_token_budget",    // distributed prefix sum: bucketed window + bcast offsets
    "j17_chunk_dedup",     // chunk window + doc window sharing one exchange
    "d10_snapshot_diff",   // one full-outer SMJ + row-local classification
    "k13_embed_quantize",  // agg-only params + broadcast map-only apply
    "j18_bpe_tokenize",    // broadcast merge table + map-only codegen apply
    "j19_window_dedup",    // window explode + one keyed election shuffle
    "ep20_config_acid_merge", // touched-file semi-join + file-pruned rewrite
    "tq3_shipping_priority",  // dim-filter → fact joins → TakeOrdered top-k
    "tq5_local_supplier_volume", // 6-table snowflake, cross-arm predicate
    "tq18_large_volume_customer", // HAVING subquery as shuffle semi-join
    "ev1_sessionize",         // two windows + rollup on ONE user_id exchange
    "ev2_funnel",             // per-stage partial aggs, no raw-event window
    "ep23_config_sessionize", // the same shape from YAML
    "ep25_graft_skipping",    // log-stat file pruning + residual filter
    "tq19_disjunctive_revenue", // cross-table OR: equi-join + CNF residue
    "tq22_sales_opportunity", // broadcast scalar cut + left-anti probe
    "k14_fuzzy_blocked_join", // ER blocking: equi-join key + levenshtein verify
    "ep26_config_version_diff", // time-traveled snapshots -> full-outer CDC
    "ep36_dv_dml",           // merge-on-read read: in-scan graft_dv_live, no join
    "ep37_column_mapping",   // renamed table: physical scan + logical project
    "ep38_catalog_table",    // DSv2 catalog read: V1Scan over GraftFileIndex
    "ep39_config_span_dedup", // span_dedup op: K-token windows, shared plan
    "i4_math",               // round-21 sort-first: derive above the exchange
    "b6_cast_conform",       // round-21 sort-first
    "c12_profile_summary")   // round-21: per-column profile, no Expand

  /** The repository's fixture data root (TESTDATA.md). */
  private val testdata = "/root/testdata"

  private val usage =
    "usage: graft.Dev show <query> [sfDir] | show --parquet <path> | " +
      "explain <q1,q2,...> [sfDir] [outDir suffix] | plans [sfDir] [outFile]"

  private def explain(spark: SparkSession, name: String, sfDir: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val spark = core.Session.local(core.Session.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    try args.toSeq match {
      case Seq("show", "--parquet", path) =>
        val df = spark.read.parquet(path)
        df.printSchema()
        df.show(50, truncate = false)
      case Seq("show", name, rest @ _*) if rest.length <= 1 =>
        SparkEntry.queries(name)(spark, rest.headOption.getOrElse(s"$testdata/sf0.001"))
          .show(50, truncate = false)
      case Seq("explain", list, rest @ _*) if Set(0, 1, 3)(rest.length) =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
        val sfDir = rest.headOption.getOrElse(s"$testdata/sf0.1")
        rest.drop(1) match {
          case Seq(outDir, suffix) =>
            Files.createDirectories(Paths.get(outDir))
            names.foreach { name =>
              val f = Paths.get(outDir).resolve(s"${name}_$suffix.txt")
              Files.writeString(f, explain(spark, name, sfDir))
              println(s"wrote $f")
            }
          case _ => names.foreach(name => print(s"== $name ==\n${explain(spark, name, sfDir)}"))
        }
      case Seq("plans", rest @ _*) if rest.length <= 2 =>
        val sfDir = rest.headOption.getOrElse(s"$testdata/sf0.1")
        val sb = new StringBuilder
        sb.append(s"# Formatted physical plans (headline queries, $sfDir)\n\n")
        sb.append("Generated by `graft.Dev plans`. Load-bearing plan properties are\n")
        sb.append("additionally pinned as tests in `PlanSpec`.\n")
        headline.foreach { name =>
          sb.append(s"\n## $name\n\n```\n${explain(spark, name, sfDir)}```\n")
        }
        rest.lift(1) match {
          case Some(out) =>
            Files.writeString(Paths.get(out), sb.toString)
            println(s"wrote $out")
          case None => print(sb)
        }
      case _ =>
        System.err.println(usage)
        System.err.println(s"queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    } finally spark.stop()
  }
}
