package graft

import graft.config._
import graft.pipeline.PipelineRunner

/** §2.A5 config model + EP1 interpreter semantics (SURVEY §5.2 item 3). */
class ConfigPipelineSpec extends SparkSpecBase {

  test("A5: jdbc source is representable in config without a driver") {
    val spec = PipelineSpec.parse(
      """name: jdbc_demo
        |source: {format: jdbc, options: {url: "jdbc:postgresql://h/db", dbtable: t}}
        |""".stripMargin)
    spec.source.format shouldBe "jdbc"
    spec.source.options("dbtable") shouldBe "t"
  }

  test("A5: jdbc executes end-to-end against in-process Derby, 4-partition parallel read") {
    import org.apache.spark.sql.functions.col
    import graft.core.Tables
    System.setProperty("derby.system.home", "/tmp/graft_io/derby")
    val url = "jdbc:derby:memory:graft_spec;create=true"
    val nation = Tables.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    nation.write.format("jdbc")
      .option("url", url).option("dbtable", "SPEC_NATION")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .mode("overwrite").save()
    // read back through the config surface with the cluster-scale option
    // set: partitionColumn splits the scan into numPartitions range-bound
    // SELECTs (one connection each) — the shape a 100 TB extract needs
    val yaml =
      s"""name: jdbc_exec
         |source:
         |  format: jdbc
         |  options: {url: "$url", dbtable: SPEC_NATION,
         |            driver: org.apache.derby.jdbc.EmbeddedDriver,
         |            partitionColumn: n_nationkey, lowerBound: "0",
         |            upperBound: "25", numPartitions: "4"}
         |transforms:
         |  - {op: filter, expr: "n_regionkey >= 2"}
         |  - {op: sort, cols: [n_nationkey]}
         |""".stripMargin
    // the SCAN itself fans out 4 ways (the sort downstream reshuffles, so
    // assert at the source, before transforms)
    PipelineRunner.read(spark, PipelineSpec.parse(yaml).source)
      .rdd.getNumPartitions shouldBe 4
    val r = PipelineRunner.run(spark, yaml)
    def norm(x: org.apache.spark.sql.Row) =
      (x.getAs[Number](0).longValue, x.getString(1), x.getAs[Number](2).longValue)
    val got = r.passed.collect().map(norm)
    val want = nation.where(col("n_regionkey") >= 2).orderBy(col("n_nationkey"))
      .collect().map(norm)
    got shouldBe want
    want.length should be > 0
  }

  test("EP13: quality_filter and decontaminate variants (tag/flag), streaming posture") {
    import org.apache.spark.sql.functions.col
    // tag variant: every row kept, scored
    val tagged = PipelineRunner.run(spark,
      s"""name: qf_tag
         |source: {format: parquet, path: "$sf/documents.parquet"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: quality_filter, cols: [toks], name: dup_frac}
         |""".stripMargin).passed
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    tagged.count() shouldBe total
    tagged.where(col("dup_frac") < 0.0 || col("dup_frac") > 1.0).count() shouldBe 0
    // the tag is j13's dup_word_frac on every doc j13 scores (2+ tokens)
    def byDoc(df: org.apache.spark.sql.DataFrame, c: String): Map[Long, Double] =
      df.select(col("doc_id"), col(c)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    byDoc(tagged.where(org.apache.spark.sql.functions.size(col("toks")) >= 2),
      "dup_frac") shouldBe byDoc(graft.queries.TextOps2.j13.build(spark, sf), "dup_word_frac")
    // filter variant drops exactly the rows over the bar
    val kept = PipelineRunner.run(spark,
      s"""name: qf_filter
         |source: {format: parquet, path: "$sf/documents.parquet"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: quality_filter, cols: [toks], threshold: 0.5}
         |""".stripMargin).passed
    kept.count() shouldBe tagged.where(col("dup_frac") <= 0.5).count()
    // decontaminate flag variant marks, never drops; flagged ⊆ corpus
    val flagged = PipelineRunner.run(spark,
      s"""name: decon_flag
         |source: {format: parquet, path: "$sf/documents.parquet"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: filter, expr: "doc_id >= 20"}
         |  - {op: decontaminate, cols: [doc_id, toks], k: 5, name: hit,
         |     where: "doc_id < 20",
         |     table: {format: parquet, path: "$sf/documents.parquet"}}
         |""".stripMargin).passed
    flagged.count() shouldBe (total - 20)
    // given j12's fixed arguments (5-grams, doc_id < 20 as the benchmark)
    // the flag marks exactly j12's contaminated docs
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    ids(flagged.where(col("hit"))) shouldBe ids(graft.queries.TextOps2.j12.build(spark, sf))
    // drop variant removes exactly the flagged rows
    val cleaned = PipelineRunner.run(spark,
      s"""name: decon_drop
         |source: {format: parquet, path: "$sf/documents.parquet"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: filter, expr: "doc_id >= 20"}
         |  - {op: decontaminate, cols: [doc_id, toks], k: 5,
         |     where: "doc_id < 20",
         |     table: {format: parquet, path: "$sf/documents.parquet"}}
         |""".stripMargin).passed
    cleaned.count() shouldBe flagged.where(!col("hit")).count()
    // decontaminate streams per micro-batch since round 16 (stateless-
    // exact: per-doc verdict, one doc per row) — the streaming route must
    // reproduce the batch drop count (StreamingOpsSpec covers multi-batch
    // equality; this pins the config posture end-to-end)
    val deconStreamed = PipelineRunner.run(spark,
      s"""name: decon_stream
         |mode: streaming
         |source: {format: parquet, path: "$sf",
         |         options: {pathGlobFilter: "documents.parquet"},
         |         schema: "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}
         |transforms:
         |  - {op: filter, expr: "doc_id >= 20"}
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: decontaminate, cols: [doc_id, toks], k: 5,
         |     where: "doc_id < 20",
         |     table: {format: parquet, path: "$sf/documents.parquet"}}
         |""".stripMargin).passed
    deconStreamed.count() shouldBe cleaned.count()
    val streamed = PipelineRunner.run(spark,
      s"""name: qf_stream
         |mode: streaming
         |source: {format: parquet, path: "$sf",
         |         options: {pathGlobFilter: "documents.parquet"},
         |         schema: "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: quality_filter, cols: [toks], threshold: 0.5}
         |""".stripMargin).passed
    streamed.count() shouldBe kept.count()
  }

  test("EP3: `schema: auto` streams both events ts encodings to identical values") {
    // The round-13 drift class: the same logical events under the two
    // physical ts encodings the driver has shipped (TIMESTAMP(NANOS) vs
    // TIMESTAMP(MICROS); checked-in 5-row samples — see FixturesSpec). A
    // streaming config pipeline with `schema: auto` plus a probe-chosen
    // derive must produce value-identical output over either file; a
    // hard-coded DDL string is exactly what silently mis-read micros as
    // nanos longs in round 13.
    import java.nio.file.{Files, StandardCopyOption}
    def sampleDir(name: String): String = {
      val dir = Files.createTempDirectory(s"graft_cfg_$name")
      val in = getClass.getResourceAsStream(s"/fixtures/$name.parquet")
      require(in != null, s"missing test resource fixtures/$name.parquet")
      try Files.copy(in, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      dir.toString
    }
    def run(dir: String): Map[Long, String] = {
      val tsExpr =
        if (graft.core.Tables.eventsTsIsLong(spark, dir))
          "CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"
        else "CAST(ts AS TIMESTAMP_NTZ)"
      PipelineRunner.run(spark,
        s"""name: auto_stream
           |mode: streaming
           |source: {format: parquet, path: "$dir",
           |  schema: auto,
           |  options: {pathGlobFilter: "events.parquet"}}
           |transforms:
           |  - {op: derive, name: event_ts, expr: "$tsExpr"}
           |  - {op: select, cols: [event_id, event_ts]}
           |""".stripMargin).passed
        .collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    }
    val nanos = run(sampleDir("events_nanos"))
    val micros = run(sampleDir("events_micros"))
    nanos.size shouldBe 5
    nanos shouldBe micros
    // a declared-DDL pipeline still works when the declaration is RIGHT
    // (micros file, timestamp_ntz declared) — auto is a superset, not a
    // replacement
    val declared = PipelineRunner.run(spark,
      s"""name: ddl_stream
         |mode: streaming
         |source: {format: parquet, path: "${sampleDir("events_micros")}",
         |  schema: "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
         |  options: {pathGlobFilter: "events.parquet"}}
         |transforms:
         |  - {op: derive, name: event_ts, expr: "CAST(ts AS TIMESTAMP_NTZ)"}
         |  - {op: select, cols: [event_id, event_ts]}
         |""".stripMargin).passed
      .collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    declared shouldBe micros
  }

  test("EP13: redact streams identically to batch (map-only regexp chain)") {
    // same YAML body, batch vs streaming — redact is a pure projection so
    // the claim "streams fine" must mean VALUE-identical output, not just
    // running without error
    val body =
      s"""source: {format: parquet, path: "$sf",
         |         options: {pathGlobFilter: "documents.parquet"},
         |         schema: "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}
         |transforms:
         |  - {op: redact, cols: [text], values: ["NUM:[0-9]+", "VOWELRUN:[aeiou]{2,}"]}
         |""".stripMargin
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = byId(PipelineRunner.run(spark, s"name: red_b\n$body").passed)
    val stream = byId(PipelineRunner.run(spark, s"name: red_s\nmode: streaming\n$body").passed)
    stream.size shouldBe batch.size
    stream shouldBe batch
    // and the redaction really fired: no digit survives in any output row
    batch.values.exists(_.matches(".*[0-9].*")) shouldBe false
  }

  test("EP13: redact scrubs PII patterns in declared order, in place or to a new column") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_redact").toString
    Seq((1L, "mail a.user+x@corp.example.com or dial +1 555-0100 88 today"),
        (2L, "no pii here"))
      .toDF("id", "txt").write.mode("overwrite").parquet(tmp)
    val r = PipelineRunner.run(spark,
      s"""name: redact_demo
         |source: {format: parquet, path: "$tmp"}
         |transforms:
         |  - {op: redact, cols: [txt], name: clean, values:
         |     ["EMAIL:[a-z0-9.+-]+@[a-z0-9.-]+", "PHONE:\\\\+?[0-9][0-9 -]{7,}[0-9]"]}
         |  - {op: sort, cols: [id]}
         |""".stripMargin).passed
    val rows = r.orderBy(col("id")).collect()
    rows(0).getAs[String]("clean") shouldBe "mail [EMAIL] or dial [PHONE] today"
    rows(1).getAs[String]("clean") shouldBe "no pii here"
    rows(0).getAs[String]("txt") should include("@corp.example.com") // original kept
    // given j14's fixed input and rules (EMAIL, then PHONE), the op
    // returns j14's rows
    val viaOp = PipelineRunner.run(spark,
      s"""name: redact_j14
         |source: {format: parquet, path: "$sf/documents.parquet"}
         |transforms:
         |  - {op: derive, name: raw, expr: "concat(source, '@mail.example.com said: ',
         |     substring(text, 1, 60), ' call +1 555-0100 ext ', CAST(doc_id AS STRING))"}
         |  - {op: redact, cols: [raw], name: clean, values:
         |     ["EMAIL:[a-z0-9.+-]+@[a-z0-9.-]+", "PHONE:\\\\+?[0-9][0-9 -]{7,}[0-9]"]}
         |  - {op: select, cols: [doc_id, clean]}
         |  - {op: sort, cols: [doc_id]}
         |""".stripMargin).passed
    viaOp.collect().map(_.toSeq) shouldBe
      graft.queries.TextOps2.j14.build(spark, sf).collect().map(_.toSeq)
    // in-place variant overwrites the column
    val inPlace = PipelineRunner.run(spark,
      s"""name: redact_inplace
         |source: {format: parquet, path: "$tmp"}
         |transforms:
         |  - {op: redact, cols: [txt], values: ["EMAIL:[a-z0-9.+-]+@[a-z0-9.-]+"]}
         |  - {op: sort, cols: [id]}
         |""".stripMargin).passed
    inPlace.orderBy(col("id")).head.getAs[String]("txt") should include("[EMAIL]")
    // a malformed rule fails fast
    intercept[IllegalArgumentException] {
      PipelineRunner.run(spark,
        s"""name: redact_bad
           |source: {format: parquet, path: "$tmp"}
           |transforms:
           |  - {op: redact, cols: [txt], values: ["no-colon-rule"]}
           |""".stripMargin)
    }.getMessage should include("LABEL:regex")
  }

  test("sink clusterBy: output files cover disjoint value ranges (min/max pruning layout)") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_io/clustered_sink"
    // AQE (correctly) coalesces this test-sized shuffle to one file —
    // pin it off so the multi-file layout mechanics are what's asserted
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try PipelineRunner.run(spark,
      s"""name: cluster_demo
         |source: {format: parquet, path: "$sf/lineitem.parquet"}
         |transforms:
         |  - {op: select, cols: [l_orderkey, l_shipdate, l_quantity]}
         |sink: {format: parquet, path: "$dir", mode: overwrite,
         |       clusterBy: [l_shipdate]}
         |""".stripMargin)
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    // per-file [min, max] ranges must not overlap: that disjointness is
    // exactly what lets parquet row-group stats skip files under a
    // shipdate predicate at scale
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_shipdate").cast("string")).as("lo"),
        max(col("l_shipdate").cast("string")).as("hi"))
      .collect().map(r => (r.getAs[String]("lo"), r.getAs[String]("hi")))
      .sorted // ISO timestamps order lexicographically
    ranges.length should be > 1 // the layout actually split the range
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      hi should be <= lo
    }
    // row fidelity: clustering reorders, never drops
    spark.read.parquet(dir).count() shouldBe
      spark.read.parquet(s"$sf/lineitem.parquet").count()
    // mutually exclusive with hash bucketing
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        s"""name: bad
           |source: {format: parquet, path: p}
           |sink: {format: parquet, path: q, clusterBy: [a],
           |       buckets: 4, bucketBy: [a], table: t}
           |""".stripMargin)
    }.getMessage should include("mutually exclusive")
  }

  test("branches: one declared pipeline feeds multiple shaped sinks, gated together") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_branches").toString
    def yaml(assertion: String) =
      s"""name: branch_demo
         |source: {format: parquet, path: "$sf/documents.parquet"}
         |checks:
         |  - {type: not_null, col: text}
         |transforms:
         |  - {op: select, cols: [doc_id, lang, n_chars]}
         |  - {op: sort, cols: [doc_id]}
         |assertions: ["$assertion"]
         |sink: {format: parquet, path: "$out/main", mode: overwrite}
         |branches:
         |  - name: per_lang
         |    transforms:
         |      - {op: aggregate, cols: [lang], aggs: ["COUNT(*) AS n_docs"]}
         |    sink: {format: parquet, path: "$out/per_lang", mode: overwrite}
         |  - name: eyeball
         |    transforms:
         |      - {op: sample, fraction: 0.1, seed: 7}
         |      - {op: select, cols: [doc_id, text]}
         |    sink: {format: parquet, path: "$out/eyeball", mode: overwrite}
         |""".stripMargin
    PipelineRunner.run(spark, yaml("count(*) >= 1"))
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    spark.read.parquet(s"$out/main").count() shouldBe total
    // per_lang forked BEFORE the main select/sort — it still sees `lang`
    val perLang = spark.read.parquet(s"$out/per_lang")
    perLang.columns.toSeq shouldBe Seq("lang", "n_docs")
    perLang.agg(org.apache.spark.sql.functions.sum("n_docs")).head.getLong(0) shouldBe total
    // eyeball kept the un-projected text column (fork point is post-check)
    spark.read.parquet(s"$out/eyeball").columns.toSeq shouldBe Seq("doc_id", "text")
    // the SLA gate covers branches too: a failed assertion publishes NOTHING
    val out2 = java.nio.file.Files.createTempDirectory("graft_branches2").toString
    intercept[IllegalStateException] {
      PipelineRunner.run(spark, yaml("count(*) >= 999999999").replace(out, out2))
    }
    new java.io.File(s"$out2/per_lang").exists() shouldBe false
    // streaming rejects branches with a clear error
    intercept[IllegalArgumentException] {
      PipelineRunner.run(spark,
        s"""name: branch_stream
           |mode: streaming
           |source: {format: parquet, path: "$sf",
           |         options: {pathGlobFilter: "documents.parquet"},
           |         schema: "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"}
           |branches:
           |  - name: x
           |    transforms: []
           |    sink: {format: parquet, path: "$out2/x", mode: overwrite}
           |""".stripMargin)
    }.getMessage should include("batch-only")
    // duplicate branch names fail at parse time
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """name: dup
          |source: {format: parquet, path: p}
          |branches:
          |  - {name: a, transforms: [], sink: {format: parquet, path: q}}
          |  - {name: a, transforms: [], sink: {format: parquet, path: r}}
          |""".stripMargin)
    }.getMessage should include("duplicate")
  }

  test("withImages is case-insensitive on key AND value everywhere " +
    "(the stream source reads it via CaseInsensitiveStringMap, so the " +
    "guards must see 'True' the same way)") {
    // conflict guard catches the mixed-case spelling too
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """name: x
          |mode: mv_refresh
          |streaming: true
          |source: {format: graft_table, path: p,
          |  options: {withImages: "True", skipChangeCommits: "true"}}
          |mv: {path: q, keys: [k], aggs: ["sum(v) AS s"]}
          |""".stripMargin)
    }.getMessage should include("withImages consumes change commits")
    // value validation accepts any casing of true/false, rejects junk
    PipelineSpec.parse(
      """name: x
        |source: {format: graft_table, path: p,
        |  options: {changesFrom: "0", withimages: "TRUE"}}
        |sink: {format: parquet, path: out}
        |""".stripMargin)
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """name: x
          |source: {format: graft_table, path: p,
          |  options: {changesFrom: "0", withImages: "yep"}}
          |sink: {format: parquet, path: out}
          |""".stripMargin)
    }.getMessage should include("withImages")
    // batch guard: withimages (lowercase key) without changesFrom fails
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """name: x
          |source: {format: graft_table, path: p,
          |  options: {withimages: "true"}}
          |sink: {format: parquet, path: out}
          |""".stripMargin)
    }.getMessage should include("changesFrom")
  }

  test("span_dedup: first occurrence survives, later >= min_len spans " +
    "are removed, other columns ride through; parse + streaming guards") {
    import spark.implicits._
    val src = s"/tmp/graft_io/span_cfg_src"
    // doc 1 owns the span; doc 2 repeats it verbatim inside other text;
    // doc 3 shares only a 3-token overlap (< min_len=4) and keeps it
    Seq(
      (1L, "alpha beta gamma delta unique one", "a"),
      (2L, "prefix words alpha beta gamma delta suffix tail here", "b"),
      (3L, "beta gamma delta other stuff entirely", "c"))
      .toDF("doc_id", "text", "tag")
      .write.mode("overwrite").parquet(src)
    val out = PipelineRunner.run(spark,
      s"""name: span_cfg
         |source: {format: parquet, path: "$src"}
         |transforms:
         |  - {op: span_dedup, cols: [doc_id, text], k: 2, min_len: 4}
         |  - {op: sort, cols: [doc_id]}
         |""".stripMargin).passed
    // extra column `tag` rides through beside the three outputs
    out.columns.toSet shouldBe
      Set("doc_id", "text", "tag", "n_tokens", "kept_tokens", "text_dedup")
    val rows = out.select($"doc_id", $"kept_tokens", $"text_dedup", $"tag")
      .as[(Long, Long, String, String)].collect()
    rows(0) shouldBe ((1L, 6L, "alpha beta gamma delta unique one", "a"))
    // doc 2 loses exactly the 4-token repeated span
    rows(1)._2 shouldBe 5L
    rows(1)._3 shouldBe "prefix words suffix tail here"
    rows(1)._4 shouldBe "b"
    // doc 3's 3-token overlap is below the bar — untouched
    rows(2)._3 shouldBe "beta gamma delta other stuff entirely"
    // parse guards: cols arity, k floor, min_len floor
    intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: parquet, path: p}
         |transforms: [{op: span_dedup, cols: [doc_id]}]
         |sink: {format: parquet, path: out}
         |""".stripMargin)).getMessage should include("idCol, textCol")
    intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: parquet, path: p}
         |transforms: [{op: span_dedup, cols: [doc_id, text], k: 1}]
         |sink: {format: parquet, path: out}
         |""".stripMargin)).getMessage should include(">= 2")
    // streaming mode rejects the corpus-wide election
    intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: x
         |mode: streaming
         |source: {format: parquet, path: "$src", schema: auto}
         |transforms: [{op: span_dedup, cols: [doc_id, text]}]
         |sink: {format: parquet, path: /tmp/graft_io/span_cfg_out}
         |""".stripMargin)).getMessage should include("batch-only")
    // min_len < k rejected at apply (the window cannot match less than k)
    intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: x
         |source: {format: parquet, path: "$src"}
         |transforms: [{op: span_dedup, cols: [doc_id, text], k: 8, min_len: 4}]
         |sink: {format: parquet, path: /tmp/graft_io/span_cfg_out2}
         |""".stripMargin)).getMessage should include("must be >= the match window")
  }

  test("parse errors are path-qualified") {
    val e1 = intercept[IllegalArgumentException](PipelineSpec.parse("name: x\n"))
    e1.getMessage should include("pipeline.source")
    val e2 = intercept[IllegalArgumentException](PipelineSpec.parse(
      """name: x
        |source: {format: nonsense, path: p}
        |""".stripMargin))
    e2.getMessage should include("source.format")
    val e3 = intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: parquet, path: p}
         |checks: [{type: wat, col: c}]
         |""".stripMargin))
    e3.getMessage should include("checks[0].type")
  }

  test("EP1: quarantine split + metrics count every check in one pass") {
    val yaml =
      s"""name: split_demo
         |source: {format: parquet, path: "$sf/lineitem.parquet"}
         |checks:
         |  - {type: not_null, col: l_orderkey}
         |  - {type: range, col: l_discount, lo: 0.0, hi: 0.05}
         |""".stripMargin
    val r = PipelineRunner.run(spark, yaml)
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    r.passed.count() + r.quarantined.count() shouldBe total
    val m = r.metrics.map(m => m.check -> m).toMap
    m("not_null_l_orderkey").failCnt shouldBe 0
    m("range_l_discount").passCnt + m("range_l_discount").failCnt shouldBe total
    // the quarantine is exactly the range-check failures (not_null never fails)
    r.quarantined.count() shouldBe m("range_l_discount").failCnt
  }

  test("EP1: ref check quarantines orphans via broadcast dim join") {
    val yaml =
      s"""name: ref_demo
         |source: {format: parquet, path: "$sf/customer.parquet"}
         |checks:
         |  - {type: ref, col: c_nationkey, ref_col: n_nationkey,
         |     ref_table: {format: parquet, path: "$sf/nation.parquet"}}
         |""".stripMargin
    val r = PipelineRunner.run(spark, yaml)
    r.quarantined.count() shouldBe 0 // fixture data is referentially intact
    r.metrics.head.passCnt shouldBe spark.read.parquet(s"$sf/customer.parquet").count()
  }

  test("EP1: example YAML runs end-to-end, writing sink + quarantine") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft_ep1").toString
    val yaml = Files.readString(Paths.get("examples/validate_enrich.yaml"))
      .replace("SFDIR", sf).replace("OUTDIR", out)
    val r = PipelineRunner.run(spark, yaml)
    val passed = spark.read.parquet(s"$out/passed")
    val quarantined = spark.read.parquet(s"$out/quarantined")
    passed.columns.toSeq shouldBe
      Seq("l_orderkey", "l_linenumber", "net_price", "normalized_flag")
    passed.count() should be > 0L
    // quarantine keeps the ORIGINAL schema (pre-transform rows)
    quarantined.columns should contain("l_discount")
    r.metrics should have size 6
    r.metrics.map(_.passCnt).sum should be > 0L
    // passed ≤ (total − quarantined): the post-split filter only shrinks
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    passed.count() should be <= (total - quarantined.count())
  }

  test("EP1: metrics ride the sink write — no separate aggregate job") {
    import java.nio.file.Files
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val out = Files.createTempDirectory("graft_obs").toString
    def yaml(sinks: Boolean) =
      s"""name: obs_demo
         |source: {format: parquet, path: "$sf/lineitem.parquet"}
         |checks:
         |  - {type: not_null, col: l_orderkey}
         |  - {type: range, col: l_discount, lo: 0.0, hi: 0.05}
         |""".stripMargin + (if (sinks)
      s"""sink: {format: parquet, path: "$out/passed"}
         |quarantine: {format: parquet, path: "$out/quarantined"}
         |""".stripMargin else "")

    def jobStages(run: () => PipelineRunner.RunResult)
        : (Seq[String], PipelineRunner.RunResult) = {
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          stages.add(js.stageInfos.map(_.name).mkString(";"))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = run()
        var last = -1 // listener delivery is async — wait until it settles
        var spins = 0
        while (stages.size != last && spins < 20) {
          last = stages.size; Thread.sleep(200); spins += 1
        }
        import scala.jdk.CollectionConverters._
        (stages.asScala.toSeq, r)
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    // No-sink run: the metrics fallback runs a dedicated aggregate job
    // (collect-style stages, not parquet ones). Sink run: footer-read +
    // two writes ONLY — every job is a parquet job, the metrics came back
    // on the write action via observe().
    val (noSinkStages, _) = jobStages(() => PipelineRunner.run(spark, yaml(sinks = false)))
    noSinkStages.exists(!_.contains("parquet at")) shouldBe true
    val (sinkStages, r) = jobStages(() => PipelineRunner.run(spark, yaml(sinks = true)))
    sinkStages should not be empty
    all(sinkStages) should include("parquet at")
    // and the observed metrics equal the eagerly-recomputed truth
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    val m = r.metrics.map(m => m.check -> m).toMap
    m("not_null_l_orderkey").passCnt shouldBe total
    m("range_l_discount").failCnt shouldBe
      spark.read.parquet(s"$out/quarantined").count()
  }

  test("EP2: aggregate / union / dedup ops work from YAML") {
    val yaml =
      s"""name: agg_demo
         |source: {format: parquet, path: "$sf/nation.parquet"}
         |transforms:
         |  - {op: union, table: {format: parquet, path: "$sf/nation.parquet"}}
         |  - {op: dedup, cols: [n_nationkey], orderBy: [n_name]}
         |  - {op: aggregate, cols: [n_regionkey],
         |     aggs: ["count(*) AS n", "min(n_name) AS first_name"]}
         |  - {op: sort, cols: [n_regionkey]}
         |""".stripMargin
    val out = PipelineRunner.run(spark, yaml).passed
    out.columns.toSeq shouldBe Seq("n_regionkey", "n", "first_name")
    // self-union doubled rows, dedup restored exactly one per key
    out.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) shouldBe
      spark.read.parquet(s"$sf/nation.parquet").count()
  }

  test("EP2: global aggregate (no groupBy keys) and dedup guard rails") {
    val global = PipelineRunner.run(spark,
      s"""name: g
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms: [{op: aggregate, aggs: ["count(*) AS n"]}]
         |""".stripMargin).passed
    global.count() shouldBe 1
    // dedup on keys without orderBy must be rejected — the survivor would
    // be partition-order-dependent
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: bad
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms: [{op: dedup, cols: [r_regionkey]}]
         |""".stripMargin))
    e.getMessage should include("orderBy")
  }

  test("EP3: mode:streaming is batch-equivalent on the same YAML body") {
    val body =
      s"""source: {format: parquet, path: "$sf",
         |  schema: "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
         |  options: {pathGlobFilter: "events.parquet"}}
         |checks:
         |  - {type: range, col: value, lo: 0.0, hi: 300.0}
         |transforms:
         |  - {op: filter, expr: "event_type = 'click'"}
         |  - {op: derive, name: v2, expr: "value * 2"}
         |  - {op: select, cols: [event_id, v2]}
         |  - {op: sort, cols: [event_id]}
         |""".stripMargin
    val batch = PipelineRunner.run(spark, s"name: eq_b\n$body")
    val stream = PipelineRunner.run(spark, s"name: eq_s\nmode: streaming\n$body")
    val b = batch.passed.collect().map(_.toSeq)
    val s = stream.passed.collect().map(_.toSeq)
    s shouldBe b
    // streaming metrics are per-batch, not run-level — documented as empty
    stream.metrics shouldBe empty
  }

  test("EP3: streaming mode rejects non-streamable checks and mid-pipeline sorts") {
    val e1 = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: bad1
         |mode: streaming
         |source: {format: parquet, path: "$sf", schema: "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING", options: {pathGlobFilter: "events.parquet"}}
         |checks: [{type: unique, col: event_id}]
         |""".stripMargin))
    e1.getMessage should include("not supported in streaming mode")
    val e2 = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: bad2
         |mode: streaming
         |source: {format: parquet, path: "$sf", schema: "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING", options: {pathGlobFilter: "events.parquet"}}
         |transforms:
         |  - {op: sort, cols: [event_id]}
         |  - {op: filter, expr: "value > 0"}
         |""".stripMargin))
    e2.getMessage should include("only allowed at the pipeline tail")
  }

  test("EP3b: streaming aggregate (update mode) equals the batch GROUP BY") {
    val body =
      s"""output_mode: update
         |source: {format: parquet, path: "$sf",
         |  schema: "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
         |  options: {pathGlobFilter: "events.parquet"}}
         |transforms:
         |  - {op: aggregate, cols: [event_type],
         |     aggs: ["count(*) AS n",
         |            "CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value"]}
         |  - {op: sort, cols: [event_type]}
         |""".stripMargin
    val batch = PipelineRunner.run(spark, s"name: agg_b\n$body")
    val stream = PipelineRunner.run(spark, s"name: agg_s\nmode: streaming\n$body")
    stream.passed.collect().map(_.toSeq) shouldBe batch.passed.collect().map(_.toSeq)
  }

  test("example YAMLs run end-to-end via runFile (batch agg + streaming agg)") {
    import java.nio.file.{Files, Paths}
    for ((ex, countCol) <- Seq("summarize" -> "n_orders", "stream_aggregate" -> "n")) {
      val out = Files.createTempDirectory(s"graft_ex_$ex").toString
      val tmp = Files.createTempFile(s"graft_ex_$ex", ".yaml")
      Files.writeString(tmp, Files.readString(Paths.get(s"examples/$ex.yaml"))
        .replace("SFDIR", sf).replace("OUTDIR", out))
      val r = PipelineRunner.runFile(spark, tmp.toString)
      val sunk = spark.read.parquet(r.spec.sink.get.path)
      sunk.columns should contain(countCol)
      // the sink holds the complete aggregate: group counts sum to the
      // (check-passing) source row count
      sunk.agg(org.apache.spark.sql.functions.sum(countCol)).head().getLong(0) shouldBe
        r.passed.agg(org.apache.spark.sql.functions.sum(countCol)).head().getLong(0)
      sunk.count() should be > 0L
    }
  }

  test("EP5: reshape_bucketed example YAML pivots, packs ids, and buckets the sink") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft_ex_reshape").toString
    val tmp = Files.createTempFile("graft_ex_reshape", ".yaml")
    Files.writeString(tmp, Files.readString(Paths.get("examples/reshape_bucketed.yaml"))
      .replace("SFDIR", sf).replace("OUTDIR", out))
    val r = PipelineRunner.runFile(spark, tmp.toString)
    // long form restored: every (bucket, listed type) combo exactly once
    val buckets = r.passed.select("bucket").distinct().count()
    r.passed.count() shouldBe buckets * 5
    // the sink is a CATALOG bucketed table, not a bare path write
    val desc = spark.sql("DESCRIBE EXTENDED event_matrix_bkt").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    desc("Num Buckets") shouldBe "8"
    desc("Bucket Columns") should include("bucket")
    spark.table("event_matrix_bkt").count() shouldBe r.passed.count()
  }

  test("EP4: asof_join example YAML enriches through the native operator") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft_ex_asof").toString
    val tmp = Files.createTempFile("graft_ex_asof", ".yaml")
    Files.writeString(tmp, Files.readString(Paths.get("examples/asof_enrich.yaml"))
      .replace("SFDIR", sf).replace("OUTDIR", out))
    val r = PipelineRunner.runFile(spark, tmp.toString)
    val p = r.passed.queryExecution.executedPlan.toString
    p should include("AsOfJoin") // the custom operator, not a rewrite
    val sunk = spark.read.parquet(r.spec.sink.get.path)
    sunk.columns.toSeq shouldBe
      Seq("event_id", "user_id", "purchase_ts", "last_view_ts")
    // every purchase row survives (left as-of join), and the config route
    // agrees with the directly-built d7b native query
    val viaConfig = r.passed
      .select("event_id", "last_view_ts").collect()
      .map(x => x.getLong(0) -> Option(x.get(1))).toMap
    val direct = graft.queries.Joins.d7b.build(spark, sf)
      .select("event_id", "last_view_ts").collect()
      .map(x => x.getLong(0) -> Option(x.get(1))).toMap
    viaConfig shouldBe direct
  }

  test("EP4: asof_join is rejected in streaming mode with a clear error") {
    val yaml =
      s"""name: s_asof
         |mode: streaming
         |source: {format: parquet, path: "$sf/events.parquet"}
         |transforms:
         |  - op: asof_join
         |    table: {format: parquet, path: "$sf/events.parquet"}
         |    on: ["user_id:v_user_id"]
         |    expr: "ts:v_ts"
         |""".stripMargin
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark, yaml))
    e.getMessage should include("asof_join")
    e.getMessage should include("batch-only")
  }

  test("EP5: flatten keeps null/empty arrays only under how:outer") {
    def run(how: String) = PipelineRunner.run(spark,
      s"""name: flat_demo
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms:
         |  - {op: derive, name: arr,
         |     expr: "CASE WHEN r_regionkey = 0 THEN CAST(NULL AS ARRAY<INT>) WHEN r_regionkey = 1 THEN array() ELSE array(r_regionkey, r_regionkey * 10) END"}
         |  - {op: flatten, cols: [arr], name: v$how}
         |""".stripMargin).passed
    // inner explode drops the null-array and empty-array rows entirely
    val inner = run("")
    inner.columns should (contain("v") and not contain "arr")
    inner.count() shouldBe 6 // regions 2,3,4 × 2 elements
    // outer keeps them as one null-element row each
    val outer = run(", how: outer")
    outer.count() shouldBe 8
    outer.where(outer("v").isNull).count() shouldBe 2
  }

  test("EP5: pivot guard rails demand explicit values and aggs") {
    def yaml(body: String) =
      s"""name: piv_demo
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms:
         |  - {op: pivot, cols: [r_regionkey], $body}
         |""".stripMargin
    val e1 = intercept[IllegalArgumentException](
      PipelineRunner.run(spark, yaml("""name: r_name, aggs: ["COUNT(*)"]""")))
    e1.getMessage should include("explicit `values`")
    val e2 = intercept[IllegalArgumentException](
      PipelineRunner.run(spark, yaml("name: r_name, values: [AFRICA]")))
    e2.getMessage should include("aggs")
  }

  test("EP5: surrogate_key is deterministic and batch-only") {
    val yaml =
      s"""name: sk_demo
         |source: {format: parquet, path: "$sf/nation.parquet"}
         |transforms:
         |  - {op: surrogate_key, name: sk, orderBy: ["n_name DESC"], max_rows: 100}
         |  - {op: sort, cols: [sk]}
         |""".stripMargin
    val a = PipelineRunner.run(spark, yaml).passed.collect()
    val b = PipelineRunner.run(spark, yaml).passed.collect()
    a.map(_.toSeq) shouldBe b.map(_.toSeq) // same order ⇒ same ids, every run
    // sk=1 goes to the first row of the declared order (max name under DESC)
    val maxName = spark.read.parquet(s"$sf/nation.parquet")
      .agg(org.apache.spark.sql.functions.max("n_name")).head.getString(0)
    a.head.getAs[String]("n_name") shouldBe maxName
    // given b9's fixed arguments (c_custkey order, a 10M-row bound) the op
    // returns b9's rows
    PipelineRunner.run(spark,
      s"""name: sk_b9
         |source: {format: parquet, path: "$sf/customer.parquet"}
         |transforms:
         |  - {op: surrogate_key, name: sk, orderBy: [c_custkey], max_rows: 10000000}
         |  - {op: select, cols: [sk, c_custkey, c_name]}
         |  - {op: sort, cols: [c_custkey]}
         |""".stripMargin).passed.collect().map(_.toSeq) shouldBe
      graft.queries.Relational.b9.build(spark, sf).collect().map(_.toSeq)
    // a global row_number has no streaming equivalent — clear error
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: sk_stream
         |mode: streaming
         |source: {format: parquet, path: "$sf/nation.parquet",
         |  schema: "n_nationkey BIGINT, n_name STRING"}
         |transforms:
         |  - {op: surrogate_key, name: sk, orderBy: [n_name]}
         |""".stripMargin))
    e.getMessage should include("batch-only")
    // the single-partition window demands a declared bound...
    val eNoBound = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: sk_unbounded
         |source: {format: parquet, path: "$sf/nation.parquet"}
         |transforms:
         |  - {op: surrogate_key, name: sk, orderBy: [n_name]}
         |""".stripMargin))
    eNoBound.getMessage should include("max_rows")
    // ...and the bound is enforced at runtime, not just declared
    val eOver = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: sk_overflow
         |source: {format: parquet, path: "$sf/nation.parquet"}
         |transforms:
         |  - {op: surrogate_key, name: sk, orderBy: [n_name], max_rows: 3}
         |""".stripMargin))
    eOver.getMessage should include("exceeds declared max_rows")
  }

  test("EP5: bucketed sink from YAML enables an exchange-free join") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_bkt_cfg").toString
    val yaml =
      s"""name: bkt_demo
         |source: {format: parquet, path: "$sf/orders.parquet"}
         |transforms:
         |  - {op: select, cols: [o_orderkey, o_orderpriority]}
         |sink: {format: parquet, path: "$out/orders_bkt", table: cfg_bkt_orders,
         |  buckets: 8, bucketBy: [o_orderkey], sortBy: [o_orderkey]}
         |""".stripMargin
    PipelineRunner.run(spark, yaml)
    // joining the config-bucketed table against the a7b bucketed lineitem
    // must be exchange-free on the bucket key — the write paid the shuffle
    graft.queries.Sources.bucketedTables(spark, sf)
    val l = spark.table("graft_bkt_lineitem")
    val o = spark.table("cfg_bkt_orders").hint("merge")
    val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
    val p = j.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    withClue(p) {
      p should include("SelectedBucketsCount")
      (p should not).include("Exchange hashpartitioning(o_orderkey")
      (p should not).include("Exchange hashpartitioning(l_orderkey")
    }
    j.count() shouldBe spark.read.parquet(s"$sf/lineitem.parquet").count()
    // guard rails: bucketed sink without a table name is a config error
    val e = intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: parquet, path: p}
         |sink: {format: parquet, path: q, buckets: 4, bucketBy: [k]}
         |""".stripMargin))
    e.getMessage should include("table")
  }

  test("EP6: merge how:delete removes matched keys; merge is batch-only") {
    import java.nio.file.Files
    val delDir = Files.createTempDirectory("graft_merge_del").toString
    spark.read.parquet(s"$sf/nation.parquet")
      .where(org.apache.spark.sql.functions.col("n_nationkey") < 5)
      .select("n_nationkey")
      .write.mode("overwrite").parquet(delDir)
    val out = PipelineRunner.run(spark,
      s"""name: del_demo
         |source: {format: parquet, path: "$sf/nation.parquet"}
         |transforms:
         |  - {op: merge, how: delete, on: [n_nationkey],
         |     table: {format: parquet, path: "$delDir"}}
         |""".stripMargin).passed
    out.count() shouldBe 20
    out.agg(org.apache.spark.sql.functions.min("n_nationkey"))
      .head.getAs[Number](0).longValue shouldBe 5L
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: s_merge
         |mode: streaming
         |source: {format: parquet, path: "$sf/nation.parquet",
         |  schema: "n_nationkey BIGINT, n_name STRING"}
         |transforms:
         |  - {op: merge, on: [n_nationkey],
         |     table: {format: parquet, path: "$delDir"}}
         |""".stripMargin))
    e.getMessage should include("batch-only")
  }

  test("EP1b: quarantine rows carry failed_checks reasons, batch and streaming") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fc").toString
    Seq((1L, 10.0, "A"), (2L, -1.0, "A"), (3L, 10.0, "X"), (4L, -1.0, "X"))
      .toDF("id", "v", "f").coalesce(1).write.mode("overwrite").parquet(dir)
    val checks =
      """checks:
        |  - {type: range, name: v_pos, col: v, lo: 0.0, hi: 100.0}
        |  - {type: in_set, name: f_ok, col: f, values: [A]}
        |""".stripMargin
    val batch = PipelineRunner.run(spark,
      s"""name: fc_b
         |source: {format: parquet, path: "$dir"}
         |$checks""".stripMargin)
    def reasons(df: org.apache.spark.sql.DataFrame) = df
      .select($"id", $"failed_checks").as[(Long, Seq[String])]
      .collect().sortBy(_._1).toSeq
    val expected = Seq(2L -> Seq("v_pos"), 3L -> Seq("f_ok"),
      4L -> Seq("v_pos", "f_ok")) // declaration order, multi-failure listed
    reasons(batch.quarantined) shouldBe expected
    batch.passed.columns should not contain "failed_checks"
    // the streaming route attaches the same reasons
    val qOut = Files.createTempDirectory("graft_fc_q").toString
    val stream = PipelineRunner.run(spark,
      s"""name: fc_s
         |mode: streaming
         |source: {format: parquet, path: "$dir", schema: "id BIGINT, v DOUBLE, f STRING"}
         |$checks
         |quarantine: {format: parquet, path: "$qOut/q"}
         |""".stripMargin)
    reasons(stream.quarantined) shouldBe expected
  }

  test("EP7: tokenize splits, lowercases, and drops declared stopwords") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tok").toString
    Seq((1L, "The Quick the BROWN fox the")).toDF("id", "text")
      .write.mode("overwrite").parquet(dir)
    val out = PipelineRunner.run(spark,
      s"""name: tok_demo
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks, values: [the]}
         |""".stripMargin).passed
    out.select("toks").as[Seq[String]].head() shouldBe
      Seq("quick", "brown", "fox") // dups of non-stopwords would survive
    // output-name collision fails fast like flatten
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: tok_bad
         |source: {format: parquet, path: "$dir"}
         |transforms: [{op: tokenize, cols: [text], name: text}]
         |""".stripMargin))
    e.getMessage should include("already exists")
  }

  test("EP7: minhash_dedup keeps one survivor per near-dup cluster, thresholded") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mhd").toString
    // 1≡2 exact dups; 3 differs from 1 by one token out of 11 distinct
    // (Jaccard 10/12 ≈ 0.833 ≥ 0.8); 4 is unrelated
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    Seq(
      (1L, base), (2L, base),
      (3L, base.replace("lambda", "omega")),
      (4L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    def survivors(threshold: Double) = PipelineRunner.run(spark,
      s"""name: mhd_demo
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: minhash_dedup, cols: [doc_id, toks], threshold: $threshold}
         |  - {op: sort, cols: [doc_id]}
         |""".stripMargin).passed.select("doc_id").as[Long].collect().toSeq
    // θ=0.8: 1,2,3 collapse into one cluster (transitively) → survivors 1, 4
    survivors(0.8) shouldBe Seq(1L, 4L)
    // θ=1.0: only the exact-dup pair collapses → 3 survives on its own
    survivors(1.0) shouldBe Seq(1L, 3L, 4L)
    // tag-don't-drop: `name` keeps every row, labeled with its cluster id
    val tagged = PipelineRunner.run(spark,
      s"""name: mhd_tag
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: minhash_dedup, cols: [doc_id, toks], threshold: 0.8, name: cluster_id}
         |  - {op: sort, cols: [doc_id]}
         |""".stripMargin).passed
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSeq
    tagged shouldBe Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L)
  }

  test("EP7b: tfidf from config reshapes to (id, term, tf, score) = direct j5") {
    val viaConfig = graft.queries.Sources.ep7b.build(spark, sf)
    viaConfig.columns.toSeq shouldBe Seq("doc_id", "term", "tf", "score")
    viaConfig.collect().map(_.toSeq) shouldBe
      graft.queries.TextOps.j5.build(spark, sf).collect().map(_.toSeq)
  }

  test("EP8: ann_topk equals the direct k4 top-k and enforces one query row") {
    val viaConfig = graft.queries.Sources.ep8.build(spark, sf)
    viaConfig.collect().map(_.toSeq) shouldBe
      graft.queries.Similarity.k4.build(spark, sf).collect().map(_.toSeq)
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: ann_bad
         |source: {format: parquet, path: "$sf/embeddings.parquet"}
         |transforms:
         |  - {op: ann_topk, cols: [vec_id, embedding], where: "vec_id < 5", k: 3}
         |""".stripMargin))
    e.getMessage should include("exactly 1 query row")
  }

  test("EP7/EP8: corpus-wide LLM ops are batch-only in streaming mode") {
    // the dedup gates stream WITH state_path (L10); stateless they are
    // rejected with the pointer to it, the rest stay batch-only outright
    for ((op, msg) <- Seq(
      ("{op: tfidf, cols: [event_id, props]}", "batch-only"),
      ("{op: minhash_dedup, cols: [event_id, props]}", "state_path"),
      ("{op: ann_topk, cols: [event_id, value], where: \"event_id = 0\"}", "batch-only"))) {
      val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
        s"""name: s_llm
           |mode: streaming
           |source: {format: parquet, path: "$sf",
           |  schema: "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
           |  options: {pathGlobFilter: "events.parquet"}}
           |transforms:
           |  - $op
           |""".stripMargin))
      e.getMessage should include(msg)
    }
  }

  test("EP9: incremental source catches up across runs via persisted watermark") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_inc").toString
    val state = s"$dir/state/hwm.json"
    def yaml =
      s"""name: inc_demo
         |source: {format: parquet, path: "$dir/data",
         |  incremental: {watermark_col: seq, state_path: "$state"}}
         |transforms:
         |  - {op: sort, cols: [seq]}
         |""".stripMargin
    def ids() = PipelineRunner.run(spark, yaml).passed
      .select($"seq").as[Long].collect().toSeq

    Seq(1L, 2L, 3L).toDF("seq").write.mode("append").parquet(s"$dir/data")
    ids() shouldBe Seq(1L, 2L, 3L) // first run: full load
    Files.exists(Paths.get(state)) shouldBe true
    Seq(4L, 5L).toDF("seq").write.mode("append").parquet(s"$dir/data")
    ids() shouldBe Seq(4L, 5L) // second run: only rows past the mark
    ids() shouldBe Seq() // no new data: empty, and the mark must survive
    Seq(6L).toDF("seq").write.mode("append").parquet(s"$dir/data")
    ids() shouldBe Seq(6L)
    // incremental is a batch pattern — streams checkpoint their own progress
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: inc_s
         |mode: streaming
         |source: {format: parquet, path: "$dir/data", schema: "seq BIGINT",
         |  incremental: {watermark_col: seq, state_path: "$state"}}
         |""".stripMargin))
    e.getMessage should include("batch-only")
  }

  test("EP10: drift policy — allow conforms by name, strict fails fast") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift").toString
    graft.queries.Sources.writeSingleParquet(
      Seq((1L, "a")).toDF("id", "name"), s"$dir/v1.parquet")
    graft.queries.Sources.writeSingleParquet(
      Seq((2L, "b", 9.5, "junk")).toDF("id", "name", "score", "extra"),
      s"$dir/v2.parquet")
    def yaml(policy: String) =
      s"""name: drift_demo
         |source: {format: parquet, path: "$dir",
         |  schema: "id BIGINT, name STRING, score DOUBLE", drift: $policy}
         |transforms:
         |  - {op: sort, cols: [id]}
         |""".stripMargin
    val allowed = PipelineRunner.run(spark, yaml("allow")).passed
    allowed.columns.toSeq shouldBe Seq("id", "name", "score") // extra dropped
    allowed.as[(Long, String, Option[Double])].collect().toSeq shouldBe
      Seq((1L, "a", None), (2L, "b", Some(9.5))) // missing → typed null
    val e = intercept[IllegalArgumentException](
      PipelineRunner.run(spark, yaml("strict")))
    e.getMessage should (include("drift") and include("extra"))
    // allow casts only where it widens: an INT id declared BIGINT
    // conforms, while a BIGINT v declared INT fails while the source frame
    // is planned (never a wrapped value, never a task failure without the
    // column's name), under either ANSI setting
    val nd = Files.createTempDirectory("graft_drift_narrow").toString
    graft.queries.Sources.writeSingleParquet(
      Seq((7, 5000000000L)).toDF("id", "v"), s"$nd/a.parquet")
    def declared(ddl: String) = PipelineSpec.parse(
      s"""name: drift_narrow
         |source: {format: parquet, path: "$nd", schema: "$ddl", drift: allow}
         |""".stripMargin).source
    PipelineRunner.read(spark, declared("id BIGINT, v BIGINT"))
      .as[(Long, Long)].collect() shouldBe Array((7L, 5000000000L))
    for (ansi <- Seq("false", "true")) withClue(s"ansi=$ansi: ") {
      val was = spark.conf.getOption("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val en = intercept[IllegalArgumentException](
          PipelineRunner.read(spark, declared("id BIGINT, v INT")))
        en.getMessage should (include("'v'") and include("BIGINT"))
        en.getMessage.replace("BIGINT", "") should include("INT")
      } finally was.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
        spark.conf.set("spark.sql.ansi.enabled", _))
    }
    // guard rails: drift needs a declared schema, and is parquet-scoped
    val e2 = intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: parquet, path: p, drift: allow}
         |""".stripMargin))
    e2.getMessage should include("schema")
    val e3 = intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: csv, path: p, schema: "a INT", drift: allow}
         |""".stripMargin))
    e3.getMessage should include("parquet")
  }

  test("metrics_sink: per-check counts land in the declared sink, append accumulates") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col => c}
    val out = Files.createTempDirectory("graft_msink").toString
    val yaml =
      s"""name: msink_demo
         |source: {format: parquet, path: "$sf/lineitem.parquet"}
         |checks:
         |  - {type: not_null, name: ok_key, col: l_orderkey}
         |  - {type: range, name: disc_band, col: l_discount, lo: 0.0, hi: 0.05}
         |sink: {format: parquet, path: "$out/passed"}
         |metrics_sink: {format: parquet, path: "$out/metrics", mode: append}
         |""".stripMargin
    val r1 = PipelineRunner.run(spark, yaml)
    val m1 = spark.read.parquet(s"$out/metrics")
    m1.columns.toSeq shouldBe Seq("pipeline", "run_ts", "check", "pass_cnt", "fail_cnt")
    m1.count() shouldBe 2
    val byCheck = m1.collect().map(x => x.getString(2) -> (x.getLong(3), x.getLong(4))).toMap
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    byCheck("ok_key") shouldBe (total, 0L)
    byCheck("disc_band")._1 + byCheck("disc_band")._2 shouldBe total
    byCheck("disc_band") shouldBe
      (r1.metrics.find(_.check == "disc_band").get.passCnt,
        r1.metrics.find(_.check == "disc_band").get.failCnt)
    // append mode accumulates run history (the drift-dashboard contract)
    PipelineRunner.run(spark, yaml)
    spark.read.parquet(s"$out/metrics").count() shouldBe 4
    spark.read.parquet(s"$out/metrics").where(c("pipeline") =!= "msink_demo")
      .count() shouldBe 0
    // batch-only: streaming metrics are per-batch, reject loudly
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: msink_s
         |mode: streaming
         |source: {format: parquet, path: "$sf/nation.parquet",
         |  schema: "n_nationkey BIGINT, n_name STRING"}
         |metrics_sink: {format: parquet, path: "$out/m2"}
         |""".stripMargin))
    e.getMessage should include("batch-only")
  }

  test("training_data_dedup example YAML curates the corpus end-to-end") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft_ex_tdd").toString
    val tmp = Files.createTempFile("graft_ex_tdd", ".yaml")
    Files.writeString(tmp,
      Files.readString(Paths.get("examples/training_data_dedup.yaml"))
        .replace("SFDIR", sf).replace("OUTDIR", out))
    val r = PipelineRunner.runFile(spark, tmp.toString)
    val corpus = spark.read.parquet(s"$out/corpus_deduped")
    corpus.columns.toSeq shouldBe Seq("doc_id", "lang", "source", "n_chars", "n_tokens")
    val n = corpus.count()
    n should be > 0L
    // dedup genuinely removed near-duplicates (the sf0.001 corpus has
    // big duplicate clusters — see SimilarityOpsSpec's K6 cap test)
    n should be < spark.read.parquet(s"$sf/documents.parquet").count()
    // metrics landed: one row per declared check PLUS one per dropping
    // curation gate (rows-in/rows-out accounting — pass = retained,
    // fail = killed), named gate_<op>_<transform position>
    val m = spark.read.parquet(s"$out/check_metrics")
      .select("check", "pass_cnt", "fail_cnt").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    m.keySet shouldBe Set("has_text", "len_band",
      "gate_quality_filter_1", "gate_minhash_dedup_2", "gate_decontaminate_3")
    // gate chain conservation: nothing between the gates drops rows, so
    // each gate's retained count is exactly the next gate's rows-in
    val (qfPass, _) = m("gate_quality_filter_1")
    val (mhPass, mhFail) = m("gate_minhash_dedup_2")
    val (dcPass, dcFail) = m("gate_decontaminate_3")
    qfPass shouldBe mhPass + mhFail
    mhPass shouldBe dcPass + dcFail
    // the last gate's retained rows ARE the published corpus (derive/
    // select/sort downstream are row-preserving)
    dcPass shouldBe n
    // the dedup gate genuinely killed rows on this corpus (same signal
    // as the corpus-shrunk assertion above, now attributed to its gate)
    mhFail should be > 0L
  }

  test("minhash_dedup state_path: cross-run incremental dedup against the published corpus") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_incdedup").toString
    Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "x y z"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch1")
    Seq((10L, "gamma beta alpha"), (11L, "completely new words"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch2")
    def yaml(batch: String, out: String) =
      s"""name: inc_dedup
         |source: {format: parquet, path: "$dir/$batch"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: minhash_dedup, cols: [doc_id, toks], threshold: 1.0,
         |     state_path: "$dir/state"}
         |sink: {format: parquet, path: "$dir/$out", mode: overwrite}
         |""".stripMargin
    def ids(path: String): Seq[Long] =
      spark.read.parquet(path).select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
    // run 1: no state yet → plain in-batch dedup; survivors publish AND
    // seed the state (threshold 1.0 = oracle-exact set-equality clusters)
    PipelineRunner.run(spark, yaml("batch1", "out1"))
    ids(s"$dir/out1") shouldBe Seq(1L, 3L)
    val st1 = spark.read.parquet(s"$dir/state")
    st1.columns.toSet shouldBe Set("doc_id", "ts", "lbl")
    ids(s"$dir/state") shouldBe Seq(1L, 3L)
    // run 2: doc 10's token set equals PUBLISHED doc 1's (order differs —
    // sets, not sequences) → killed against the state; 11 is new → kept
    PipelineRunner.run(spark, yaml("batch2", "out2"))
    ids(s"$dir/out2") shouldBe Seq(11L)
    ids(s"$dir/state") shouldBe Seq(1L, 3L, 11L)
    // rerun of the committed batch (failure-recovery path): output is
    // reproduced, state does not grow — retries never compound
    PipelineRunner.run(spark, yaml("batch2", "out2b"))
    ids(s"$dir/out2b") shouldBe Seq(11L)
    ids(s"$dir/state") shouldBe Seq(1L, 3L, 11L)
    // tag mode against the same state: batch rows carry the PUBLISHED
    // cluster label (doc 10 → cluster 1), new docs their own id
    val tagged = PipelineRunner.run(spark,
      s"""name: inc_tag
         |source: {format: parquet, path: "$dir/batch2"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: minhash_dedup, cols: [doc_id, toks], threshold: 1.0,
         |     name: cluster_id, state_path: "$dir/state"}
         |""".stripMargin).passed
    tagged.select("doc_id", "cluster_id").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap shouldBe
      Map(10L -> 1L, 11L -> 11L)
  }

  test("semdedup: embedding-semantic dedup from YAML — drop, tag, nulls, gate metrics") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_semdedup").toString
    // crafted geometry, k=2 centroids = ids 0 and 1 (the two smallest):
    //   cell 0: {0, 2} with cos(0,2) ≈ 0.994 ≥ 0.9 → cluster {0, 2}
    //   cell 1: {1, 3, 4} all pairwise ≥ 0.9 → cluster {1, 3, 4}
    //           {5} lands in cell 1 but cos ≈ 0.2 to everything → singleton
    //   null id: passes through untagged, never clustered
    Seq(
      (Option(0L), Array(1.0, 0.0, 0.0, 0.0)),
      (Option(1L), Array(0.0, 1.0, 0.0, 0.0)),
      (Option(2L), Array(0.9, 0.1, 0.0, 0.0)),
      (Option(3L), Array(0.0, 1.0, 0.1, 0.0)),
      (Option(4L), Array(0.1, 0.9, 0.0, 0.0)),
      (Option(5L), Array(-1.0, 0.2, 0.0, 0.0)),
      (Option.empty[Long], Array(1.0, 0.0, 0.0, 0.0)))
      .toDF("vid", "emb").write.parquet(s"$dir/vecs")
    val out = s"$dir/out"
    PipelineRunner.run(spark,
      s"""name: sd_drop
         |source: {format: parquet, path: "$dir/vecs"}
         |transforms:
         |  - {op: semdedup, cols: [vid, emb], threshold: 0.9, k: 2}
         |sink: {format: parquet, path: "$out/survivors", mode: overwrite}
         |metrics_sink: {format: parquet, path: "$out/metrics"}
         |""".stripMargin)
    val surv = spark.read.parquet(s"$out/survivors")
    surv.columns.toSeq shouldBe Seq("vid", "emb") // original schema preserved
    surv.select("vid").collect().map(r =>
      if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq shouldBe
      Seq(-1L, 0L, 1L, 5L) // min-id survivors + the null-id passthrough
    // gate accounting: 7 in, 4 retained, 3 killed — named by op + position
    val m = spark.read.parquet(s"$out/metrics")
      .select("check", "pass_cnt", "fail_cnt").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    m shouldBe Map("gate_semdedup_0" -> ((4L, 3L)))
    // tag mode: every row keeps its cluster label; null id tags null
    val tagged = PipelineRunner.run(spark,
      s"""name: sd_tag
         |source: {format: parquet, path: "$dir/vecs"}
         |transforms:
         |  - {op: semdedup, cols: [vid, emb], threshold: 0.9, k: 2, name: cl}
         |""".stripMargin).passed
    tagged.select("vid", "cl").collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap shouldBe
      Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 5L, -1L -> -1L)
    // declaration errors fail fast at build
    def bad(body: String) = intercept[IllegalArgumentException](
      PipelineRunner.run(spark,
        s"""name: sd_bad
           |source: {format: parquet, path: "$dir/vecs"}
           |transforms:
           |  - $body
           |""".stripMargin))
    bad("{op: semdedup, cols: [vid, emb], k: 2}")
      .getMessage should include("threshold")
    bad("{op: semdedup, cols: [vid, emb], threshold: 1.5, k: 2}")
      .getMessage should include("(-1, 1]")
    bad("{op: semdedup, cols: [vid], threshold: 0.9}")
      .getMessage should include("cols")
    // stateless in streaming mode: rejected with the pointer to the
    // state_path composition (the L10 gate), like minhash_dedup
    intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: sd_stream
         |mode: streaming
         |source: {format: parquet, path: "$dir/vecs"}
         |transforms:
         |  - {op: semdedup, cols: [vid, emb], threshold: 0.9}
         |""".stripMargin)).getMessage should include("state_path")
  }

  test("semdedup state_path: cross-run incremental semantic dedup") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_incsem").toString
    // batch 1 geometry (k=2 → centroids = ids 0 and 1):
    //   cos(0,2) ≈ 0.994, cos(1,3) ≈ 0.995 → clusters {0,2} and {1,3}
    Seq((0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0, 0.0)),
      (2L, Array(0.9, 0.1, 0.0, 0.0)), (3L, Array(0.0, 1.0, 0.1, 0.0)))
      .toDF("vid", "emb").write.parquet(s"$dir/batch1")
    // batch 2: 10 near-dups PUBLISHED survivor 0 (cos ≈ 0.9986); 11 is
    // orthogonal to everything → genuinely new
    Seq((10L, Array(0.95, 0.05, 0.0, 0.0)), (11L, Array(0.0, 0.0, 1.0, 0.0)))
      .toDF("vid", "emb").write.parquet(s"$dir/batch2")
    def yaml(batch: String, out: String) =
      s"""name: inc_sem
         |source: {format: parquet, path: "$dir/$batch"}
         |transforms:
         |  - {op: semdedup, cols: [vid, emb], threshold: 0.9, k: 2,
         |     state_path: "$dir/state"}
         |sink: {format: parquet, path: "$dir/$out", mode: overwrite}
         |""".stripMargin
    def ids(path: String): Seq[Long] =
      spark.read.parquet(path).select($"vid".as("i")).collect()
        .map(_.getLong(0)).sorted.toSeq
    def stateIds(): Seq[Long] =
      spark.read.parquet(s"$dir/state").select("vec_id").collect()
        .map(_.getLong(0)).sorted.toSeq
    // run 1: no state yet → in-batch dedup; survivors seed the state
    PipelineRunner.run(spark, yaml("batch1", "out1"))
    ids(s"$dir/out1") shouldBe Seq(0L, 1L)
    spark.read.parquet(s"$dir/state").columns.toSet shouldBe
      Set("vec_id", "e", "lbl")
    stateIds() shouldBe Seq(0L, 1L)
    // run 2: 10 killed against the published corpus, 11 survives
    PipelineRunner.run(spark, yaml("batch2", "out2"))
    ids(s"$dir/out2") shouldBe Seq(11L)
    stateIds() shouldBe Seq(0L, 1L, 11L)
    // rerun of the committed batch: output reproduced, state unchanged
    PipelineRunner.run(spark, yaml("batch2", "out2b"))
    ids(s"$dir/out2b") shouldBe Seq(11L)
    stateIds() shouldBe Seq(0L, 1L, 11L)
    // tag mode: batch rows carry the PUBLISHED cluster label
    val tagged = PipelineRunner.run(spark,
      s"""name: inc_sem_tag
         |source: {format: parquet, path: "$dir/batch2"}
         |transforms:
         |  - {op: semdedup, cols: [vid, emb], threshold: 0.9, k: 2,
         |     name: cl, state_path: "$dir/state"}
         |""".stripMargin).passed
    tagged.select("vid", "cl").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap shouldBe
      Map(10L -> 0L, 11L -> 11L)
  }

  test("sample: seeded global + stratified sampling from YAML, seed-stable") {
    def run(body: String) = PipelineRunner.run(spark,
      s"""name: smp_demo
         |source: {format: parquet, path: "$sf/customer.parquet"}
         |transforms:
         |  - $body
         |  - {op: sort, cols: [c_custkey]}
         |""".stripMargin).passed
    // fixed seed ⇒ identical selection, run to run
    val a = run("{op: sample, fraction: 0.2, seed: 42}").collect().map(_.toSeq)
    val b = run("{op: sample, fraction: 0.2, seed: 42}").collect().map(_.toSeq)
    a shouldBe b
    a.length should be > 0
    // stratified: keep one segment whole, drop the rest (default 0)
    val seg = run(
      """{op: sample, cols: [c_mktsegment], values: ["BUILDING:1.0"], seed: 7}""")
    val full = spark.read.parquet(s"$sf/customer.parquet")
    seg.count() shouldBe full.where(
      org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING").count()
    // unseeded sampling is rejected — not reproducible
    val e = intercept[IllegalArgumentException](
      run("{op: sample, fraction: 0.5}"))
    e.getMessage should include("seed")
  }

  test("pack: per-shard greedy sequence packing from YAML equals direct j11") {
    val viaConfig = PipelineRunner.run(spark,
      s"""name: pack_demo
         |source: {format: parquet, path: "$sf/documents.parquet"}
         |transforms:
         |  - {op: derive, name: shard, expr: "doc_id % 8"}
         |  - {op: derive, name: n_tokens, expr: "CAST(size(split(text, ' ')) AS BIGINT)"}
         |  - {op: pack, cols: [shard, doc_id], expr: "n_tokens", k: 4096}
         |  - {op: select, cols: [doc_id, shard, n_tokens, pack_id]}
         |  - {op: sort, cols: [doc_id]}
         |""".stripMargin).passed
    viaConfig.collect().map(_.toSeq) shouldBe
      graft.queries.TextOps2.j11.build(spark, sf).collect().map(_.toSeq)
    // bins stay exact past 2^53 cumulative tokens: a double division
    // would round the second row's start offset 2^53+1 down to 2^53
    import spark.implicits._
    val big = java.nio.file.Files.createTempDirectory("graft_pack_big").toString
    Seq((0L, 1L, (1L << 53) + 1), (0L, 2L, 1L)).toDF("shard", "ord", "cnt")
      .write.mode("overwrite").parquet(big)
    PipelineRunner.run(spark,
      s"""name: pack_big
         |source: {format: parquet, path: "$big"}
         |transforms:
         |  - {op: pack, cols: [shard, ord], expr: "cnt", k: 1}
         |  - {op: sort, cols: [ord]}
         |""".stripMargin).passed
      .select("pack_id").as[Long].collect() shouldBe Array(0L, (1L << 53) + 1)
    // guard rails: unknown output collision + positive budget
    val e = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: pack_bad
         |source: {format: parquet, path: "$sf/documents.parquet"}
         |transforms:
         |  - {op: pack, cols: [lang, doc_id], expr: "n_chars", k: 0}
         |""".stripMargin))
    e.getMessage should include("positive")
  }

  test("typo'd config keys fail fast with the allowed vocabulary") {
    // `fractoin` would silently sample nothing — the classic footgun
    val e = intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: parquet, path: p}
         |transforms:
         |  - {op: sample, fractoin: 0.1, seed: 42}
         |""".stripMargin))
    e.getMessage should (include("fractoin") and include("transforms[0]"))
    val e2 = intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: parquet, path: p, watermark: ts}
         |""".stripMargin))
    e2.getMessage should (include("watermark") and include("source"))
    val e3 = intercept[IllegalArgumentException](PipelineSpec.parse(
      s"""name: x
         |source: {format: parquet, path: p}
         |sinks: [{format: parquet, path: q}]
         |""".stripMargin))
    e3.getMessage should include("sinks")
  }

  test("assertions gate the publish: failed SLA writes nothing") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft_assert").toString
    def yaml(minRows: Int) =
      s"""name: sla_demo
         |source: {format: parquet, path: "$sf/nation.parquet"}
         |assertions:
         |  - "count(*) >= $minRows"
         |  - "min(n_regionkey) >= 0"
         |sink: {format: parquet, path: "$out/passed"}
         |""".stripMargin
    PipelineRunner.run(spark, yaml(10)) // 25 nations: both hold
    spark.read.parquet(s"$out/passed").count() shouldBe 25
    graft.streaming.StreamOps.rmrf(s"$out/passed")
    val e = intercept[IllegalStateException](PipelineRunner.run(spark, yaml(1000)))
    e.getMessage should (include("assertions failed") and include("count(*) >= 1000"))
    Files.exists(Paths.get(s"$out/passed")) shouldBe false // nothing landed
    // batch-only: no single evaluation point on a stream
    val e2 = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: sla_s
         |mode: streaming
         |source: {format: parquet, path: "$sf/nation.parquet",
         |  schema: "n_nationkey BIGINT"}
         |assertions: ["count(*) >= 1"]
         |""".stripMargin))
    e2.getMessage should include("batch-only")
  }

  test("check metrics stay correct when a truncating probe runs at build time") {
    import java.nio.file.Files
    // ann_topk's one-query-row probe executes a limit(2) action over the
    // observed plan at BUILD time; the Observation latches on the first
    // completed action, so without the truncating-op fallback the check
    // metrics would come from the truncated probe scan (review finding)
    val out = Files.createTempDirectory("graft_probe").toString
    val r = PipelineRunner.run(spark,
      s"""name: probe_demo
         |source: {format: parquet, path: "$sf/embeddings.parquet"}
         |checks:
         |  - {type: not_null, name: has_id, col: vec_id}
         |transforms:
         |  - {op: ann_topk, cols: [vec_id, embedding], where: "vec_id = 0", k: 5}
         |sink: {format: parquet, path: "$out/top"}
         |""".stripMargin)
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    r.metrics.head.passCnt shouldBe total // NOT the probe's truncated count
    r.metrics.head.failCnt shouldBe 0
  }

  test("EP7: minhash_dedup passes null-id rows through instead of dropping them") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mhd_nid").toString
    Seq((Some(1L), "alpha beta"), (Some(2L), "alpha beta"), (None, "orphan row"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    def run(tail: String) = PipelineRunner.run(spark,
      s"""name: mhd_nid
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: minhash_dedup, cols: [doc_id, toks]$tail}
         |""".stripMargin).passed
    // survivor mode: the null-id row has no identity to dedup — kept
    val surv = run("").select($"doc_id").as[Option[Long]].collect()
    surv.toSet shouldBe Set(Some(1L), None)
    // tag mode: labeled null, never dropped
    val tagged = run(", name: cluster_id")
      .select($"doc_id", $"cluster_id").as[(Option[Long], Option[Long])]
      .collect().toSet
    tagged shouldBe Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (None, None))
  }

  test("sample: stratified keys normalize through the column type (decimal)") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_smp_dec").toString
    Seq((1L, "5"), (2L, "5"), (3L, "7")).toDF("id", "s")
      .selectExpr("id", "CAST(s AS DECIMAL(10,2)) AS grade")
      .write.mode("overwrite").parquet(dir)
    // key "5" must match DECIMAL 5.00 (renders "5.00") — unnormalized
    // string comparison would silently drop the whole stratum
    val kept = PipelineRunner.run(spark,
      s"""name: smp_dec
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: sample, cols: [grade], values: ["5:1.0"], seed: 3}
         |""".stripMargin).passed.select($"id").as[Long].collect().sorted
    kept shouldBe Array(1L, 2L)
  }

  test("sample: stratified fractions match non-string stratum columns") {
    // integer stratum: the YAML keys are strings; sampleBy's native-value
    // lookup would miss every key and silently drop the stratum (review
    // finding) — the string-shadow column makes the comparison total
    val kept = PipelineRunner.run(spark,
      s"""name: smp_int
         |source: {format: parquet, path: "$sf/customer.parquet"}
         |transforms:
         |  - {op: sample, cols: [c_nationkey], values: ["5:1.0"], seed: 7}
         |""".stripMargin).passed
    val full = spark.read.parquet(s"$sf/customer.parquet")
    kept.count() shouldBe full.where(
      org.apache.spark.sql.functions.col("c_nationkey") === 5).count()
    kept.columns should not contain "__stratum_s"
  }

  test("streaming quarantine keeps failed_checks even when transforms project") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sq").toString
    Seq((1L, 10.0, "x"), (2L, -1.0, "y")).toDF("id", "v", "extra")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val qOut = Files.createTempDirectory("graft_sq_q").toString
    // the select applies to the PASS side only (batch parity): the
    // quarantine keeps pre-transform rows + reasons
    val r = PipelineRunner.run(spark,
      s"""name: sq_demo
         |mode: streaming
         |source: {format: parquet, path: "$dir", schema: "id BIGINT, v DOUBLE, extra STRING"}
         |checks:
         |  - {type: range, name: v_pos, col: v, lo: 0.0, hi: 100.0}
         |transforms:
         |  - {op: select, cols: [id, v]}
         |quarantine: {format: parquet, path: "$qOut/q"}
         |""".stripMargin)
    r.passed.columns.toSeq shouldBe Seq("id", "v")
    val q = r.quarantined.select($"id", $"failed_checks")
      .as[(Long, Seq[String])].collect()
    q shouldBe Array((2L, Seq("v_pos")))
  }

  test("EP10: drift allow/strict resolve case-drifted columns like Spark does") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift_case").toString
    // upstream renamed score -> Score (case churn): under default
    // case-insensitive resolution the column must CONFORM, not null out
    graft.queries.Sources.writeSingleParquet(
      Seq((1L, "a", 9.5)).toDF("id", "name", "Score"), s"$dir/v1.parquet")
    def yaml(policy: String) =
      s"""name: drift_case
         |source: {format: parquet, path: "$dir",
         |  schema: "id BIGINT, name STRING, score DOUBLE", drift: $policy}
         |""".stripMargin
    val allowed = PipelineRunner.run(spark, yaml("allow")).passed
    allowed.columns.toSeq shouldBe Seq("id", "name", "score") // declared casing
    allowed.select("score").as[Double].head() shouldBe 9.5 // populated, not null
    val strict = PipelineRunner.run(spark, yaml("strict")).passed
    strict.columns.toSeq shouldBe Seq("id", "name", "score")
  }

  test("EP9: timestamp watermarks round-trip through the state file") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_inc_ts").toString
    val state = s"$dir/state.json"
    def yaml =
      s"""name: inc_ts
         |source: {format: parquet, path: "$dir/data",
         |  incremental: {watermark_col: ts, state_path: "$state"}}
         |transforms:
         |  - {op: sort, cols: [id]}
         |""".stripMargin
    def ids() = PipelineRunner.run(spark, yaml).passed
      .select($"id").as[Long].collect().toSeq
    def write(rows: Seq[(Long, Long)]) = rows.toDF("id", "s")
      .select($"id", org.apache.spark.sql.functions.timestamp_seconds($"s").as("ts"))
      .write.mode("append").parquet(s"$dir/data")
    write(Seq((1L, 1000L), (2L, 2000L)))
    ids() shouldBe Seq(1L, 2L)
    write(Seq((3L, 3000L)))
    // the mark was rendered via Spark's session-TZ cast — the re-read
    // filter must see exactly the rows past 2000s, not a TZ-shifted set
    ids() shouldBe Seq(3L)
    ids() shouldBe Seq()
  }

  test("EP16: scd2 merge versions changed keys, skips identical ones, is rerun-idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/tmp/graft_io/scd2_spec"
    def d(s: String) = java.sql.Date.valueOf(s)
    // base: keys 1,2,3 current; key 1 also carries a closed 2023 version
    Seq(
      (1L, "alpha", 10L, d("2024-01-01"), null.asInstanceOf[java.sql.Date], true),
      (2L, "beta", 20L, d("2024-01-01"), null.asInstanceOf[java.sql.Date], true),
      (3L, "gamma", 30L, d("2024-01-01"), null.asInstanceOf[java.sql.Date], true),
      (1L, "alpha", 11L, d("2023-01-01"), d("2024-01-01"), false))
      .toDF("k", "name", "region", "valid_from", "valid_to", "is_current")
      .write.mode("overwrite").parquet(s"$dir/base")
    // changes: key 2 moves region (versions), key 3 identical (no-op),
    // key 9 unseen (inserts); key 1 absent (untouched)
    def writeChanges(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("k", "name", "region")
        .withColumn("eff", lit(d("2025-06-01")))
        .write.mode("overwrite").parquet(s"$dir/changes")
    writeChanges(Seq((2L, "beta", 99L), (3L, "gamma", 30L), (9L, "iota", 40L)))
    def yaml(base: String) =
      s"""name: scd2_spec
         |source: {format: parquet, path: "$base"}
         |transforms:
         |  - {op: merge, how: scd2, on: [k], expr: eff,
         |     table: {format: parquet, path: "$dir/changes"}}
         |  - {op: sort, cols: [k, valid_from]}
         |""".stripMargin
    def runDF(base: String) = PipelineRunner.run(spark, yaml(base)).passed
    def rows(base: String): Seq[(Long, String, Long, java.sql.Date, java.sql.Date, Boolean)] =
      runDF(base)
        .as[(Long, String, Long, java.sql.Date, java.sql.Date, Boolean)]
        .collect().toSeq
    val out = rows(s"$dir/base")
    out shouldBe Seq(
      (1L, "alpha", 11L, d("2023-01-01"), d("2024-01-01"), false),
      (1L, "alpha", 10L, d("2024-01-01"), null, true),
      (2L, "beta", 20L, d("2024-01-01"), d("2025-06-01"), false),
      (2L, "beta", 99L, d("2025-06-01"), null, true),
      (3L, "gamma", 30L, d("2024-01-01"), null, true),
      (9L, "iota", 40L, d("2025-06-01"), null, true))
    // rerun-idempotence: applying the SAME change set to the merged
    // result versions nothing further — every change now matches its
    // key's current attributes (or its insert), so merge∘merge = merge
    runDF(s"$dir/base").write.mode("overwrite").parquet(s"$dir/merged")
    rows(s"$dir/merged") shouldBe out
    // guard rails: duplicate change keys fail fast
    writeChanges(Seq((2L, "beta", 99L), (2L, "beta", 98L)))
    (the[IllegalArgumentException] thrownBy rows(s"$dir/base"))
      .getMessage should include("duplicate keys")
    // null effective date fails fast
    Seq((2L, "beta", 99L)).toDF("k", "name", "region")
      .withColumn("eff", lit(null).cast("date"))
      .write.mode("overwrite").parquet(s"$dir/changes")
    (the[IllegalArgumentException] thrownBy rows(s"$dir/base"))
      .getMessage should include("null")
    // a change set missing an attribute column fails fast (no silent
    // carry-forward ambiguity)
    Seq((2L, "beta")).toDF("k", "name")
      .withColumn("eff", lit(d("2025-06-01")))
      .write.mode("overwrite").parquet(s"$dir/changes")
    (the[IllegalArgumentException] thrownBy rows(s"$dir/base"))
      .getMessage should include("exactly the base's non-SCD columns")
    // a type-drifted change set fails fast instead of silently widening
    // the published dimension's schema
    Seq((2L, "beta", 99)).toDF("k", "name", "region") // region INT, base BIGINT
      .withColumn("eff", lit(d("2025-06-01")))
      .write.mode("overwrite").parquet(s"$dir/changes")
    (the[IllegalArgumentException] thrownBy rows(s"$dir/base"))
      .getMessage should include("types must match the base")
  }

  test("EP16: scd2 ≡ an independent reference implementation on randomized inputs") {
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    val dir = "/tmp/graft_io/scd2_prop"
    def d(s: String) = java.sql.Date.valueOf(s)
    val eff = d("2025-06-01")
    // base version chains + a change set over overlapping keys, with
    // nullable attributes so the null-safe comparison is exercised
    case class Ver(k: Long, name: String, region: java.lang.Long,
        vf: java.sql.Date, vt: java.sql.Date, cur: Boolean)
    val attr: Gen[(String, java.lang.Long)] = for {
      n <- Gen.oneOf("a", "b", null)
      r <- Gen.oneOf(Seq[java.lang.Long](1L, 2L, null))
    } yield (n, r)
    val scenario: Gen[(Seq[Ver], Seq[(Long, String, java.lang.Long)])] = for {
      curKeys <- Gen.someOf(0L to 7L)
      histKeys <- Gen.someOf(curKeys) // history only under existing keys
      curAttrs <- Gen.listOfN(curKeys.size, attr)
      histAttrs <- Gen.listOfN(histKeys.size, attr)
      chgKeys <- Gen.someOf(0L to 9L) // 8,9 = possible inserts
      chgAttrs <- Gen.listOfN(chgKeys.size, attr)
    } yield {
      val cur = curKeys.zip(curAttrs).map { case (k, (n, r)) =>
        Ver(k, n, r, d("2024-01-01"), null, cur = true) }
      val hist = histKeys.zip(histAttrs).map { case (k, (n, r)) =>
        Ver(k, n, r, d("2023-01-01"), d("2024-01-01"), cur = false) }
      val chg = chgKeys.zip(chgAttrs).map { case (k, (n, r)) => (k, n, r) }
      ((cur ++ hist).toSeq, chg.toSeq)
    }
    val baseSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("name", StringType), StructField("region", LongType),
      StructField("valid_from", DateType), StructField("valid_to", DateType),
      StructField("is_current", BooleanType, nullable = false)))
    val chgSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("name", StringType), StructField("region", LongType),
      StructField("eff", DateType)))
    forSamples(scenario, 6) { case (base, chg) =>
      spark.createDataFrame(
        java.util.Arrays.asList(base.map(v =>
          SRow(v.k, v.name, v.region, v.vf, v.vt, v.cur)): _*), baseSchema)
        .write.mode("overwrite").parquet(s"$dir/base")
      spark.createDataFrame(
        java.util.Arrays.asList(chg.map { case (k, n, r) =>
          SRow(k, n, r, eff) }: _*), chgSchema)
        .write.mode("overwrite").parquet(s"$dir/chg")
      val got = PipelineRunner.run(spark,
        s"""name: scd2_prop
           |source: {format: parquet, path: "$dir/base"}
           |transforms:
           |  - {op: merge, how: scd2, on: [k], expr: eff,
           |     table: {format: parquet, path: "$dir/chg"}}
           |""".stripMargin).passed
        .select(col("k"), col("name"), col("region"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(1)),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.getDate(3)).map(_.toString),
          Option(r.getDate(4)).map(_.toString), r.getBoolean(5)))
        .toSeq.sorted(Ordering.by((t: (Long, Option[String], Option[Long],
          Option[String], Option[String], Boolean)) => t.toString))
      // independent reference: plain Scala over the same rows
      val chgBy = chg.map(c => c._1 -> c).toMap
      val want = base.flatMap { v =>
        def row(vf: java.sql.Date, vt: java.sql.Date, cur: Boolean,
            n: String, r: java.lang.Long) =
          (v.k, Option(n), Option(r).map(_.longValue), Option(vf).map(_.toString),
            Option(vt).map(_.toString), cur)
        if (!v.cur) Seq(row(v.vf, v.vt, cur = false, v.name, v.region))
        else chgBy.get(v.k) match {
          case Some((_, n, r))
              if Option(n) != Option(v.name) ||
                 Option(r).map(_.longValue) != Option(v.region).map(_.longValue) =>
            Seq(row(v.vf, eff, cur = false, v.name, v.region),
              row(eff, null, cur = true, n, r))
          case _ => Seq(row(v.vf, v.vt, cur = true, v.name, v.region))
        }
      } ++ chg.collect {
        case (k, n, r) if !base.exists(v => v.cur && v.k == k) =>
          (k, Option(n), Option(r).map(_.longValue),
            Some(eff.toString), None, true)
      }
      got shouldBe want.sorted(Ordering.by((t: (Long, Option[String],
        Option[Long], Option[String], Option[String], Boolean)) => t.toString))
    }
  }

  test("examples: every shipped YAML parses; scd2 + mix examples run end-to-end") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.{col, concat, lit}
    import scala.jdk.CollectionConverters._
    val out = "/tmp/graft_io/examples_spec"
    def template(name: String): String =
      Files.readString(Paths.get(s"examples/$name"))
        .replace("SFDIR", sf).replace("OUTDIR", out)
    // rot guard: every example must at least PARSE against the current
    // config vocabulary (a renamed op or field breaks the suite, not a
    // user)
    val all = scala.util.Using.resource(Files.list(Paths.get("examples")))(
      _.iterator().asScala.map(_.getFileName.toString).toSeq.sorted)
    all should not be empty
    all.foreach { f =>
      // multi-document files (runAll chains) parse per document
      template(f).split("(?m)^---\\s*$").map(_.trim).filter(_.nonEmpty)
        .foreach { doc =>
          withClue(s"examples/$f: ")(PipelineSpec.parse(doc).name should not be empty)
        }
    }
    // the round-15 examples run end-to-end on the test data
    val dim = graft.core.Tables.nation(spark, sf)
      .select(col("n_nationkey").as("c_custkey"), col("n_name").as("c_name"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
    dim.write.mode("overwrite").parquet(s"$out/dim_customer")
    dim.where(col("c_custkey") < 5)
      .select(col("c_custkey"), concat(col("c_name"), lit("_v2")).as("c_name"))
      .withColumn("change_date", lit(java.sql.Date.valueOf("2025-01-01")))
      .write.mode("overwrite").parquet(s"$out/customer_changes")
    PipelineRunner.run(spark, template("scd2_dimension.yaml"))
    val scd2Out = spark.read.parquet(s"$out/dim_customer_next")
    scd2Out.where(!col("is_current")).count() shouldBe 5 // closed versions
    scd2Out.count() shouldBe dim.count() + 5             // + new versions
    PipelineRunner.run(spark, template("domain_mix.yaml"))
    val mixed = spark.read.parquet(s"$out/mixed_corpus")
    mixed.count() should be > 0L
    // only declared domains survive (at sf0.001 a low-share domain's
    // Bernoulli sample can legitimately come up empty, so subset not
    // equality — the exact-proportion law lives in the dedicated mix spec)
    val doms = mixed.select(col("source")).distinct()
      .collect().map(_.getString(0)).toSet
    doms should not be empty
    assert(doms.subsetOf(Set("src0", "src1", "src2")), s"unexpected domains $doms")
    val run1 = PipelineRunner.run(spark, template("epoch_shuffle.yaml")).passed
      .select(col("doc_id")).collect().map(_.getLong(0))
    run1 should not be empty
    // content-preserving: the committed sink holds exactly the permuted
    // rows (set equality — parquet read-back order is not contractual)
    spark.read.parquet(s"$out/epoch0_corpus").select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted shouldBe run1.sorted
    // deterministic: a re-run yields the same rows in the same ORDER
    PipelineRunner.run(spark, template("epoch_shuffle.yaml")).passed
      .select(col("doc_id")).collect().map(_.getLong(0)) shouldBe run1
  }

  test("mix: declared-mixture rebalancing keeps the binding domain whole, seed-stably") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = "/tmp/graft_io/mix_spec"
    // a: 100 rows, b: 300, c: 600, junk: 50 (undeclared → dropped).
    // Targets 0.5/0.3/0.2 → T = min(100/.5, 300/.3, 600/.2) = 200 →
    // fractions a=1.0 (binding), b=0.2, c≈0.0667
    ((0 until 100).map(i => ("a", i)) ++ (0 until 300).map(i => ("b", i)) ++
      (0 until 600).map(i => ("c", i)) ++ (0 until 50).map(i => ("junk", i)))
      .toDF("domain", "id").write.mode("overwrite").parquet(dir)
    def run(seed: Long) = PipelineRunner.run(spark,
      s"""name: mix_spec
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: mix, cols: [domain], seed: $seed,
         |     values: ["a:0.5", "b:0.3", "c:0.2"]}
         |""".stripMargin).passed
    val out = run(7L).select(col("domain"), col("id")).as[(String, Int)].collect()
    val byDom = out.groupBy(_._1).view.mapValues(_.length).toMap
    // the binding domain survives COMPLETELY — fraction 1.0 is exact
    byDom("a") shouldBe 100
    // undeclared domains are gone
    byDom.keySet shouldBe Set("a", "b", "c")
    // the sampled domains land near their Bernoulli expectation (60, 40);
    // ±40% absolute tolerance keeps the test deterministic-safe for any
    // seed while still catching a wrong fraction (b at 300·0.2=60 vs a
    // broken 300·0.5=150 is far outside the band)
    byDom("b").toDouble shouldBe 60.0 +- 24.0
    byDom("c").toDouble shouldBe 40.0 +- 16.0
    // seed stability: identical rows, not just identical counts
    run(7L).select(col("domain"), col("id")).as[(String, Int)]
      .collect().sorted shouldBe out.sorted
    // guard rails: unseeded and zero-row domains fail fast
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: mix_noseed
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: mix, cols: [domain], values: ["a:1"]}
         |""".stripMargin)).getMessage should include("seed")
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: mix_missing
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: mix, cols: [domain], seed: 1,
         |     values: ["a:0.5", "nope:0.5"]}
         |""".stripMargin)).getMessage should include("no rows")
  }

  test("shuffle: a seeded permutation — same rows, reproducible order, new seed new order") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = "/tmp/graft_io/shuffle_spec"
    (0 until 400).map(i => (i.toLong, s"doc_$i")).toDF("id", "payload")
      .write.mode("overwrite").parquet(dir)
    def run(seed: Long) = PipelineRunner.run(spark,
      s"""name: shuffle_spec
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: shuffle, cols: [id], seed: $seed}
         |""".stripMargin).passed
    val a = run(7L).select(col("id")).as[Long].collect()
    // a PERMUTATION: every row exactly once, nothing dropped or invented
    a.sorted shouldBe (0L until 400L).toArray
    // not the input order (the point), but reproducible across runs
    a should not be (0L until 400L).toArray
    run(7L).select(col("id")).as[Long].collect() shouldBe a
    // a different seed is a different epoch order over the same rows
    val b = run(8L).select(col("id")).as[Long].collect()
    b.sorted shouldBe a.sorted
    b should not be a
    // multi-column keys are hashed injectively: [\"a:b\",\"c\"] vs
    // [\"a\",\"b:c\"] must land in DIFFERENT slots (a raw concat_ws(\":\")
    // would collide them), and a NULL column is a distinct key value,
    // not dropped — so the permutation stays total-ordered and
    // deterministic even on adversarial keys
    val mdir = "/tmp/graft_io/shuffle_multicol"
    Seq((Some("a:b"), Some("c")), (Some("a"), Some("b:c")),
      (Some("a"), Option.empty[String]), (Option.empty[String], Some("a")))
      .toDF("x", "y").write.mode("overwrite").parquet(mdir)
    def runM() = PipelineRunner.run(spark,
      s"""name: shuffle_multicol
         |source: {format: parquet, path: "$mdir"}
         |transforms:
         |  - {op: shuffle, cols: [x, y], seed: 7}
         |""".stripMargin).passed
      .select(col("x"), col("y")).as[(Option[String], Option[String])].collect()
    val m1 = runM()
    m1.length shouldBe 4
    m1.toSet.size shouldBe 4   // all four keys kept distinct
    runM() shouldBe m1          // and the adversarial order is stable
    // guard rails: unseeded / keyless shuffles fail fast
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: shuffle_noseed
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: shuffle, cols: [id]}
         |""".stripMargin)).getMessage should include("seed")
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: shuffle_nokey
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: shuffle, seed: 1}
         |""".stripMargin)).getMessage should include("cols")
  }

  test("diff: change stream classifies exactly, and applying it to OLD reproduces NEW") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = "/tmp/graft_io/diff_spec"
    // old: keys 1..6; new: 2..7, with 3's value changed and 4's value
    // moved to/from NULL in both directions (the null-safe cases)
    Seq((1L, Some("a"), 10), (2L, Some("b"), 20), (3L, Some("c"), 30),
      (4L, Option.empty[String], 40), (5L, Some("e"), 50), (6L, Some("f"), 60))
      .toDF("id", "v", "w").write.mode("overwrite").parquet(s"$dir/old")
    Seq((2L, Some("b"), 20), (3L, Some("C!"), 30), (4L, Some("d"), 40),
      (5L, Option.empty[String], 50), (6L, Some("f"), 60), (7L, Some("g"), 70))
      .toDF("id", "v", "w").write.mode("overwrite").parquet(s"$dir/new")
    val d = PipelineRunner.run(spark,
      s"""name: diff_spec
         |source: {format: parquet, path: "$dir/old"}
         |transforms:
         |  - {op: diff, on: [id],
         |     table: {format: parquet, path: "$dir/new"}}
         |""".stripMargin).passed
    val rows = d.select(col("id"), col("change")).as[(Long, String)]
      .collect().toMap
    // 1 deleted; 3 value-changed; 4 NULL→value and 5 value→NULL (both
    // must register as updates — the null-safe contract); 7 inserted;
    // 2 and 6 unchanged → absent
    rows shouldBe Map(1L -> "delete", 3L -> "update", 4L -> "update",
      5L -> "update", 7L -> "insert")
    // the round-trip law that makes diff the snapshot-to-incremental
    // bridge: OLD + diff = NEW (upsert the insert/update rows, remove
    // the delete keys)
    val old = spark.read.parquet(s"$dir/old")
    val ups = d.where(col("change") =!= "delete").drop("change")
    val dels = d.where(col("change") === "delete").select(col("id"))
    val applied = old.join(dels, Seq("id"), "left_anti")
      .join(ups.select(col("id")), Seq("id"), "left_anti")
      .unionByName(ups)
    applied.exceptAll(spark.read.parquet(s"$dir/new")).count() shouldBe 0L
    spark.read.parquet(s"$dir/new").exceptAll(applied).count() shouldBe 0L
    // a NULL-valued key must still MATCH its counterpart (the join is
    // null-safe): unchanged NULL-key row → absent; changed → one update,
    // never a spurious delete+insert pair
    Seq((Option.empty[String], 1), (Some("k1"), 10), (Some("k2"), 20))
      .toDF("k", "v").write.mode("overwrite").parquet(s"$dir/nold")
    Seq((Option.empty[String], 1), (Some("k1"), 11), (Some("k2"), 20))
      .toDF("k", "v").write.mode("overwrite").parquet(s"$dir/nnew")
    val nd = PipelineRunner.run(spark,
      s"""name: diff_nullkey
         |source: {format: parquet, path: "$dir/nold"}
         |transforms:
         |  - {op: diff, on: [k],
         |     table: {format: parquet, path: "$dir/nnew"}}
         |""".stripMargin).passed
    nd.select(col("k"), col("change")).as[(Option[String], String)]
      .collect().toMap shouldBe Map(Option("k1") -> "update")
    // and a CHANGED NULL-key row is one update carrying the NULL key
    Seq((Option.empty[String], 2), (Some("k1"), 11), (Some("k2"), 20))
      .toDF("k", "v").write.mode("overwrite").parquet(s"$dir/nnew2")
    PipelineRunner.run(spark,
      s"""name: diff_nullkey2
         |source: {format: parquet, path: "$dir/nold"}
         |transforms:
         |  - {op: diff, on: [k],
         |     table: {format: parquet, path: "$dir/nnew2"}}
         |""".stripMargin).passed
      .select(col("k"), col("change")).as[(Option[String], String)]
      .collect().toMap shouldBe
      Map(Option.empty[String] -> "update", Option("k1") -> "update")
    // `cols` narrows what counts as changed: compare only w → value-only
    // edits disappear, inserts/deletes stay
    val dw = PipelineRunner.run(spark,
      s"""name: diff_spec_w
         |source: {format: parquet, path: "$dir/old"}
         |transforms:
         |  - {op: diff, on: [id], cols: [w],
         |     table: {format: parquet, path: "$dir/new"}}
         |""".stripMargin).passed
    dw.select(col("id"), col("change")).as[(Long, String)].collect().toMap shouldBe
      Map(1L -> "delete", 7L -> "insert")
    // guard rails: keyless, unknown compare column, and change-name
    // collisions fail fast
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: diff_nokey
         |source: {format: parquet, path: "$dir/old"}
         |transforms:
         |  - {op: diff, table: {format: parquet, path: "$dir/new"}}
         |""".stripMargin)).getMessage should include("on")
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: diff_badcol
         |source: {format: parquet, path: "$dir/old"}
         |transforms:
         |  - {op: diff, on: [id], cols: [nope],
         |     table: {format: parquet, path: "$dir/new"}}
         |""".stripMargin)).getMessage should include("shared")
    (the[IllegalArgumentException] thrownBy PipelineRunner.run(spark,
      s"""name: diff_collide
         |source: {format: parquet, path: "$dir/old"}
         |transforms:
         |  - {op: diff, on: [id], name: v,
         |     table: {format: parquet, path: "$dir/new"}}
         |""".stripMargin)).getMessage should include("collides")
  }

  test("A8: xml sink + xml source round-trip values through the YAML surface") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = "/tmp/graft_io/xml_sink_spec"
    PipelineRunner.run(spark,
      s"""name: xml_out
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms:
         |  - {op: select, cols: [r_regionkey, r_name]}
         |sink: {format: xml, path: "$dir", mode: overwrite,
         |       options: {rowTag: region}}
         |""".stripMargin)
    val back = PipelineRunner.run(spark,
      s"""name: xml_in
         |source:
         |  format: xml
         |  path: "$dir"
         |  schema: "r_regionkey BIGINT, r_name STRING"
         |  options: {rowTag: region}
         |transforms:
         |  - {op: sort, cols: [r_regionkey]}
         |""".stripMargin).passed
      .as[(Long, String)].collect()
    val want = spark.read.parquet(s"$sf/region.parquet")
      .select(col("r_regionkey"), col("r_name")).orderBy(col("r_regionkey"))
      .as[(Long, String)].collect()
    back shouldBe want
    back.length should be > 0
  }

  test("EP1: rename / cast / drop transforms compose in order") {
    val yaml =
      s"""name: t_demo
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms:
         |  - {op: rename, cols: ["r_name:region_name"]}
         |  - {op: cast, cols: [r_regionkey], to: string}
         |  - {op: drop, cols: [r_comment]}
         |""".stripMargin
    val out = PipelineRunner.run(spark, yaml).passed
    out.columns should contain("region_name")
    out.schema("r_regionkey").dataType.typeName shouldBe "string"
  }

  test("sessionize: gap election matches hand-computed sessions; guards fail loud") {
    import spark.implicits._
    val dir = "/tmp/graft_io/sessionize_src"
    // user 1: gaps 5, 100 (split), 5 → sessions 1,1,2,2; user 2: one event
    Seq((1L, 0L, 10L), (1L, 5L, 11L), (1L, 105L, 12L), (1L, 110L, 13L),
      (2L, 0L, 14L))
      .toDF("uid", "t", "eid").write.mode("overwrite").parquet(dir)
    val out = PipelineRunner.run(spark,
      s"""name: sess
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: sessionize, on: [uid], cols: [t, eid], threshold: 50}
         |  - {op: sort, cols: [uid, t]}
         |""".stripMargin).passed
      .select($"uid", $"t", $"session_seq").as[(Long, Long, Long)].collect()
    out shouldBe Array((1L, 0L, 1L), (1L, 5L, 1L), (1L, 105L, 2L),
      (1L, 110L, 2L), (2L, 0L, 1L))
    // a gap EXACTLY at the threshold stays in-session (strict >)
    val edge = PipelineRunner.run(spark,
      s"""name: sess_edge
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: sessionize, on: [uid], cols: [t, eid], threshold: 100}
         |""".stripMargin).passed
    edge.where($"uid" === 1)
      .select(org.apache.spark.sql.functions.max($"session_seq"))
      .head.getLong(0) shouldBe 1L
    // given ev1's fixed arguments (user key, (ts, event_id) order, a
    // 30-minute gap in epoch nanos) every event lands in ev1's session:
    // per-session counts and spans equal ev1's
    val tsNs =
      if (graft.core.Tables.eventsTsIsLong(spark, sf)) "ts"
      else "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
    PipelineRunner.run(spark,
      s"""name: sess_ev1
         |source: {format: parquet, path: "$sf/events.parquet"}
         |transforms:
         |  - {op: derive, name: tsn, expr: "$tsNs"}
         |  - {op: sessionize, on: [user_id], cols: [tsn, event_id],
         |     threshold: 1800000000000}
         |  - {op: aggregate, cols: [user_id, session_seq],
         |     aggs: ["COUNT(*) AS n_events",
         |            "(MAX(tsn) - MIN(tsn)) div 1000000 AS duration_ms"]}
         |  - {op: sort, cols: [user_id, session_seq]}
         |""".stripMargin).passed.collect().map(_.toSeq) shouldBe
      graft.queries.Events.ev1.build(spark, sf)
        .select("user_id", "session_seq", "n_events", "duration_ms")
        .collect().map(_.toSeq)
    // guards: missing threshold, non-numeric time column, streaming mode
    intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: sess_bad1
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: sessionize, on: [uid], cols: [t]}
         |""".stripMargin)).getMessage should include("threshold")
    intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: sess_bad2
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms:
         |  - {op: sessionize, on: [r_regionkey], cols: [r_name], threshold: 1}
         |""".stripMargin)).getMessage should include("numeric")
    intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: sess_bad3
         |mode: streaming
         |source: {format: parquet, path: "$dir", schema: "uid BIGINT, t BIGINT, eid BIGINT"}
         |transforms:
         |  - {op: sessionize, on: [uid], cols: [t, eid], threshold: 50}
         |""".stripMargin)).getMessage should include("batch-only")
  }

  test("mode maintenance: declared table ops run through YAML; knob hygiene fails loud") {
    import org.apache.spark.sql.functions.col
    import graft.tables.GraftTable
    import spark.implicits._
    val root = "/tmp/graft_io/acid_maint_cfg"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(rootPath, true)
    // fragment a table (4 single-file appends), then drive optimize +
    // delete_where + vacuum purely from YAML
    (0 until 4).foreach { i =>
      GraftTable.write(spark,
        Seq((i.toLong * 2, s"v$i"), (i.toLong * 2 + 1, s"v$i"))
          .toDF("id", "v").repartition(1), root,
        if (i == 0) "overwrite" else "append")
    }
    PipelineRunner.run(spark,
      s"""name: m_opt
         |mode: maintenance
         |maintenance: {op: optimize, path: "$root", target_files: 1}
         |""".stripMargin).passed.count() shouldBe 8L
    GraftTable.snapshot(root).files.size shouldBe 1
    val afterDelete = PipelineRunner.run(spark,
      s"""name: m_del
         |mode: maintenance
         |maintenance:
         |  op: delete_where
         |  path: "$root"
         |  where: "id >= 6"
         |""".stripMargin).passed
    afterDelete.select(col("id")).as[Long].collect().sorted shouldBe
      Array(0L, 1L, 2L, 3L, 4L, 5L)
    PipelineRunner.run(spark,
      s"""name: m_vac
         |mode: maintenance
         |maintenance: {op: vacuum, path: "$root", retention_hours: 0}
         |""".stripMargin).passed.count() shouldBe 6L
    // knob hygiene: foreign keys, missing requirements, stray pipeline
    // sections all fail at parse — never a silent no-op
    def bad(yaml: String, frag: String): Unit =
      intercept[IllegalArgumentException](
        PipelineSpec.parse(yaml)).getMessage should include(frag)
    bad(s"""name: b1
           |mode: maintenance
           |maintenance: {op: vacuum, path: "$root", where: "id > 1"}
           |""".stripMargin, "takes `retention_hours` only")
    bad(s"""name: b1b
           |mode: maintenance
           |maintenance: {op: optimize, path: "$root", target_files: 1,
           |              retention_hours: 0}
           |""".stripMargin, "retention_hours belongs to vacuum")
    bad(s"""name: b2
           |mode: maintenance
           |maintenance: {op: delete_where, path: "$root"}
           |""".stripMargin, "needs `where`")
    bad(s"""name: b3
           |mode: maintenance
           |maintenance: {op: update_where, path: "$root", where: "id = 1"}
           |""".stripMargin, "needs `set`")
    bad(s"""name: b4
           |mode: maintenance
           |maintenance: {op: restore, path: "$root", to_version: 2, where: "x"}
           |""".stripMargin, "takes `to_version` only")
    bad(s"""name: b5
           |mode: maintenance
           |maintenance: {op: optimize, path: "$root"}
           |""".stripMargin, "target_files")
    bad(s"""name: b6
           |mode: maintenance
           |maintenance: {op: compact, path: "$root"}
           |""".stripMargin, "unknown 'compact'")
    bad(s"""name: b6b
           |mode: maintenance
           |maintenance: {op: rename_column, path: "$root",
           |              set: {a: b, c: d}}
           |""".stripMargin, "exactly one {old_name: new_name}")
    bad(s"""name: b6c
           |mode: maintenance
           |maintenance: {op: rename_column, path: "$root",
           |              set: {a: b}, to_version: 1}
           |""".stripMargin, "takes `set: {old: new}` only")
    bad(s"""name: b6d
           |mode: maintenance
           |maintenance: {op: drop_column, path: "$root"}
           |""".stripMargin, "needs `column`")
    bad(s"""name: b6e
           |mode: maintenance
           |maintenance: {op: vacuum, path: "$root", column: x}
           |""".stripMargin, "column belongs to drop_column")
    bad(s"""name: b6f
           |mode: maintenance
           |maintenance: {op: vacuum, path: "$root", dead_row_fraction: "0.3"}
           |""".stripMargin, "dead_row_fraction belongs to auto_compact")
    bad(s"""name: b6g
           |mode: maintenance
           |maintenance: {op: auto_compact, path: "$root",
           |              dead_row_fraction: "1.5"}
           |""".stripMargin, "number in (0, 1]")
    bad(s"""name: b6h
           |mode: maintenance
           |maintenance: {op: auto_compact, path: "$root", target_files: 2}
           |""".stripMargin, "takes `dead_row_fraction` only")
    bad(s"""name: b7
           |mode: maintenance
           |source: {format: parquet, path: "/tmp/x"}
           |maintenance: {op: vacuum, path: "$root"}
           |""".stripMargin, "takes no `source`")
    bad(s"""name: b8
           |maintenance: {op: vacuum, path: "$root"}
           |""".stripMargin, "go together")
    bad(s"""name: b9
           |mode: maintenance
           |maintenance: {op: restore, path: "$root", to_version: "two"}
           |""".stripMargin, "integer expected")
    bad(s"""name: b10
           |mode: maintenance
           |maintenance: {op: add_constraint, path: "$root", constraint_name: c1}
           |""".stripMargin, "needs `constraint_name` + `check`")
    bad(s"""name: b11
           |mode: maintenance
           |maintenance: {op: vacuum, path: "$root", constraint_name: c1}
           |""".stripMargin, "belong to add_constraint")
    // constraint lifecycle through YAML: add over clean data, drop again
    PipelineRunner.run(spark,
      s"""name: m_cons
         |mode: maintenance
         |maintenance: {op: add_constraint, path: "$root",
         |              constraint_name: id_small, check: "id < 100"}
         |""".stripMargin)
    GraftTable.constraints(root) shouldBe Map("id_small" -> "id < 100")
    PipelineRunner.run(spark,
      s"""name: m_cons_drop
         |mode: maintenance
         |maintenance: {op: drop_constraint, path: "$root",
         |              constraint_name: id_small}
         |""".stripMargin)
    GraftTable.constraints(root) shouldBe Map.empty
    // verify_constraints: the audit op returns violation counts, not data
    GraftTable.addConstraint(spark, root, "id_pos", "id >= 0")
    val audit = PipelineRunner.run(spark,
      s"""name: m_audit
         |mode: maintenance
         |maintenance: {op: verify_constraints, path: "$root"}
         |""".stripMargin).passed
    audit.columns shouldBe Array("constraint", "violations")
    audit.as[(String, Long)].collect() shouldBe Array(("id_pos", 0L))
  }

  test("runAll: a multi-document YAML runs in order and fail-fast aborts the tail") {
    import graft.tables.GraftTable
    val root = "/tmp/graft_io/acid_chain_spec"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(rootPath, true)
    spark.range(10).selectExpr("id", "CAST(id * 10 AS DOUBLE) AS x")
      .write.mode("overwrite").parquet(s"${root}_src")
    val chain =
      s"""name: c_publish
         |source: {format: parquet, path: "${root}_src"}
         |sink: {format: graft_table, path: "$root", mode: overwrite}
         |---
         |name: c_ttl
         |mode: maintenance
         |maintenance: {op: delete_where, path: "$root", where: "id >= 7"}
         |---
         |name: c_read
         |source: {format: graft_table, path: "$root"}
         |""".stripMargin
    PipelineRunner.runAll(spark, chain).passed.count() shouldBe 7L
    // fail-fast: a failing middle activity aborts before the tail runs —
    // the delete (doc 2 here) must NOT happen after doc 1 fails
    rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(rootPath, true)
    PipelineRunner.run(spark,
      s"""name: c_seed
         |source: {format: parquet, path: "${root}_src"}
         |sink: {format: graft_table, path: "$root", mode: overwrite}
         |""".stripMargin)
    intercept[IllegalArgumentException](PipelineRunner.runAll(spark,
      s"""name: c_bad
         |mode: maintenance
         |maintenance: {op: delete_where, path: "$root"}
         |---
         |name: c_never
         |mode: maintenance
         |maintenance: {op: delete_where, path: "$root", where: "id >= 0"}
         |""".stripMargin))
    GraftTable.read(spark, root).count() shouldBe 10L // c_never never ran
    intercept[IllegalArgumentException](
      PipelineRunner.runAll(spark, "   ")).getMessage should include("no pipeline")
  }
}
