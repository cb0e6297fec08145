package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.CosineSimilarity

/** Round-4 hardening regressions (VERDICT r3 "What's wrong" #1-#3):
  * zero-norm cosine, short-doc shingles, shared-conf scoping. */
class HardeningSpec extends SparkSpecBase {
  import spark.implicits._

  test("M3: cosine of a zero-norm vector is null, not NaN (interpreted path)") {
    def arr(xs: Double*) =
      Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(DoubleType))
    val zero = CosineSimilarity(arr(0.0, 0.0), arr(1.0, 2.0))
    assert(zero.eval() == null)
    val sym = CosineSimilarity(arr(1.0, 2.0), arr(0.0, 0.0))
    assert(sym.eval() == null)
    val ok = CosineSimilarity(arr(1.0, 0.0), arr(1.0, 0.0))
    ok.eval().asInstanceOf[Double] shouldBe 1.0 +- 1e-12
  }

  test("M3: cosine of a zero-norm vector is null under whole-stage codegen") {
    val df = Seq(
      (1L, Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)),
      (2L, Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0)))
      .toDF("id", "a", "b")
      .selectExpr("id", "graft_cosine(a, b) AS c")
      .orderBy("id")
    val rows = df.collect()
    rows(0).isNullAt(1) shouldBe true
    rows(1).getDouble(1) shouldBe 1.0 +- 1e-12
  }

  test("J6b: the guarded shingle build handles <=2-token docs without throwing") {
    // same expression as j6b's `sh` column — sequence(1, size-2) would
    // DESCEND for these inputs and slice would throw
    val df = Seq((1L, "one two"), (2L, "single"), (3L, "a b c d"))
      .toDF("doc_id", "text")
      .withColumn("t", split(lower(col("text")), " "))
      .withColumn("sh", sort_array(array_distinct(
        expr("""transform(
                  CASE WHEN size(t) >= 3 THEN sequence(1, size(t) - 2)
                       ELSE CAST(array() AS ARRAY<INT>) END,
                  i -> concat_ws(' ', slice(t, i, 3)))"""))))
      .select("doc_id", "sh")
      .orderBy("doc_id")
    val rows = df.collect()
    rows(0).getSeq[String](1) shouldBe Seq.empty   // 2 tokens -> no trigram
    rows(1).getSeq[String](1) shouldBe Seq.empty   // 1 token  -> no trigram
    rows(2).getSeq[String](1) shouldBe Seq("a b c", "b c d")
  }

  test("J10: graft_rolling_hash matches the HOF rolling hash bit-for-bit") {
    val samples = Seq(
      "", "a", "hello world", "The quick brown fox", "  spaced  out  ",
      "punct!?;:#", "ünïcødé ßtring", "emoji 😀 mix",
      ("x" * 500) + " tail")
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
      .select(col("id"),
        expr("graft_rolling_hash(text)").as("fused"),
        expr("""aggregate(
            |  transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
            |  0L, (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin).as("hof"))
      .orderBy("id")
    df.collect().foreach { r =>
      withClue(s"sample ${r.getLong(0)}: ") {
        r.getLong(1) shouldBe r.getLong(2)
      }
    }
    // null propagates
    Seq((1L, null: String)).toDF("id", "text")
      .selectExpr("graft_rolling_hash(text) AS h")
      .head().isNullAt(0) shouldBe true
  }

  test("J10: graft_bpeish_count matches the regexp match count exactly") {
    val samples = Seq(
      "", "a", "aa", "b", "ab", "ba", "hello world", "  double  spaces ",
      "AEIOU upper are not vowels", "punct!?;: #tags", "ünïcødé ßtring",
      "emoji 😀 mix", "trailing space ", " leading", "aeiou" * 40)
    samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
      .select(col("id"),
        expr("graft_bpeish_count(text)").as("fused"),
        org.apache.spark.sql.functions
          .size(expr("regexp_extract_all(text, '[aeiou]+|[^aeiou ]+', 0)"))
          .cast("long").as("rx"))
      .collect().foreach { r =>
        withClue(s"sample ${r.getLong(0)}: ") {
          r.getLong(1) shouldBe r.getLong(2)
        }
      }
  }

  test("A3b: PERMISSIVE quarantine captures exactly the malformed raw lines") {
    import graft.queries.Sources
    Sources.writeMalformedCsv()
    // Cache the parsed frame before touching _corrupt: corrupt-marking is
    // projection-dependent (pruning re-parses only selected columns), and
    // Spark disallows a plan whose scan output is only the corrupt column
    // — cache() pins the full parse, the documented recipe.
    val parsed = Sources.permissiveCsv(spark).cache()
    try {
      val bad = parsed.where(col("_corrupt").isNotNull)
        .select(col("_corrupt")).as[String].collect().sorted
      bad shouldBe Array("2;beta;oops", "x;bad_id;2.0", "y;both;zz")
      // clean half: the three type-valid rows, fully parsed
      val clean = parsed.where(col("_corrupt").isNull)
        .select(col("id")).as[Long].collect().sorted
      clean shouldBe Array(1L, 3L, 4L)
    } finally parsed.unpersist()
  }

  test("K12: connectedComponents handles empty node sets and refuses non-convergence") {
    import graft.queries.Similarity
    // empty graph: the (empty) fixpoint, not an NPE on SUM(NULL)
    val noNodes = Seq.empty[Long].toDF("vec_id")
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    Similarity.connectedComponents(noNodes, noEdges).count() shouldBe 0L
    // a 9-hop chain cannot converge in 2 rounds: wrong labels must THROW,
    // never return silently
    val nodes = (0L to 9L).toDF("vec_id")
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Similarity.connectedComponents(nodes, chain, maxRounds = 2)
    }
    e.getMessage should include("did not converge")
    // and with enough rounds the same graph collapses to one component
    val ok = Similarity.connectedComponents(nodes, chain)
    ok.select("lbl").distinct().count() shouldBe 1L
  }

  test("EP: flatten refuses to overwrite unrelated columns; merge refuses dup-keyed change sets") {
    import graft.pipeline.PipelineRunner
    val sfDir = sf
    // flatten output name colliding with a non-array column
    val eFlat = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: flat_collide
         |source: {format: parquet, path: "$sfDir/region.parquet"}
         |transforms:
         |  - {op: derive, name: arr, expr: "array(r_regionkey)"}
         |  - {op: flatten, cols: [arr], name: r_name}
         |""".stripMargin))
    eFlat.getMessage should include("already exists")
    // posexplode position column colliding
    val ePos = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: flat_pos_collide
         |source: {format: parquet, path: "$sfDir/region.parquet"}
         |transforms:
         |  - {op: derive, name: arr, expr: "array(r_regionkey)"}
         |  - {op: flatten, cols: [arr], name: v, to: r_name}
         |""".stripMargin))
    ePos.getMessage should include("already exists")
    // merge upsert with a duplicate-keyed change set: SQL MERGE parity
    val dupDir = java.nio.file.Files.createTempDirectory("graft_dup_merge").toString
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .where(col("n_nationkey") === 1)
      .unionByName(spark.read.parquet(s"$sfDir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .where(col("n_nationkey") === 1))
      .write.mode("overwrite").parquet(s"$dupDir/updates")
    val eDup = intercept[IllegalArgumentException](PipelineRunner.run(spark,
      s"""name: merge_dup
         |source: {format: parquet, path: "$sfDir/nation.parquet"}
         |transforms:
         |  - {op: select, cols: [n_nationkey, n_name, n_regionkey]}
         |  - {op: merge, on: [n_nationkey],
         |     table: {format: parquet, path: "$dupDir/updates"}}
         |""".stripMargin).passed.count())
    eDup.getMessage should include("duplicate keys")
  }

  test("EP7: minhash_dedup keeps null, empty and whitespace texts distinct") {
    import graft.pipeline.PipelineRunner
    val dir = java.nio.file.Files.createTempDirectory("graft_mhd_null").toString
    // null texts tokenize to a NULL array; empty texts to [""] — the
    // set fingerprint must keep null / [""] / real sets apart (a joined-
    // string key would collapse all three to the same "" bucket)
    Seq((1L, null: String), (2L, null: String), (3L, ""), (4L, ""),
      (5L, "alpha beta"), (6L, "alpha beta"), (7L, "unique words here"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    def survivors(threshold: Double) = PipelineRunner.run(spark,
      s"""name: mhd_null
         |source: {format: parquet, path: "$dir"}
         |transforms:
         |  - {op: tokenize, cols: [text], name: toks}
         |  - {op: minhash_dedup, cols: [doc_id, toks], threshold: $threshold}
         |  - {op: sort, cols: [doc_id]}
         |""".stripMargin).passed.select("doc_id").as[Long].collect().toSeq
    // identical-set groups: {1,2} null, {3,4} [""], {5,6}, {7}
    survivors(1.0) shouldBe Seq(1L, 3L, 5L, 7L)
    // the LSH path (sub-1.0) must also survive null signatures: null-set
    // docs emit no bands and stay singleton representatives
    survivors(0.9) shouldBe Seq(1L, 3L, 5L, 7L)
  }

  test("D7: as-of type widening keeps the declared output column types") {
    import graft.plans.AsOf
    val l = Seq((1, 10L, "L1"), (2, 10L, "L2")).toDF("lk", "lt", "lid") // INT key
    val r = Seq((1L, 5, "R1")).toDF("rk", "rt", "rid") // BIGINT key, INT ts
    val out = AsOf.join(l, r, Seq("lk"), Seq("rk"), "lt", "rt")
    // the comparison ran widened, but the OUTPUT schema is untouched
    out.schema("lk").dataType shouldBe IntegerType
    out.schema("rk").dataType shouldBe LongType
    out.schema("lt").dataType shouldBe LongType
    out.schema("rt").dataType shouldBe IntegerType
    out.columns.count(_.startsWith("__asof")) shouldBe 0
    out.where(col("lid") === "L1").head.getAs[String]("rid") shouldBe "R1"
  }

  test("A6: atomic sink commit — a write that dies mid-flight leaves the old target intact") {
    import graft.pipeline.PipelineRunner
    val dir = "/tmp/graft_io/atomic_sink"
    def pipeline(derive: String) =
      s"""name: atomic_demo
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms:
         |  - {op: derive, name: tag, expr: "$derive"}
         |sink: {format: parquet, path: "$dir", mode: overwrite}
         |""".stripMargin
    // run 1 publishes a good target
    PipelineRunner.run(spark, pipeline("'v1'"))
    spark.read.parquet(dir).count() shouldBe 5
    // run 2 fails DURING the sink write: the ANSI cast throws inside the
    // write tasks (execution time, not planning), after the old target
    // would already be deleted under a naive mode(overwrite) write
    intercept[Exception] {
      PipelineRunner.run(spark, pipeline("CAST(r_name AS INT)"))
    }
    // the previously published target survives, byte-for-byte readable
    val after = spark.read.parquet(dir)
    after.count() shouldBe 5
    after.select("tag").distinct().collect().map(_.getString(0)) shouldBe Array("v1")
    // and a later good run still publishes over the crash debris
    PipelineRunner.run(spark, pipeline("'v2'"))
    spark.read.parquet(dir).select("tag").distinct()
      .collect().map(_.getString(0)) shouldBe Array("v2")
  }

  test("A6: sink evolve policy — add_nulls unions by name, fail reports the drift") {
    import graft.pipeline.PipelineRunner
    val dir = "/tmp/graft_io/evolve_sink"
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    def pipeline(cols: String, evolve: String) =
      s"""name: evolve_demo
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms:
         |  - {op: derive, name: r_pop, expr: "CAST(r_regionkey * 10 AS INT)"}
         |  - {op: select, cols: [$cols]}
         |sink: {format: parquet, path: "$dir", mode: overwrite, evolve: $evolve}
         |""".stripMargin
    // first write: (r_regionkey, r_name)
    PipelineRunner.run(spark, pipeline("r_regionkey, r_name", "add_nulls"))
    // evolved write drops r_name, adds r_pop → union keeps all three:
    // target layout first, dropped column as typed null, new one appended
    PipelineRunner.run(spark, pipeline("r_regionkey, r_pop", "add_nulls"))
    val out = spark.read.parquet(dir)
    out.columns.toSeq shouldBe Seq("r_regionkey", "r_name", "r_pop")
    out.where(col("r_name").isNotNull).count() shouldBe 0
    out.where(col("r_pop").isNull).count() shouldBe 0
    // fail policy: the same drift aborts BEFORE writing, target untouched
    val e = intercept[IllegalArgumentException] {
      PipelineRunner.run(spark, pipeline("r_regionkey", "fail"))
    }
    e.getMessage should include("schema drift")
    spark.read.parquet(dir).columns.length shouldBe 3
    // type drift is never evolvable, under either policy
    val e2 = intercept[IllegalArgumentException] {
      PipelineRunner.run(spark,
        s"""name: evolve_retype
           |source: {format: parquet, path: "$sf/region.parquet"}
           |transforms:
           |  - {op: derive, name: r_name, expr: "CAST(r_regionkey AS DOUBLE)"}
           |  - {op: select, cols: [r_regionkey, r_name]}
           |sink: {format: parquet, path: "$dir", mode: overwrite, evolve: add_nulls}
           |""".stripMargin)
    }
    e2.getMessage should include("type drift")
  }

  test("EP13: quality_filter/decontaminate/redact handle null and empty inputs") {
    import graft.pipeline.PipelineRunner
    val tmp = java.nio.file.Files.createTempDirectory("graft_null_edge").toString
    Seq((Some(1L), Some("a a a a b")), // dup_frac 0.6 — over a 0.5 bar
        (Some(2L), Some("x y z")),     // dup_frac 0 — keeps
        (Some(3L), Some("")),          // empty text → one empty token
        (Some(4L), None: Option[String]), // null text → null tokens
        (None: Option[Long], Some("x y z")))  // null id
      .toDF("id", "txt").write.mode("overwrite").parquet(tmp)
    def run(ops: String) = PipelineRunner.run(spark,
      s"""name: null_edges
         |source: {format: parquet, path: "$tmp"}
         |transforms:
         |  - {op: tokenize, cols: [txt], name: toks}
         |$ops
         |""".stripMargin).passed
    // quality_filter: null-token rows have no signal and drop; the empty
    // string tokenizes to one "" token (dup_frac 0) and keeps
    val kept = run("""  - {op: quality_filter, cols: [toks], threshold: 0.5}""")
      .select("id").collect().map(r => Option(r.get(0)))
    kept.flatten.toSet shouldBe Set(2L, 3L)
    kept.count(_.isEmpty) shouldBe 1 // the null-id row carries through
    // decontaminate: null ids can never match the contaminated-id set —
    // they pass through the anti join (same contract as minhash_dedup)
    val cleaned = run(
      s"""  - {op: decontaminate, cols: [id, toks], k: 2, where: "id = 2",
         |     table: {format: parquet, path: "$tmp"}, to: txt}""".stripMargin)
      .select("id").collect().map(r => Option(r.get(0)))
    cleaned.flatten.toSet shouldBe Set(1L, 3L, 4L) // doc 2 is the benchmark; null id survives
    cleaned.count(_.isEmpty) shouldBe 1
    // redact: null text stays null, no throw
    val red = run("""  - {op: redact, cols: [txt], values: ["N:[0-9]+"]}""")
    red.where(col("id") === 4L).select("txt").head.isNullAt(0) shouldBe true
  }

  test("conf scoping: a streaming run leaves the shared batch SQLConf untouched") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // l1 runs a real AvailableNow stream through runToBatch (which pins 8
    // partitions on a CLONED session)
    SparkEntry.queries("l1_tumbling_window")(spark, sf).limit(1).collect()
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe before
    // and a batch plan built right after still shuffles with the session
    // setting, not the stream override
    val batchParts = Seq(1, 2, 3).toDF("x").groupBy($"x").count()
      .queryExecution.executedPlan.toString()
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe before
    batchParts should not be empty
  }

  test("A6: crash between the commit renames — the retired copy is restored, not deleted") {
    import graft.pipeline.PipelineRunner
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = "/tmp/graft_io/atomic_recover"
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def pipeline(derive: String) =
      s"""name: atomic_recover
         |source: {format: parquet, path: "$sf/region.parquet"}
         |transforms:
         |  - {op: derive, name: tag, expr: "$derive"}
         |sink: {format: parquet, path: "$dir", mode: overwrite}
         |""".stripMargin
    PipelineRunner.run(spark, pipeline("'v1'"))
    // simulate a crash BETWEEN rename(target→retired) and
    // rename(staging→target): the retired dir is the only committed copy
    val target = new org.apache.hadoop.fs.Path(dir)
    val retired = new org.apache.hadoop.fs.Path(
      target.getParent, target.getName + "__retired")
    fs.rename(target, retired) shouldBe true
    fs.exists(target) shouldBe false
    // the NEXT run fails mid-write (ANSI cast throws in the write tasks).
    // Pre-fix behavior deleted the retired copy as debris first — a
    // permanent data loss; post-fix the run restores it on entry, so the
    // dataset stays published even though this run never commits.
    intercept[Exception] { PipelineRunner.run(spark, pipeline("CAST(r_name AS INT)")) }
    val restored = spark.read.parquet(dir)
    restored.count() shouldBe 5
    restored.select("tag").distinct().collect().map(_.getString(0)) shouldBe Array("v1")
    // and a later good run publishes over the restored copy normally
    PipelineRunner.run(spark, pipeline("'v2'"))
    spark.read.parquet(dir).select("tag").distinct()
      .collect().map(_.getString(0)) shouldBe Array("v2")
  }

  test("A6: a trailing slash in the sink path keeps staging a SIBLING, not a child") {
    import graft.pipeline.PipelineRunner
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = "/tmp/graft_io/atomic_slash"
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def pipeline = // note the configured path ends in '/'
      s"""name: atomic_slash
         |source: {format: parquet, path: "$sf/region.parquet"}
         |sink: {format: parquet, path: "$dir/", mode: overwrite}
         |""".stripMargin
    // pre-fix, string-concat staging ("$dir/__staging") nested INSIDE the
    // target made the retire rename move a directory into its own child —
    // every overwrite-of-existing run failed; two runs must both commit
    PipelineRunner.run(spark, pipeline)
    PipelineRunner.run(spark, pipeline)
    spark.read.parquet(dir).count() shouldBe 5
    fs.exists(new org.apache.hadoop.fs.Path(dir + "/__staging")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(dir + "__staging")) shouldBe false
  }

  test("EP: evolve on a bucketed sink is rejected at parse time, not silently dropped") {
    // the bucketed branch writes through saveAsTable and never applies
    // evolution — accepting the key there would no-op it, violating the
    // config contract (a key must act or fail)
    val e = intercept[IllegalArgumentException] {
      graft.config.PipelineSpec.parse(
        s"""name: evolve_bucketed
           |source: {format: parquet, path: "$sf/region.parquet"}
           |sink: {format: parquet, path: /tmp/graft_io/nope, table: nope_t,
           |       buckets: 4, bucketBy: [r_regionkey], evolve: add_nulls}
           |""".stripMargin)
    }
    e.getMessage should include("path sinks only")
  }

  test("EP13: quality_filter survives zero-token rows under ANSI (tag → null, drop → drops)") {
    import graft.pipeline.PipelineRunner
    val tmp = java.nio.file.Files.createTempDirectory("graft_zero_toks").toString
    Seq((1L, "stop stop stop"), (2L, "fresh words here"))
      .toDF("id", "txt").write.mode("overwrite").parquet(tmp)
    // the derive empties row 1's token array — exactly what a
    // tokenize+stopword chain produces; a bare x/size(toks) would throw
    // DIVIDE_BY_ZERO under ANSI (the Spark 4 default) in BOTH variants
    def run(ops: String) = PipelineRunner.run(spark,
      s"""name: zero_toks
         |source: {format: parquet, path: "$tmp"}
         |transforms:
         |  - {op: derive, name: toks, expr: "filter(split(txt, ' '), t -> t != 'stop')"}
         |$ops
         |""".stripMargin).passed
    val tagged = run("""  - {op: quality_filter, cols: [toks], threshold: 0.5, name: score}""")
      .orderBy("id").select("score").collect()
    tagged(0).isNullAt(0) shouldBe true // no tokens → no signal, not a crash
    tagged(1).getDouble(0) shouldBe 0.0
    val kept = run("""  - {op: quality_filter, cols: [toks], threshold: 0.5}""")
      .select("id").collect().map(_.getLong(0))
    kept.toSeq shouldBe Seq(2L)
  }

  test("K12: reliable-checkpoint mode runs the clustering loop against a checkpoint dir") {
    import graft.core.Tables
    import graft.queries.Similarity
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_cp").toString
    // the env var is the deployment surface; the sys-prop twin exists so a
    // test JVM (which cannot set its own environment) can flip the mode
    System.setProperty("graft.checkpoint.dir", dir)
    try {
      // k12b-shaped: LSH → verify → connected components over documents
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), array_distinct(split(lower(col("text")), " ")).as("ts"))
      val reliable = Similarity.lshClusters(docs, threshold = 0.8, bucketCap = 4096)
        .as[(Long, Long)].collect().toMap
      // the loop really checkpointed to the shared dir (cluster-durable
      // blocks — what survives executor loss on a real deployment)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val root = spark.sparkContext.getCheckpointDir.get
      fs.listStatus(new org.apache.hadoop.fs.Path(root)) should not be empty
      System.clearProperty("graft.checkpoint.dir")
      graft.core.Checkpoints.releaseAll(spark)
      val local = Similarity.lshClusters(docs, threshold = 0.8, bucketCap = 4096)
        .as[(Long, Long)].collect().toMap
      reliable shouldBe local // identical labels under either durability mode
    } finally {
      System.clearProperty("graft.checkpoint.dir")
      graft.core.Checkpoints.releaseAll(spark)
    }
  }

  test("j19: window dedup removes straddling-alignment overlap that j17's chunk grid misses") {
    import spark.implicits._
    val dir = "/tmp/graft_io/j19fix"
    // doc 2 repeats doc 1's tokens 4..11 — an 8-token verbatim span that
    // CROSSES doc 1's chunk boundary (chunks are [0..7], [8..15]), so
    // chunk-grid dedup (j17) sees two never-before-seen chunks in doc 2
    // and keeps everything; window dedup must remove exactly that span
    val d1 = (0 until 16).map(i => s"w$i").mkString(" ")
    val d2 = ((4 until 12).map(i => s"w$i") ++ Seq("x0", "x1")).mkString(" ")
    Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.TextOps2.j19.build(spark, dir)
      .as[(Long, Long, Long, String)].collect().toMap2
    out(1L) shouldBe ((16L, 16L, d1)) // first carrier keeps everything
    out(2L) shouldBe ((10L, 2L, "x0 x1")) // the straddling span is gone
    // and j17 on the same fixture keeps doc 2 whole — the gap j19 closes
    val j17out = graft.queries.TextOps2.j17.build(spark, dir)
      .as[(Long, Long, Long, String)].collect().toMap2
    j17out(2L)._3 shouldBe d2
  }

  test("j20: run-length election hits the L=16 bar with K=8 windows — " +
    "removes a chimera span no single 16-window election sees; keeps " +
    "sub-bar repeats j19's smaller K would destroy") {
    import spark.implicits._
    val dir = "/tmp/graft_io/j20fix"
    val t = (0 until 16).map(i => s"t$i")
    val d1 = t.take(12).mkString(" ")  // doc1 = t0..t11
    val d2 = t.drop(4).mkString(" ")   // doc2 = t4..t15
    val d3 = t.mkString(" ")           // doc3 = t0..t15: the CHIMERA —
    // stitched from doc1's and doc2's halves, it duplicates 16 tokens in
    // total but NO single 16-token window of it occurs anywhere else
    val d4 = (0 until 10).map(i => s"u$i").mkString(" ")
    val d5 = ((0 until 10).map(i => s"u$i") ++ Seq("z0", "z1")).mkString(" ")
    Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.TextOps2.j20.build(spark, dir)
      .as[(Long, Long, Long, String)].collect().toMap2
    out(1L) shouldBe ((12L, 12L, d1)) // first carriers keep everything
    out(2L) shouldBe ((12L, 12L, d2))
    out(3L) shouldBe ((16L, 0L, "")) // chimera fully condemned: 9
    // consecutive marked 8-window starts cover 16 >= L tokens
    out(5L) shouldBe ((12L, 12L, d5)) // a 10-token repeat is SUB-BAR: kept
    // a same-bar single-window election (j19's algebra at K = L = 16)
    // finds nothing to mark here — no 16-token window repeats at all
    val all16 = Seq(d1, d2, d3, d4, d5)
      .flatMap(_.split(" ").sliding(16).filter(_.length == 16).map(_.mkString(" ")))
    all16.groupBy(identity).values.forall(_.size == 1) shouldBe true
    // while j19 at its own K=8 bar kills doc5's 10-token repeat — the
    // run election keeps sub-bar natural repetition intact
    graft.queries.TextOps2.j19.build(spark, dir)
      .as[(Long, Long, Long, String)].collect().toMap2
      .apply(5L)._3 shouldBe "z0 z1"
  }

  private implicit class Map2[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] =
      rows.map { case (a, b, c, d) => a -> ((b, c, d)) }.toMap
  }
}
