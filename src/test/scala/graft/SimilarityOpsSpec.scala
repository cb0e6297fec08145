package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.core.Tables
import graft.queries.Similarity

/** §2.K laws: cosine bounds, expression≡HOF agreement, K6 LSH recall
  * against K5-style ground truth (SURVEY §5.2 items 3-4). */
class SimilarityOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private val vec = Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0))
    .suchThat(v => v.exists(_ != 0.0))

  private def cosineDF(a: List[Double], b: List[Double]) = {
    Seq((a, b)).toDF("a", "b")
      .select(
        expr("graft_cosine(a, b)").as("expr_cos"),
        (expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)") /
          (sqrt(expr("aggregate(zip_with(a, a, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")) *
           sqrt(expr("aggregate(zip_with(b, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")))).as("hof_cos"))
      .head()
  }

  test("K3/M3: cosine ∈ [-1, 1], cos(v, v) = 1, Expression ≡ HOF bit-for-bit") {
    forSamples(Gen.zip(vec, vec), 12) { case (a, b) =>
      val r = cosineDF(a, b)
      val e = r.getDouble(0); val h = r.getDouble(1)
      e shouldBe h // identical sequential accumulation → bit-equal
      e should be >= -1.0000001
      e should be <= 1.0000001
      cosineDF(a, a).getDouble(0) shouldBe 1.0 +- 1e-9
    }
  }

  test("M3: graft_cosine survives codegen and interpreted paths equally") {
    val d = Tables.embeddings(spark, sf)
      .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
    val on = d.select(expr("graft_cosine(e, e)").as("c")).agg(sum("c")).head().getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val off = try d.select(expr("graft_cosine(e, e)").as("c")).agg(sum("c")).head().getDouble(0)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    on shouldBe off
  }

  test("K6: LSH recall ≥ 0.85 at Jaccard ≥ 0.8; exact-dup sets always candidates") {
    val candidates = Similarity.k6.build(spark, sf)
      .as[(Long, Long)].collect().toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(split(lower(col("text")), " ")).as("ts"))
      .as[(Long, Seq[String])].collect()
    val jac = for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      j = (ta.toSet & tb.toSet).size.toDouble / (ta.toSet ++ tb.toSet).size
    } yield ((ia, ib), j)
    // identical token SETS have identical minhash signatures → always found
    val exactDups = jac.collect { case (p, j) if j == 1.0 => p }.toSet
    exactDups.diff(candidates) shouldBe empty
    // banding theory: P(candidate | j=0.8) = 1-(1-0.8^3)^4 ≈ 0.94; the
    // mass of truth pairs sits above 0.8 → recall comfortably ≥ 0.85.
    val truth = jac.collect { case (p, j) if j >= 0.8 => p }.toSet
    val recall = truth.count(candidates).toDouble / math.max(truth.size, 1)
    withClue(s"truth=${truth.size} candidates=${candidates.size} recall=$recall: ") {
      recall should be >= 0.85
    }
  }

  test("K6: graft_minhash_sig ≡ the HOF xxhash64 composition bit-for-bit") {
    import spark.implicits._
    // corpus docs plus the edge cases: empty array (all-null lanes), a
    // null token (hashes to the bare seed), duplicated tokens (min is
    // idempotent), unicode
    val edge = Seq(
      Seq.empty[String], Seq(null: String), Seq("a", null, "b"),
      Seq("x", "x", "x"), Seq("ünïcødé", "😀", ""), Seq("solo"))
      .toDF("ts")
    val corpus = Tables.documents(spark, sf)
      .select(array_distinct(split(lower(col("text")), " ")).as("ts"))
    Seq(edge, corpus).foreach { src =>
      val n = 8
      val both = src
        .withColumn("fused", expr(s"graft_minhash_sig(ts, $n)"))
        .withColumn("base", expr("transform(ts, t -> xxhash64(t))"))
        .withColumn("hof", array((0 until n).map { h =>
          array_min(expr(s"transform(base, b -> xxhash64($h, b))"))
        }: _*))
        .select("fused", "hof").collect()
      both.foreach { r =>
        r.getSeq[java.lang.Long](0) shouldBe r.getSeq[java.lang.Long](1)
      }
    }
  }

  test("K6: bucket cap keeps dedup connectivity at linear pair cost") {
    // cap=8 genuinely engages star-capping on this corpus (duplicate
    // clusters at sf0.001 run to hundreds of docs, hot in ALL bands).
    // Star pairs are a subset of the full bucket pairs, so capped ⊆
    // uncapped; and for dedup what matters is CONNECTIVITY — every
    // Jaccard ≥ 0.8 truth pair must land in one union-find component.
    val uncapped = Similarity.lshCandidates(spark, sf, Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    val capped = Similarity.lshCandidates(spark, sf, 8)
      .as[(Long, Long)].collect().toSet
    capped.subsetOf(uncapped) shouldBe true
    // star-capping must actually shrink the pair list here (clusters > 8)
    capped.size should be < uncapped.size

    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    capped.foreach { case (a, b) => parent(find(a)) = find(b) }

    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(split(lower(col("text")), " ")).as("ts"))
      .as[(Long, Seq[String])].collect()
    val truth = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      j = (ta.toSet & tb.toSet).size.toDouble / (ta.toSet ++ tb.toSet).size
      if j >= 0.8
    } yield (ia, ib)).toSet
    val connected = truth.count { case (a, b) => find(a) == find(b) }
    val recall = connected.toDouble / math.max(truth.size, 1)
    withClue(s"truth=${truth.size} capped=${capped.size} recall=$recall: ") {
      recall should be >= 0.85
    }
  }

  test("K12b: first-band-wins candidates ≡ exact-key distinct + size filter") {
    // fbwCandidates (round-21: hashed single-long band keys, first-band-
    // wins dedup, inline size bound) must produce exactly the pair SET
    // the old shape produced — lshCandidatesOf's exact-key join+distinct
    // followed by lshClusters' size filter — both over the collapsed rep
    // table, at the default cap AND at an aggressive cap that engages the
    // star path + the emittability interplay (a pair sharing an OVER-cap
    // earlier band must still be emitted at its first in-cap band).
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(split(lower(col("text")), " ")).as("ts"))
    val keyed = docs.select(col("doc_id"),
      array_sort(array_distinct(col("ts"))).as("ts"),
      md5(to_json(array_sort(array_distinct(col("ts"))))).as("__k"))
    val repDocs = keyed.groupBy(col("__k"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("ts")).as("ts"))
      .select(col("doc_id"), col("ts"))
    val tau = math.round(0.8 * 1e6) - 1
    for (cap <- Seq(4096, 8)) {
      // both builders return caller-owned checkpoints — release them once
      // collected, or they pin block-manager storage for the whole suite
      val oldCp = Similarity.lshCandidatesOf(repDocs, cap, nHashes = 24)
      val newCp = Similarity.fbwCandidates(repDocs, cap, tau)
      try {
        val oldSet = oldCp
          .where(col("sz_a").cast("long") * 1000000L >= col("sz_b") * tau &&
            col("sz_b").cast("long") * 1000000L >= col("sz_a") * tau)
          .select(col("id_a"), col("id_b"))
          .as[(Long, Long)].collect().toSet
        val newSet = newCp.as[(Long, Long)].collect().toSet
        withClue(s"cap=$cap old=${oldSet.size} new=${newSet.size}: ") {
          newSet shouldBe oldSet
        }
      } finally graft.core.Checkpoints.release(oldCp, newCp)
    }
  }

  test("K12b: int/long sorted-intersect lanes ≡ string lane; dictionary " +
      "encode preserves sizes and intersections (incl. null/empty sets)") {
    // random sorted-distinct token sets, plus the degenerate shapes the
    // verify path must carry through unchanged: null set, empty set
    val tokGen = Gen.listOf(Gen.oneOf(
      (0 until 40).map(i => s"tok$i"))).map(_.distinct.sorted)
    forSamples(Gen.zip(tokGen, tokGen), 10) { case (a, b) =>
      val base = Seq((Option(a), Option(b)), (None, Option(b)),
        (Option(List.empty[String]), Option(a)))
        .toDF("a", "b")
      // corpus-wide dictionary over a ∪ b, dense ints by sorted order —
      // the exact construction lshClusters' verify encode uses
      val vocab = (a ++ b).distinct.sorted.zipWithIndex.toMap
      def enc(x: Option[List[String]]): Option[List[Int]] =
        x.map(_.map(vocab).sorted)
      val encd = Seq((enc(Option(a)), enc(Option(b))),
        (None, enc(Option(b))),
        (enc(Option(List.empty[String])), enc(Option(a))))
        .toDF("a", "b")
      val encl = Seq((enc(Option(a)).map(_.map(_.toLong)), enc(Option(b)).map(_.map(_.toLong))),
        (None, enc(Option(b)).map(_.map(_.toLong))),
        (enc(Option(List.empty[String])).map(_.map(_.toLong)), enc(Option(a)).map(_.map(_.toLong))))
        .toDF("a", "b")
      def isect(df: org.apache.spark.sql.DataFrame): Seq[Option[Int]] = df
        .select(expr("graft_sorted_intersect_size(a, b)"))
        .collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      val s = isect(base); val i = isect(encd); val l = isect(encl)
      // reference: Spark's own array_intersect on the string form
      val ref = base.select(expr("size(array_intersect(a, b))"))
        .collect().toSeq.map(r =>
          if (r.isNullAt(0)) None else Some(r.getInt(0)))
      withClue(s"a=$a b=$b: ") {
        s shouldBe ref
        i shouldBe s // bijective encode ⇒ identical intersection sizes
        l shouldBe s
      }
    }
  }

  test("K12b: dictEncodePlan is exact on null ELEMENTS — null intersects " +
      "null (string-lane parity) and sizes are preserved row for row") {
    // a/b share "a" AND a null element: the string lane counts 2 (null
    // matches null once — SortedIntersectSize's documented semantics);
    // an encode that dropped nulls would count 1 and silently change
    // minhash_dedup verdicts on user token columns carrying nulls
    val docs = Seq(
      (1L, Option(Seq[String]("a", "b", null))),
      (2L, Option(Seq[String]("a", "c", null))),
      (3L, Option(Seq[String]("b", "c"))),
      (4L, Option.empty[Seq[String]]),
      (5L, Option(Seq.empty[String])))
      .toDF("doc_id", "ts")
    val enc = Similarity.dictEncodePlan(docs)
    def sizes(df: org.apache.spark.sql.DataFrame): Seq[Int] = df
      .orderBy("doc_id")
      .select(coalesce(
        org.apache.spark.sql.functions.size(col("ts")), lit(-1)))
      .collect().toSeq.map(_.getInt(0))
    withClue("sizes (null set -1, empty 0, null ELEMENT counted): ") {
      sizes(enc) shouldBe sizes(docs)
    }
    def pairIsect(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Option[Int]] =
      df.toDF("id_a", "ts_a")
        .join(df.toDF("id_b", "ts_b"), col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("graft_sorted_intersect_size(ts_a, ts_b)").as("i"))
        .collect().toSeq.map(r => ((r.getLong(0), r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    val s = pairIsect(docs); val i = pairIsect(enc)
    withClue(s"string lane $s vs int lane $i: ") { i shouldBe s }
    s((1L, 2L)) shouldBe Some(2) // "a" + null — the case that regressed
  }

  test("K8: fused graft_simhash ≡ the explode + 64-sum aggregate bit-for-bit") {
    import org.apache.spark.sql.functions.{explode, sum}
    val toks = Tables.documents(spark, sf)
      .selectExpr("doc_id", "array_distinct(split(lower(text), ' ')) AS toks")
      .where(org.apache.spark.sql.functions.size(col("toks")) > 0)
    val fused = toks.selectExpr("doc_id", "graft_simhash(toks) AS s")
      .as[(Long, Long)].collect().toMap
    // the aggregate construction k8 shipped before ext/SimHashSig
    val tok = toks.select(col("doc_id"),
      explode(expr("transform(toks, t -> xxhash64(t))")).as("h"))
    val sums = tok.groupBy(col("doc_id")).agg(
      sum(expr("CASE WHEN ((h >> 0) & 1) = 1 THEN 1 ELSE -1 END")).as("b0"),
      (1 until 64).map(b =>
        sum(expr(s"CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"b$b")): _*)
    val agg = sums.withColumn("s", expr(
        (0 until 64).map(b =>
          s"shiftleft(CAST(CASE WHEN b$b > 0 THEN 1 ELSE 0 END AS BIGINT), ${63 - b})")
          .mkString(" | ")))
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().toMap
    fused.keySet shouldBe agg.keySet
    fused.foreach { case (id, s) =>
      withClue(s"doc_id=$id: ")(s shouldBe agg(id))
    }
    // interpreted path agrees with codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = try toks.selectExpr("doc_id", "graft_simhash(toks) AS s")
      .as[(Long, Long)].collect().toMap
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    interp shouldBe fused
  }

  test("K8: banded candidates cover the all-pairs hamming ground truth") {
    import graft.queries.TextOps2
    val pairs = TextOps2.k8.build(spark, sf)
      .as[(Long, Long, Int)].collect()
    pairs.foreach { case (a, b, h) =>
      a should be < b
      h should be <= 3
      h should be >= 0
    }
    pairs should not be empty

    // ground truth: exact all-pairs hamming over the same signatures —
    // banding with 4 bands is EXACT at hamming ≤ 3 by pigeonhole, so the
    // sets must be equal in both directions
    val sigs = TextOps2.simhashDocs(spark, sf)
      .as[(Long, Long)].collect()
    val truth = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)).toSet
    withClue(s"truth=${truth.size} banded=${pairs.length}: ") {
      pairs.toSet shouldBe truth
    }
  }

  test("K9: fused SRP signature ≡ HOF hash derivation bit-for-bit, both eval paths") {
    val d = Tables.embeddings(spark, sf)
      .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
      .select(col("vec_id"),
        expr("graft_srp_sig(e, 8)").as("fused"),
        // the exact formula k9 shipped before ext/SrpSig replaced it
        expr(
          """aggregate(sequence(0, 7), 0L, (acc, j) ->
            |  acc * 2 + CASE WHEN aggregate(zip_with(e, sequence(0, size(e) - 1),
            |    (x, i) -> x * (CAST((xxhash64(concat('hp', j, ':', i)) & 1) * 2 - 1 AS DOUBLE))),
            |    0D, (s, x) -> s + x) > 0 THEN 1 ELSE 0 END)""".stripMargin).as("hof"))
    val rows = d.as[(Long, Long, Long)].collect()
    rows should not be empty
    rows.foreach { case (id, fused, hof) =>
      withClue(s"vec_id=$id: ") { fused shouldBe hof }
    }
    // signatures must spread across buckets (a constant sig would make
    // the LSH bucketing vacuous) and stay inside the 8-bit range
    rows.foreach { case (_, s, _) => s should (be >= 0L and be <= 255L) }
    rows.map(_._2).distinct.length should be > 1
    // interpreted path agrees with codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = try d.as[(Long, Long, Long)].collect()
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    interp.sortBy(_._1).map(r => r._1 -> r._2) shouldBe
      rows.sortBy(_._1).map(r => r._1 -> r._2)
    // null-element poisoning matches the HOF (every bit 0), empty → 0
    val edge = Seq(Tuple1(Seq[java.lang.Double](1.0, null, 3.0)),
        Tuple1(Seq.empty[java.lang.Double]))
      .toDF("e").select(expr("graft_srp_sig(cast(e as array<double>), 8)"))
      .collect().map(_.getLong(0))
    edge shouldBe Array(0L, 0L)
  }

  test("K9: ANN candidates rank identically to brute force on shared ids") {
    import graft.queries.TextOps2
    val ann = TextOps2.k9.build(spark, sf).as[(Long, Double)].collect()
    ann.length should be <= 10
    // scores must be descending with id tiebreak — same D-rule 5 ordering
    // brute force uses, so any shared prefix would be identical
    ann.sliding(2).foreach {
      case Array((ia, sa), (ib, sb)) =>
        assert(sa > sb || (sa == sb && ia < ib))
      case _ =>
    }
    // every ANN score equals the brute-force cosine for that id
    val brute = Similarity.k3.build(spark, sf)
      .select(col("vec_id"), col("cos_sim")).as[(Long, Double)].collect().toMap
    ann.foreach { case (id, s) => s shouldBe brute(id) }
  }

  test("K10: IVF result is exactly the brute-force top-k over probed cells") {
    val nC = 16; val nProbe = 4
    // brute-force rounded cosines vs the vec_id=0 query (k3 — HOF path,
    // bit-equal to graft_cosine per the K3/M3 law above)
    val brute = Similarity.k3.build(spark, sf)
      .select(col("vec_id"), col("cos_sim")).as[(Long, Double)].collect().toMap
    // replicate probe selection: top-nProbe centroids by (score, cid) desc
    val probe = (0L until nC).map(c => (brute(c), c))
      .sortBy { case (s, c) => (-s, -c) }.take(nProbe).map(_._2).toSet
    val assigned = Similarity.ivfAssign(spark, sf, nC)
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toMap
    // every vector must sit in its max-cosine cell w.r.t. the query-side
    // codebook scores — spot-check the centroids themselves (cell = self)
    (0L until nC).foreach(c => assigned(c) shouldBe c)
    val expected = brute.toSeq
      .filter { case (id, _) => id != 0 && probe(assigned(id)) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val ivf = Similarity.k10.build(spark, sf)
      .as[(Long, Long, Double)].collect()
    ivf.map(r => (r._1, r._3)).toSeq shouldBe expected
    // and the probed subset genuinely prunes: candidates < half the corpus
    val probedFrac = assigned.count { case (_, cell) => probe(cell) }.toDouble / assigned.size
    withClue(s"probed fraction $probedFrac: ") { probedFrac should be < 0.5 }
  }

  test("E5: approx_count_distinct within 3·rsd of exact") {
    val li = Tables.lineitem(spark, sf)
    val exact = li.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_orderkey"), 0.05)).head().getLong(0)
    math.abs(approx - exact).toDouble / exact should be <= 0.15
  }

  test("E10: sampling with a fixed seed is stable across runs") {
    val li = Tables.lineitem(spark, sf)
    val a = li.sample(withReplacement = false, 0.1, 42L).count()
    val b = li.sample(withReplacement = false, 0.1, 42L).count()
    a shouldBe b
  }

  test("K12: connected components label chains, islands, and singletons") {
    import spark.implicits._
    import graft.queries.Similarity
    // chain 1-2-3, island 5-6, singleton 7 — the chain needs >1 round
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("vec_id")
    val edges = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("a", "b")
    val got = Similarity.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L)
  }

  /** Labels and recorded `cc_round` count of one CC executor on
    * (nodes, edges); asserts the call leaves no storage behind. */
  private def runCc(exec: (DataFrame, DataFrame, Long, Int) => DataFrame,
      nodes: DataFrame, edges: DataFrame, maxRounds: Int): (Map[Long, Long], Int) = {
    import graft.core.{Attribution, Checkpoints}
    Checkpoints.releaseAll(spark)
    Attribution.clear()
    try {
      val directed = Checkpoints.eager(edges.toDF("src", "dst"))
      val out = exec(nodes, directed, directed.count(), maxRounds)
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Checkpoints.release(out)
      spark.sparkContext.getPersistentRDDs shouldBe empty
      val snap = Attribution.snapshotJson()
      val rounds = "\"cc_round_n\":(\\d+)".r.findFirstMatchIn(snap).map(_.group(1).toInt)
        .getOrElse(if (snap.contains("\"cc_round\":")) 1 else 0)
      (labels, rounds)
    } finally Attribution.clear()
  }

  test("K12: in-memory and distributed CC give identical labels and round counts") {
    def graph(nodes: Seq[Long], edges: Seq[(Long, Long)]) =
      (nodes.toDF("vec_id"), edges.toDF("src", "dst"))
    // a few hundred nodes on ten shuffled-id paths of 30 (so the minimum
    // travels far), bridged by random edges, plus 20 singletons
    val rng = new scala.util.Random(20260417L)
    val ids = rng.shuffle((0L until 300L).map(_ * 7 + 3))
    val paths = ids.grouped(30).toSeq.flatMap(p => p.zip(p.tail))
    val bridges = Seq.fill(6)((ids(rng.nextInt(300)), ids(rng.nextInt(300))))
    val graphs = Seq(
      "chain/island/singleton" -> graph(Seq(1L, 2L, 3L, 5L, 6L, 7L),
        Seq((2L, 3L), (1L, 2L), (5L, 6L))),
      "empty" -> graph(Nil, Nil),
      "9-hop chain" -> graph(0L to 9L, (0L until 9L).map(i => (i, i + 1))),
      "random long paths" -> graph(ids ++ (5000L until 5020L), paths ++ bridges),
      // more moved labels than GraftTable.LocalKeyCap: the labels join
      // instead of riding a broadcast variable
      "star past the local cap" -> graph(0L to 70000L, (1L to 70000L).map(i => (0L, i))))
    for ((name, (nodes, edges)) <- graphs) withClue(s"$name: ") {
      val mem = runCc(Similarity.componentsInMemory, nodes, edges, 200)
      mem shouldBe runCc(Similarity.componentsDistributed, nodes, edges, 200)
      if (name == "random long paths") {
        mem._2 should be > 20
        mem._1.values.toSet.size should be > 20
      }
    }
    val (nodes, chain) = graphs(2)._2
    for (exec <- Seq[(DataFrame, DataFrame, Long, Int) => DataFrame](
        Similarity.componentsInMemory, Similarity.componentsDistributed))
      intercept[IllegalStateException](runCc(exec, nodes, chain, 2))
        .getMessage should include("did not converge")
    // the distributed loop in reliable-checkpoint mode, the cluster
    // posture, which lshClusters no longer reaches at spec scale
    System.setProperty("graft.checkpoint.dir",
      java.nio.file.Files.createTempDirectory("graft_reliable_cc").toString)
    try runCc(Similarity.componentsDistributed, nodes, chain, 200) shouldBe
      runCc(Similarity.componentsInMemory, nodes, chain, 200)
    finally System.clearProperty("graft.checkpoint.dir")
  }

  test("K12: an in-memory CC runs at most 3 jobs once its edges are materialized") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.core.Checkpoints
    // a 29-hop chain: 30 rounds, each a checkpoint + sum job in the
    // distributed loop; the in-memory path must not grow with them
    val nodes = (0L to 29L).toDF("vec_id")
    val edges = Checkpoints.eager((0L until 29L).map(i => (i, i + 1)).toDF("src", "dst"))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos.map(_.name).mkString(";"))
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val out = Similarity.connectedComponents(nodes, edges)
      var last = -1 // listener delivery is async — wait until it settles
      var spins = 0
      while (jobs.size != last && spins < 20) {
        last = jobs.size; Thread.sleep(200); spins += 1
      }
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // the first job is verify_force's edge checkpoint; after it: the
    // edge count, the packed collect and the labels checkpoint
    withClue(jobs.asScala.mkString("\n")) { jobs.size - 1 should be <= 3 }
    out.select("lbl").distinct().as[Long].collect() shouldBe Array(0L)
    Checkpoints.release(out, edges)
  }

  test("K12b: LSH-driven clusters equal exact all-pairs Jaccard clusters") {
    // end-to-end stitch (k6 candidates → verify → CC) must reproduce the
    // ground-truth clustering exactly: compute truth with an in-memory
    // union-find over ALL pairs at Jaccard ≥ 0.8, then compare labels.
    val got = Similarity.k12b.build(spark, sf)
      .as[(Long, Long, Boolean)].collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(split(lower(col("text")), " ")).as("ts"))
      .as[(Long, Seq[String])].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      j = (ta.toSet & tb.toSet).size.toDouble / (ta.toSet ++ tb.toSet).size
      if BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.8
    } parent(find(math.min(ia, ib))) = find(math.max(ia, ib))
    // canonical truth label = min member of each component
    val members = docs.map(_._1).groupBy(find).map { case (_, ms) =>
      val root = ms.min; ms.map(_ -> root)
    }.flatten.toMap
    got.length shouldBe docs.length
    got.foreach { case (id, cluster, survivor) =>
      withClue(s"doc $id: ") {
        cluster shouldBe members(id)
        survivor shouldBe (id == cluster)
      }
    }
  }

  test("K11: SemDeDup clusters equal brute-force within-cell cosine union-find") {
    // ground truth computed independently in Scala: assign each vector to
    // its argmax-cosine centroid (6-dp rounded score, tie-break max score
    // then max centroid id — the k10/k11 contract), union-find over
    // within-cell pairs at cosine ≥ 0.35, min member labels the cluster
    val got = Similarity.k11.build(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect()
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    def cos6(a: Seq[Double], b: Seq[Double]): BigDecimal = {
      val dot = a.lazyZip(b).map(_ * _).sum
      val c = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val cents = vecs.filter(_._1 < 16)
    val cellOf = vecs.map { case (id, e) =>
      id -> cents.map { case (cid, c) => (cos6(e, c), cid) }.max._2
    }.toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for {
      (ia, ea) <- vecs; (ib, eb) <- vecs
      if ia < ib && cellOf(ia) == cellOf(ib) && cos6(ea, eb) >= 0.35
    } parent(find(ia)) = find(ib) // union by arbitrary root; label = min member below
    val label = vecs.map(_._1).groupBy(find).map { case (_, ms) =>
      val root = ms.min; ms.map(_ -> root)
    }.flatten.toMap
    got.length shouldBe vecs.length
    // the corpus must exercise the operator: some genuine multi-member
    // cluster exists at this threshold (guards against a vacuous pass)
    got.count(!_._4) should be > 0
    got.foreach { case (id, cell, cluster, survivor) =>
      withClue(s"vec $id: ") {
        cell shouldBe cellOf(id)
        cluster shouldBe label(id)
        survivor shouldBe (id == cluster)
      }
    }
  }

  test("K12b: lshClusters retains ONLY its result checkpoint; release empties storage") {
    import graft.core.Checkpoints
    // shared session — earlier suites/tests may have pinned storage
    Checkpoints.releaseAll(spark)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(split(lower(col("text")), " ")).as("ts"))
    val out = Similarity.lshClusters(docs, threshold = 0.8, bucketCap = 4096)
    // the retained-memory contract (Similarity.scala scaladoc): the band
    // explosion, candidate pairs, `keyed`, the symmetrized edge set and
    // every CC round's labels are all released before return — the ONLY
    // surviving storage is the materialized result checkpoint itself
    spark.sparkContext.getPersistentRDDs.size shouldBe 1
    out.count() should be > 0L
    Checkpoints.release(out)
    spark.sparkContext.getPersistentRDDs shouldBe empty
    // threshold=1.0 short-circuit keeps the same contract
    val exact = Similarity.lshClusters(docs, threshold = 1.0, bucketCap = 4096)
    spark.sparkContext.getPersistentRDDs.size shouldBe 1
    Checkpoints.release(exact)
    spark.sparkContext.getPersistentRDDs shouldBe empty
  }

  test("E11b: approx quartiles land within 1% of the exact ones") {
    import graft.queries.Aggregates
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val exact = toMap(Aggregates.e11.build(spark, sf).drop("n"))
    val approx = toMap(Aggregates.e11b.build(spark, sf))
    approx.keySet shouldBe exact.keySet
    for ((k, (a1, a2, a3)) <- approx; (e1, e2, e3) = exact(k);
         (a, e) <- Seq(a1 -> e1, a2 -> e2, a3 -> e3))
      withClue(s"flag $k: approx $a vs exact $e: ")(
        math.abs(a - e) / e should be <= 0.01)
  }

  test("E10b: stratified sampling keeps full strata, downsamples the rest, seed-stably") {
    import graft.queries.Aggregates
    def counts() = Aggregates.e10b.build(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = counts()
    a shouldBe counts() // fixed seed ⇒ identical selection, run to run
    val full = Tables.events(spark, sf).groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // fraction-1.0 strata survive complete; the 5% stratum really shrinks
    a("purchase") shouldBe full("purchase")
    a("signup") shouldBe full("signup")
    a("view").toDouble / full("view") should be < 0.15
    a("view") should be > 0L
  }
}
