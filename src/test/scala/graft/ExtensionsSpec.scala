package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen


/** §2.M extension-point laws beyond the oracle checks. */
class ExtensionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("M4: graft_ngrams emits size-n+1 rows with positions, [] for short docs") {
    val d = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b")),       // shorter than n=3 → no rows
      (3L, Seq.empty[String]))
      .toDF("id", "toks")
    val out = d.selectExpr("id", "graft_ngrams(toks, 3) AS (pos, ngram)")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2))
    out shouldBe Array((1L, 0, "a b c"), (1L, 1, "b c d"))
  }

  test("M4: graft_ngrams(n=1) is positional explode") {
    val out = Seq((1L, Seq("x", "y"))).toDF("id", "toks")
      .selectExpr("id", "graft_ngrams(toks, 1) AS (pos, ngram)")
      .as[(Long, Int, String)].collect().sortBy(_._2)
    out shouldBe Array((1L, 0, "x"), (1L, 1, "y"))
  }

  test("M2: graft_geomean matches exp(mean(ln)) and is merge-invariant") {
    forSamples(Gen.listOfN(25, Gen.chooseNum(0.1, 1000.0)), 8) { xs =>
      // partition counts change merge order — result must be stable at 9dp
      val one = xs.toDF("x").repartition(1).agg(expr("graft_geomean(x)")).head().getDouble(0)
      val many = xs.toDF("x").repartition(7).agg(expr("graft_geomean(x)")).head().getDouble(0)
      val expected = math.exp(xs.map(math.log).sum / xs.size)
      one shouldBe expected +- math.abs(expected) * 1e-9
      many shouldBe expected +- math.abs(expected) * 1e-9
    }
  }

  test("M1: graft_norm_text collapses runs of spaces, trims, lowercases") {
    val out = Seq("  A  Bc   D ", "", "x").toDF("s")
      .selectExpr("graft_norm_text(s) AS n").as[String].collect()
    out shouldBe Array("a bc d", "", "x")
  }

  test("I4: bround is half-even where round is half-up") {
    val d = Seq(0.25, 0.35, 2.5, 3.5).toDF("x")
      .select(bround($"x", 1).as("be"), round($"x", 1).as("hu"),
        bround($"x").as("be0"), round($"x").as("hu0"))
      .collect()
    d.map(_.getDouble(0)).take(2) shouldBe Array(0.2, 0.4) // half-even at 1dp
    d.map(_.getDouble(1)).take(2) shouldBe Array(0.3, 0.4) // half-up at 1dp
    d.map(r => (r.getDouble(2), r.getDouble(3))).drop(2) shouldBe
      Array((2.0, 3.0), (4.0, 4.0)) // 2.5→2 (even) vs 3; 3.5→4 both
  }

  test("M5: bottom-k sketch is deterministic across partitionings and bounded") {
    forSamples(Gen.listOfN(60, Gen.chooseNum(0L, 40L)), 6) { xs =>
      def sketch(parts: Int): Seq[Long] =
        xs.toDF("x").repartition(parts)
          .agg(expr("graft_bottomk(x, 8)")).head().getSeq[Long](0)
      val s1 = sketch(1); val s7 = sketch(7)
      s1 shouldBe s7                        // merge-order invariance
      s1.length should be <= 8
      s1.length shouldBe math.min(xs.distinct.size, 8) // distinct hashes of distinct values
      s1 shouldBe s1.sorted                 // ascending (k smallest)
    }
  }

  test("I9x: engine hashes are stable across invocations (golden)") {
    val r1 = Seq("ALGERIA").toDF("s")
      .select(xxhash64($"s"), hash($"s"), crc32($"s".cast("binary"))).head()
    val r2 = Seq("ALGERIA").toDF("s")
      .select(xxhash64($"s"), hash($"s"), crc32($"s".cast("binary"))).head()
    r1 shouldBe r2
  }

  test("graft_sorted_intersect_size == size(array_intersect) on sorted distinct arrays") {
    // randomized: vocab small enough to force real overlaps; both the
    // codegen path (DataFrame) and the interpreted path (eval) checked
    val vocab = ('a' to 'z').map(_.toString)
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { _ =>
      def arr() = rnd.shuffle(vocab).take(rnd.nextInt(vocab.size + 1)).sorted
      (arr(), arr())
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      expr("graft_sorted_intersect_size(a, b)").as("g"),
      org.apache.spark.sql.functions.size(array_intersect($"a", $"b")).as("w")).collect()
    got.foreach(r => r.getInt(0) shouldBe r.getInt(1))

    // interpreted eval agrees with codegen on the same operands
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def lit(xs: Seq[String]) = Literal(
      ArrayData.toArrayData(xs.map(s => if (s == null) null else UTF8String.fromString(s)).toArray),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    rows.take(50).foreach { case (a, b) =>
      graft.ext.SortedIntersectSize(lit(a), lit(b)).eval(null) shouldBe
        a.toSet.intersect(b.toSet).size
    }
    // edges: empty, disjoint, null element (sorts last, counts once)
    graft.ext.SortedIntersectSize(lit(Nil), lit(Seq("a"))).eval(null) shouldBe 0
    graft.ext.SortedIntersectSize(
      lit(Seq("a", "b", null)), lit(Seq("b", "c", null))).eval(null) shouldBe 2
    // null ARRAY -> null
    val sql = Seq((Seq("a"), Option.empty[Seq[String]])).toDF("a", "b")
      .selectExpr("graft_sorted_intersect_size(a, b)").head()
    sql.isNullAt(0) shouldBe true
  }
}
