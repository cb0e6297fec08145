package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, StringType, StructField, StructType}

import graft.config.SinkSpec
import graft.core.Conform
import graft.pipeline.PipelineRunner
import graft.tables.GraftTable

/** The one schema-conformance decision (graft.core.Conform) as its
  * callers see it: no path narrows a value silently, and nullability is
  * never a type change. */
class ConformSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"/tmp/graft_io/conform_$name"
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
    root
  }

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("merge deleteKeys wider than the int key: a key past the int range " +
    "deletes nothing and never throws, under both ANSI settings") {
    // extra = 0 keeps the upsert in small-key mode (collected key frames);
    // 70,000 more inserted keys push it past the 64k cap (distributed ones)
    for (ansi <- Seq(false, true); extra <- Seq(0, 70000))
      withClue(s"ansi=$ansi, extra=$extra: ") {
        val root = freshRoot(s"wide_delkey_${ansi}_$extra")
        GraftTable.write(spark, Seq((1, "a"), (5, "e")).toDF("k", "v"),
          root, "overwrite")
        val ups = ((1, "A") +: (100 until 100 + extra).map(k => (k, "n"))).toDF("k", "v")
        withAnsi(ansi) {
          // 4294967301 = 2^32 + 5: a wrapping cast would make it k = 5
          GraftTable.merge(spark, root, ups, Seq("k"),
            deleteKeys = Some(Seq(Tuple1(4294967301L)).toDF("k")))
        }
        GraftTable.read(spark, root).where($"k" < 100).orderBy($"k")
          .as[(Int, String)].collect() shouldBe Array((1, "A"), (5, "e"))
        GraftTable.read(spark, root).count() shouldBe 2L + extra
      }
  }

  test("a split()-tokenized frame (ARRAY<STRING>, containsNull = false) " +
    "is accepted by the table and the parquet target made from it") {
    val toks = Seq((1L, "a b"), (2L, "c d")).toDF("id", "text")
      .select($"id", split($"text", " ").as("toks"))
    toks.schema("toks").dataType shouldBe ArrayType(StringType, containsNull = false)
    val root = freshRoot("toks_table")
    GraftTable.write(spark, toks, root, "overwrite")
    GraftTable.merge(spark, root, toks, Seq("id"))
    GraftTable.write(spark, toks, root, "append")
    GraftTable.writeEvolve(spark, toks, root)
    GraftTable.read(spark, root).count() shouldBe 6L
    val dir = freshRoot("toks_parquet")
    def sink(evolve: String) = SinkSpec("parquet", dir, "overwrite", Nil,
      Map.empty, None, Nil, Nil, None, Some(evolve), Nil, None)
    PipelineRunner.write(toks, sink("fail")) // first write: as-is
    PipelineRunner.write(toks, sink("fail"))
    PipelineRunner.write(toks, sink("add_nulls"))
    spark.read.parquet(dir).orderBy("id").select($"toks").as[Seq[String]]
      .collect() shouldBe Array(Seq("a", "b"), Seq("c", "d"))
  }

  test("the same-scale decimal narrowing is overflow-checked: it fails " +
    "loud and names the column where a plain cast gives null") {
    val df = Seq(BigDecimal("1234567890.00")).toDF("amt")
      .select($"amt".cast(DecimalType(12, 2)).as("amt"))
    val target = StructType(Seq(StructField("amt", DecimalType(5, 2))))
    withAnsi(false) {
      df.select($"amt".cast(DecimalType(5, 2))).head().isNullAt(0) shouldBe true
      val e = intercept[Exception](
        Conform(df, target).project("narrowing spec").collect())
      e.getMessage should (include("'amt'") and include("DECIMAL(5,2)"))
      // a value that fits passes through the same checked cast
      Conform(Seq(BigDecimal("123.45")).toDF("amt")
        .select($"amt".cast(DecimalType(12, 2)).as("amt")), target)
        .project("narrowing spec").as[BigDecimal].head() shouldBe BigDecimal("123.45")
    }
  }

  test("updateWhere store-assigns SET values: an INT overflow fails naming " +
    "the column and leaves the table as it was; a decimal rescale rounds") {
    def listing(root: String): Seq[String] = {
      val w = Files.walk(Paths.get(root))
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSeq.sorted
      finally w.close()
    }
    for (ansi <- Seq(false, true)) withClue(s"ansi=$ansi: ") {
      val root = freshRoot(s"update_set_$ansi")
      GraftTable.write(spark, Seq((1L, 7, "10.00"), (2L, 8, "20.05")).toDF("id", "v", "p")
        .select($"id", $"v", $"p".cast(DecimalType(12, 2)).as("price")), root, "overwrite")
      val before = (GraftTable.snapshot(root), listing(root))
      withAnsi(ansi) {
        // 5000000000 is BIGINT; a plain cast to INT wraps it to 705032704
        val e = intercept[Exception](
          GraftTable.updateWhere(spark, root, "id = 1", Map("v" -> "5000000000")))
        e.getMessage should (include("'v'") and include("INT"))
        (GraftTable.snapshot(root), listing(root)) shouldBe before
        // a type that cannot be stored at all fails before any job
        val e2 = intercept[IllegalArgumentException](
          GraftTable.updateWhere(spark, root, "id = 1", Map("v" -> "array(v)")))
        e2.getMessage should (include("'v'") and include("ARRAY<INT>"))
        (GraftTable.snapshot(root), listing(root)) shouldBe before
        // DECIMAL(12,2) * 1.1 is DECIMAL(15,3): store assignment rounds it back
        GraftTable.updateWhere(spark, root, "id = 2", Map("price" -> "price * 1.1"))
      }
      GraftTable.read(spark, root).orderBy("id").select($"v", $"price")
        .as[(Int, BigDecimal)].collect() shouldBe
        Array((7, BigDecimal("10.00")), (8, BigDecimal("22.06")))
    }
  }
}
