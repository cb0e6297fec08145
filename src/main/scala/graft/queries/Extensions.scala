package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.core.Det._

/** SURVEY.md §2.M — UDF / UDAF / custom-Expression / Generator surface,
  * each proven equivalent to a SQL-only oracle; plus §2.B7 (flatten with
  * position), whose scale path is the M4 generator.
  */
object Extensions extends QueryPack {
  import QueryDef._

  /** §2.M1 — config-referenced scalar UDF used inside a `derive` expr. */
  val m1: QueryDef = m(
    "m1_udf_norm_text",
    """SELECT doc_id,
      |  lower(trim(regexp_replace('  ' || text || '   X  ', ' +', ' ', 'g'))) AS normed
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("normed",
        expr("graft_norm_text(concat('  ', text, '   X  '))"))
      .select(col("doc_id"), col("normed"))
      .orderBy(col("doc_id"))
  }

  /** §2.M2 — typed Aggregator UDAF: geometric mean of prices per flag.
    * Oracle is the log-domain identity exp(avg(ln x)) at 6 dp. */
  val m2: QueryDef = m(
    "m2_udaf_geomean",
    """SELECT l_returnflag, ROUND(exp(avg(ln(l_extendedprice))), 6) AS geo_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(expr("graft_geomean(l_extendedprice)"), 6).as("geo_price"))
      .orderBy(col("l_returnflag"))
  }

  /** §2.M3 — the native codegen CosineSimilarity expression, running the
    * same computation as k3_cosine's HOF form (ExtensionsSpec asserts the
    * two agree row-for-row); oracle identical to k3's. */
  val m3: QueryDef = m(
    "m3_cosine_expr",
    """SELECT v.vec_id, v.label,
      |  ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
      |                               CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
      |FROM embeddings v
      |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val v = Tables.embeddings(spark, dir)
      .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
    val q = Tables.embeddings(spark, dir).where(col("vec_id") === 0)
      .select(col("embedding").cast(ArrayType(DoubleType)).as("q"))
    v.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        score6(expr("graft_cosine(e, q)")).as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  /** §2.M4 — the NGrams generator emitting (pos, ngram) rows. */
  val m4: QueryDef = m(
    "m4_ngrams_generator",
    """SELECT doc_id, generate_subscripts(tg, 1) - 1 AS pos, unnest(tg) AS ngram
      |FROM (SELECT doc_id,
      |        list_transform(range(1, len(toks) - 3 + 2),
      |          i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS tg
      |      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents))
      |ORDER BY doc_id, pos""".stripMargin) { (spark, dir) =>
    TextOps.tokens(Tables.documents(spark, dir))
      .selectExpr("doc_id", "graft_ngrams(toks, 3) AS (pos, ngram)")
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("ngram"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** §2.B7 — flatten/explode with position over a real array column. */
  val b7: QueryDef = m(
    "b7_flatten_posexplode",
    """SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
      |FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
      |      WHERE doc_id < 100)
      |ORDER BY doc_id, pos""".stripMargin) { (spark, dir) =>
    TextOps.tokens(Tables.documents(spark, dir))
      .where(col("doc_id") < 100)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("tok"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** §2.M5 — TypedImperativeAggregate bottom-k (KMV) sketch per group:
    * X-tier (engine-internal hash); merge/determinism laws in
    * ExtensionsSpec. */
  val m5: QueryDef = x("m5_bottomk_sketch") { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(expr("graft_bottomk(o_custkey, 16)").as("sk"),
        countDistinct(col("o_custkey")).as("exact_nd"))
      // serialize the ARRAY<LONG> sketch so the driver's rows-check (scalar
      // dtypes only) can read it; the array form stays available via the API
      .select(col("o_orderstatus"),
        expr("array_join(transform(sk, x -> CAST(x AS STRING)), '|')").as("sketch"),
        col("exact_nd"))
      .orderBy(col("o_orderstatus"))
  }

  override def defs: Seq[QueryDef] = Seq(m1, m2, m3, m4, m5, b7)
}
