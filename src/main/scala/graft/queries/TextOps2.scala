package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.core.Det._

/** North-star text/dedup additions beyond §2.J/K: n-gram-shingle Jaccard,
  * a deterministic language-ID heuristic, SimHash near-dup, and an
  * SRP-LSH-bucketed approximate nearest-neighbor path.
  */
object TextOps2 extends QueryPack {
  import QueryDef._

  /** N-gram (trigram-shingle) Jaccard over a bounded pair set — the
    * shingle variant of j6's token-set Jaccard (order-sensitive overlap).
    * Scale path: shingle sets feed k6's MinHash banding, never a cross
    * join. */
  val j6b: QueryDef = m(
    "j6b_ngram_jaccard",
    """WITH d AS (
      |  SELECT doc_id, list_sort(list_distinct(list_transform(
      |    range(1, len(t) - 3 + 2),
      |    i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS sh
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
      |        FROM documents WHERE doc_id < 30))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .where(col("doc_id") < 30)
      .withColumn("t", split(lower(col("text")), " "))
      // short-doc guard (same as j4): Spark's sequence(1, n) DESCENDS when
      // n < 1 and slice then throws; DuckDB's range(1, stop) returns an
      // empty list instead — emit the empty shingle set explicitly so both
      // engines agree on ≤2-token docs
      .withColumn("sh", sort_array(array_distinct(
        expr("""transform(
                  CASE WHEN size(t) >= 3 THEN sequence(1, size(t) - 2)
                       ELSE CAST(array() AS ARRAY<INT>) END,
                  i -> concat_ws(' ', slice(t, i, 3)))"""))))
      .select(col("doc_id"), col("sh"))
    val a = d.toDF("id_a", "sh_a")
    val b = d.toDF("id_b", "sh_b")
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType)
          / size(array_union(col("sh_a"), col("sh_b"))), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Language-ID by marker-token vote: fixed per-language marker lists,
    * predicted = highest marker count with lexicographic tiebreak. The
    * heuristic is deterministic SQL on both engines (the corpus vocabulary
    * is synthetic, so accuracy is not the point — the operator shape is). */
  val j9: QueryDef = {
    val markers = Seq(
      "de" -> Seq("der", "und", "batch", "spark"),
      "en" -> Seq("the", "and", "data", "table"),
      "es" -> Seq("el", "los", "row", "scan"),
      "fr" -> Seq("le", "les", "value", "hash"),
      "zh" -> Seq("de0", "shi", "agg", "join"))
    def oCount(ws: Seq[String]) =
      s"len(list_filter(string_split(lower(text), ' '), t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
    def sCount(ws: Seq[String]) =
      s"size(filter(split(lower(text), ' '), t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
    m(
      "j9_langid_heuristic",
      s"""SELECT doc_id, lang,
         |  ${markers.map { case (l, ws) => s"${oCount(ws)} AS n_$l" }.mkString(",\n  ")},
         |  CASE ${markers.map { case (l, _) =>
              s"WHEN n_$l >= greatest(${markers.map(m => s"n_${m._1}").mkString(",")}) THEN '$l'"
            }.mkString(" ")} END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      var d = Tables.documents(spark, dir)
      markers.foreach { case (l, ws) =>
        d = d.withColumn(s"n_$l", expr(sCount(ws)).cast(LongType))
      }
      // first language (marker order) reaching the max wins — identical
      // WHEN order to the oracle's CASE
      val greatestAll = greatest(markers.map(m => col(s"n_${m._1}")): _*)
      val predLtr = markers
        .foldLeft(org.apache.spark.sql.functions.when(lit(false), "x")) {
          case (acc, (l, _)) => acc.when(col(s"n_$l") >= greatestAll, l)
        }
      d.select(col("doc_id") +: col("lang") +:
          markers.map(m => col(s"n_${m._1}")) :+ predLtr.as("predicted"): _*)
        .orderBy(col("doc_id"))
    }
  }

  /** Per-doc 64-bit SimHash signatures (shared by k8 and its spec), as
    * ONE map-only fused pass: `graft_simhash` (ext/SimHashSig) computes
    * the whole signature per row inside WholeStageCodegen. The previous
    * build exploded every (doc, token) pair and shuffled them into a
    * 64-conditional-sum aggregate — a full token-level exchange (plus a
    * one-time ~4 s codegen compile of the 64-sum plan) for a value that
    * is a pure function of one row. Bit placement (b → 63-b) and the
    * per-token xxhash64 are unchanged; SimilarityOpsSpec asserts the
    * fused form ≡ the aggregate form bit-for-bit on the real corpus.
    * The `size > 0` filter preserves the explode form's row set exactly
    * (token-less docs vanished there; they would sig to 0 here). */
  def simhashDocs(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    Tables.documents(spark, dir)
      .where(col("doc_id") < 200)
      .withColumn("toks", expr("array_distinct(split(lower(text), ' '))"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), expr("graft_simhash(toks)").as("simhash"))
  }

  /** SimHash near-dup (X-tier: xxhash64 bit math is engine-internal).
    * Candidate stage is Manku-style BANDING, not an all-pairs join: the
    * 64-bit signature splits into 4 × 16-bit chunks, docs sharing any
    * chunk value become candidates (equi-join on (band, chunk) — a pure
    * shuffle, same shape as k6), and exact hamming ≤ 3 filters the
    * candidates — the threshold from the published web-dedup design this
    * mirrors, where 4 bands make the result EXACT by pigeonhole: 3
    * flipped bits touch at most 3 of the 4 bands, so every qualifying
    * pair shares one verbatim. (A looser threshold like ≤16 cannot ride
    * banding: on a dense-vocabulary corpus it matches most pairs, which
    * is an all-pairs problem by definition, not near-dup detection —
    * that demo lives in k5.) SimilarityOpsSpec asserts banded output ==
    * all-pairs ground truth, both directions. At scale the chunk is the
    * shuffle key and bucket occupancy bounds the pair blow-up exactly
    * like k6. */
  val k8: QueryDef = x("k8_simhash") { (spark, dir) =>
    // cache the (tiny) signature frame: both self-join branches would
    // otherwise recompute the 64-sum aggregate — in a real deployment the
    // signatures ARE the materialized artifact the candidate stage reads.
    // The returned frame consumes this cache LAZILY (unpersisting here
    // would defeat it before execution); the Bench/Verify harness drops
    // it via releaseAll once the query has run.
    val docs = simhashDocs(spark, dir).cache()
    val chunks = docs.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> (simhash >> (b * 16)) & 65535)")))
      .toDF("doc_id", "simhash", "band_id", "chunk")
    val a = chunks.toDF("id_a", "sh_a", "band_a", "chunk_a")
    val b = chunks.toDF("id_b", "sh_b", "band_b", "chunk_b")
    a.join(b, col("band_a") === col("band_b") && col("chunk_a") === col("chunk_b")
        && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct() // a pair can share several bands
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SRP-LSH-bucketed approximate nearest-neighbor search (X-tier): each
    * vector gets an 8-bit signed-random-projection signature from fixed
    * hash-derived hyperplanes; the query probes only its own bucket and
    * ranks candidates by exact cosine. At 100 TB the bucket id is the
    * shuffle key and each probe touches 1/256th of the corpus (plus
    * hamming-1 neighbor buckets for recall). */
  val k9: QueryDef = x("k9_srp_ann") { (spark, dir) =>
    val v = Tables.embeddings(spark, dir)
      .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
      // fused codegen signature (ext/SrpSig): hyperplane j component i =
      // ±1 from the same fixed xxhash64 derivation the HOF form used
      // (bit-identity spec'd in SimilarityOpsSpec), but the hyperplanes
      // are computed ONCE per dim instead of hashed per (row, bit,
      // component) — round 14's 9.28 s interpreted hashing storm is now
      // 8 multiply-add loops per row inside WholeStageCodegen
      .withColumn("sig", expr("graft_srp_sig(e, 8)"))
    val q = v.where(col("vec_id") === 0)
      .select(col("e").as("qe"), col("sig").as("qsig"))
    // multi-probe: own bucket plus all hamming-1 neighbor buckets (standard
    // LSH recall lever — 9 of 256 buckets ≈ 3.5% of the corpus scanned)
    v.where(col("vec_id") =!= 0)
      .join(broadcast(q), expr("bit_count(sig ^ qsig) <= 1"))
      .select(col("vec_id"), score6(expr("graft_cosine(e, qe)")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Token counting (whitespace + BPE-ish regex segmentation) and a
    * polynomial rolling-hash fingerprint — exact int64 arithmetic with a
    * prime modulus so both engines agree digit-for-digit. */
  val j10: QueryDef = m(
    "j10_tokens_fingerprint",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')) AS n_bpeish_tokens,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 1000000007) AS rolling_hash
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    // graft_rolling_hash (§2.M3 sibling): one fused codegen loop per row —
    // the HOF form (per-char array + interpreted lambda per element) was
    // this query's entire cost (ExtensionsSpec asserts bit-equality)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_ws_tokens"),
        expr("graft_bpeish_count(text)").as("n_bpeish_tokens"),
        expr("graft_rolling_hash(text)").as("rolling_hash"))
      .orderBy(col("doc_id"))
  }

  /** §2.J11 — greedy sequence packing: concatenate documents in order and
    * chunk into fixed token-budget bins (the LLM-pretraining "pack to
    * context length" step, as a pure window computation). Each doc's bin
    * is its START offset div the budget. Scale shape: packing runs PER
    * SHARD (window partitioned by a shard key — never a single global
    * sort), and the pack id is (shard, local bin) flattened, so 1000
    * executors pack 1000 shards independently. */
  val j11: QueryDef = m(
    "j11_sequence_pack",
    """SELECT doc_id, shard, n_tokens,
      |  CAST(shard * 1000000 + (cum_tokens - n_tokens) // 4096 AS BIGINT) AS pack_id
      |FROM (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    SUM(len(string_split(text, ' '))) OVER (
      |      PARTITION BY doc_id % 8 ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    packOf(docs, "shard", "doc_id", col("n_tokens"), 4096, "pack_id")
      .orderBy(col("doc_id"))
  }

  /** Per-shard greedy sequence packing over any frame — the engine behind
    * j11 and the YAML `pack` op. `n` is the per-row token count, an
    * integral column; a row's bin is its start offset (running sum − n,
    * ordered by `order` inside `shard`) integer-divided by `budget`, and
    * `out` = shard × 1e6 + bin. The division is `div`, exact at any
    * count: a double `/` rounds the offset once a shard passes 2^53
    * tokens. */
  def packOf(df: DataFrame, shard: String, order: String, n: Column,
      budget: Int, out: String): DataFrame = {
    val w = Window.partitionBy(col(shard)).orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(out, (col(shard).cast(LongType) * 1000000L +
      call_function("div", sum(n).over(w) - n, lit(budget))).cast(LongType))
  }

  /** §2.J12 — benchmark CONTAMINATION check (the eval-decontamination
    * step every LLM pretraining pipeline runs): which corpus docs share
    * any verbatim 5-gram with the benchmark set, and how many distinct
    * ones. The benchmark here is the lowest 20 doc_ids standing in for a
    * held-out eval set; in production it's the actual benchmark corpus.
    *
    * Scale shape: the benchmark's shingle set is SMALL (eval suites are
    * MBs, not TBs) → build it once, BROADCAST it, and the corpus side is
    * a map-only shingle explode + broadcast hash join + partial-agg
    * count per doc. No shuffle touches the 100 TB side except the final
    * per-doc count (combined map-side). Joining on the shingle STRING
    * keeps it engine-portable; at scale hash the shingle to 8 bytes
    * first (same plan shape, smaller broadcast). */
  val j12: QueryDef = m(
    "j12_contamination",
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 5 + 2),
      |  i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS g FROM d),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 20)
      |SELECT s.doc_id, count(DISTINCT s.g) AS n_hits
      |FROM sh s JOIN bench b ON s.g = b.g
      |WHERE s.doc_id >= 20
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (spark, dir) =>
    val sh = shinglesOf(TextOps.tokens(Tables.documents(spark, dir)), "toks", 5,
      Seq(col("doc_id")), "g")
    val bench = sh.where(col("doc_id") < 20).select(col("g")).distinct()
    sh.where(col("doc_id") >= 20)
      .join(broadcast(bench), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Word `n`-gram shingles of the token array `tokCol` — the explode
    * behind j12 and both sides of the YAML `decontaminate` op. Rows with
    * fewer than `n` tokens emit none; each shingle row carries `keep` plus
    * the space-joined shingle as `out`. Row-local, so it streams. */
  def shinglesOf(frame: DataFrame, tokCol: String, n: Int, keep: Seq[Column],
      out: String): DataFrame =
    frame.where(size(col(tokCol)) >= n)
      .select(keep :+ explode(expr(
        s"transform(sequence(1, size(`$tokCol`) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(`$tokCol`, i, $n)))")).as(out): _*)

  /** §2.J13 — repetition-based quality scoring (the Gopher-rules family):
    * duplicate-word fraction and duplicate-bigram fraction per document,
    * plus the filter verdict at the published 0.3 word-dup threshold.
    * Pure per-row array math — map-only, embarrassingly parallel, the
    * cheapest possible quality gate at any corpus size (the final sort
    * exists only for the oracle hash). */
  val j13: QueryDef = m(
    "j13_repetition_quality",
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |g AS (SELECT doc_id, toks, list_transform(range(1, len(toks)),
      |  i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS g2 FROM d)
      |SELECT doc_id,
      |  ROUND(1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS dup_word_frac,
      |  ROUND(1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) AS dup_bigram_frac,
      |  (1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) <= 0.3 AS keep
      |FROM g WHERE len(toks) >= 2 ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = TextOps.tokens(Tables.documents(spark, dir))
      // bigram needs 2+ tokens; the ORACLE carries the same predicate so
      // the two sides agree by construction on ANY corpus, not just one
      // where every doc happens to qualify
      .where(size(col("toks")) >= 2)
      .withColumn("g2", expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', slice(toks, i, 2)))"))
    val dupWord = dupFrac(col("toks"))
    d.select(col("doc_id"),
        round(dupWord, 6).as("dup_word_frac"),
        round(dupFrac(col("g2")), 6).as("dup_bigram_frac"),
        (dupWord <= 0.3).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate fraction of an array, 1 − distinct/size — j13's repetition
    * score and the YAML `quality_filter` op's. The size guard sits INSIDE
    * the expression: under ANSI mode (the Spark 4 default) a bare
    * x / size(arr) throws DIVIDE_BY_ZERO on an empty array, so empty and
    * null arrays score null instead, without relying on And
    * short-circuit order in a caller's predicate. */
  def dupFrac(arr: Column): Column =
    when(size(arr) > 0,
      lit(1.0) - size(array_distinct(arr)).cast(DoubleType) / size(arr))

  /** §2.J14 — PII redaction (the scrub step before any text lands in a
    * training corpus): email and phone patterns replaced by typed
    * placeholders. Pure regexp_replace projection — map-only, streams
    * fine, zero shuffle. The corpus itself carries no PII, so the query
    * SYNTHESIZES deterministic PII-shaped text from existing columns
    * first and both engines redact the same strings — the redaction
    * semantics are what's verified. Patterns stay in the common
    * Java-regex/RE2 subset so both engines compile them identically. */
  val j14: QueryDef = m(
    "j14_redact",
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(
      |      source || '@mail.example.com said: ' || substring(text, 1, 60)
      |        || ' call +1 555-0100 ext ' || CAST(doc_id AS VARCHAR),
      |      '[a-z0-9.+-]+@[a-z0-9.-]+', '[EMAIL]', 'g'),
      |    '\+?[0-9][0-9 -]{7,}[0-9]', '[PHONE]', 'g') AS clean
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val raw = concat(col("source"), lit("@mail.example.com said: "),
      substring(col("text"), 1, 60),
      lit(" call +1 555-0100 ext "), col("doc_id").cast("string"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), redactOf(raw, Seq(
        "EMAIL" -> "[a-z0-9.+-]+@[a-z0-9.-]+",
        "PHONE" -> "\\+?[0-9][0-9 -]{7,}[0-9]")).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** PII scrub as a `regexp_replace` fold — j14's and the YAML `redact`
    * op's: each (label, regex) rule, in order, replaces its matches in `c`
    * with `[label]`. Map-only, streams fine. */
  def redactOf(c: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(c) { case (acc, (label, re)) =>
      regexp_replace(acc, re, s"[$label]")
    }

  /** J-tier extension — unigram language-model log-probability per doc,
    * the CCNet/KenLM-style perplexity proxy for corpus quality filtering
    * (docs whose tokens are globally rare score low; boilerplate scores
    * high). Two aggregation passes over the corpus itself: (1) vocabulary
    * counts, (2) per-doc average token log-prob under that vocabulary.
    *
    * Float determinism (the reason this is hash-checkable at all): a
    * per-doc SUM of doubles is order-dependent across partitions, so each
    * token's log-prob is first quantized to integer MICRO-units
    * (floor(ln(c/n)·1e6) as BIGINT) — the doc aggregate is then an exact,
    * order-independent integer sum, and the final value is ONE correctly
    * rounded IEEE division (sum / (1e6·n_tokens)), bit-identical on both
    * engines. ln itself is libm-rounded on both (the j5 precedent).
    *
    * Scale posture: tf shrinks the join input to distinct (doc, term)
    * pairs; the vocabulary join is a SHUFFLE join on term — at 100 TB the
    * vocab has billions of types so broadcasting is impossible, and the
    * Zipf head ("the") is exactly the AQE-skew/salting case d9
    * demonstrates. The 1-row corpus total is the only broadcast. */
  val j15: QueryDef = m(
    "j15_unigram_logprob",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      |vocab AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks)
      |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
      |  CAST(SUM(tf.tf * CAST(floor(ln(CAST(vocab.c AS DOUBLE) / n.n) * 1e6) AS BIGINT)) AS DOUBLE)
      |    / (1e6 * CAST(SUM(tf.tf) AS DOUBLE)) AS avg_logprob
      |FROM tf JOIN vocab ON tf.term = vocab.term CROSS JOIN n
      |GROUP BY tf.doc_id
      |ORDER BY tf.doc_id""".stripMargin) { (spark, dir) =>
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val n = vocab.agg(sum(col("c")).cast(DoubleType).as("n"))
    val lpMicro = floor(log(col("c").cast(DoubleType) / col("n")) * lit(1e6))
      .cast("long")
    tf.join(vocab, "term")
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"), sum(col("tf") * lpMicro).as("num"))
      .select(col("doc_id"), col("n_tok").as("n_tokens"),
        (col("num").cast(DoubleType) / (lit(1e6) * col("n_tok").cast(DoubleType)))
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** J-tier extension — TOKEN-BUDGET TRIM: cut a corpus to its first N
    * tokens in deterministic shuffle order ("give me a 500 B-token slice
    * of this 2 T-token corpus, reproducibly"). Order is g5's seeded-md5
    * permutation; a doc survives iff the running token total through it
    * stays within budget.
    *
    * The running total is the interesting part at scale: the naive
    * `SUM OVER (ORDER BY key)` is a SINGLE-PARTITION window — the whole
    * corpus through one task. This implementation is a true distributed
    * prefix sum instead: bucket the uniform key space into fixed ranges
    * by hash prefix (buckets = key ranges, so bucket order ≡ key order —
    * no reliance on physical partition ids, which range-exchange sampling
    * would make nondeterministic), cumsum WITHIN each bucket via a
    * partitioned window, aggregate one total per bucket (buckets-count
    * rows to the driver), prefix-scan those driver-side, and broadcast
    * the per-bucket offsets back. Every data-sized step is partitioned;
    * the only global object is the bucket-offset array. PlanSpec pins the
    * no-SinglePartition shape. */
  val j16: QueryDef = m(
    "j16_token_budget",
    """WITH k AS (SELECT doc_id,
      |    md5(concat_ws(':', '42', CAST(doc_id AS VARCHAR))) AS skey,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents),
      |c AS (SELECT doc_id, toks,
      |    CAST(SUM(toks) OVER (ORDER BY skey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM k)
      |SELECT doc_id, toks, cum FROM c WHERE cum <= 12000
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val budget = 12000L
    val buckets = 32 // fixed ranges of the md5 space; uniform key → balanced
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("toks"))
      .withColumn("skey",
        md5(concat_ws(":", lit("42"), col("doc_id").cast("string"))))
      // bucket = leading 16 bits of the key / (65536/buckets): a RANGE
      // bucketing (not hash-mod), so bucket index order IS key order and
      // the driver-side prefix scan below is exact
      .withColumn("bkt",
        (conv(substring(col("skey"), 1, 4), 16, 10).cast(LongType)
          / lit(65536L / buckets)).cast(IntegerType))
    // two consumers read this frame (the bucket-totals collect and the
    // final offset join) — materialize it once so the scan + windowed
    // prefix pass doesn't execute twice (the Checkpoints.eager contract;
    // released after the result materializes)
    val local = graft.core.Checkpoints.eager(
      d.withColumn("cum_local",
        sum(col("toks")).over(Window.partitionBy(col("bkt")).orderBy(col("skey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    // one row per bucket — bounded by construction, never data-sized
    val totals = local.groupBy(col("bkt")).agg(sum(col("toks")).as("tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until buckets).scanLeft(0L) {
      case (acc, b) => acc + totals.getOrElse(b, 0L)
    }.take(buckets) // exclusive prefix: offset(b) = sum of buckets < b
    val offDf = spark.createDataFrame(
      offsets.zipWithIndex.map { case (off, b) => (b, off) })
      .toDF("bkt", "off")
    local.join(broadcast(offDf), "bkt")
      .withColumn("cum", col("cum_local") + col("off"))
      .where(col("cum") <= budget)
      .select(col("doc_id"), col("toks"), col("cum"))
      .orderBy(col("doc_id"))
  }

  /** J-tier extension — CHUNK-LEVEL EXACT DEDUP (the tractable form of
    * exact-substring dedup à la Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): split every
    * doc into fixed 8-token chunks, keep each distinct chunk only at its
    * FIRST corpus occurrence (min (doc_id, idx) — deterministic survivor,
    * same contract as k1), and reassemble docs from their surviving
    * chunks in original order. Docs that lose every chunk (pure copies of
    * earlier text) vanish entirely; boilerplate shared across docs is
    * stripped from all but its first carrier while the novel remainder
    * survives — finer-grained than doc-level k1, cheaper than
    * suffix-array substring matching.
    *
    * Shape: generator explode (chunking is row-local), one hash-agg
    * shuffle on chunk to elect survivors, survivor filter as a window
    * replay (no join-back), one final per-doc agg with in-group
    * array_sort reassembly. All shuffles are keyed; nothing global. */
  val j17: QueryDef = m(
    "j17_chunk_dedup",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |ch AS (SELECT doc_id, i AS idx,
      |    array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS chunk
      |  FROM t, UNNEST(range(0, CAST(ceil(len(toks)/8.0) AS INT))) AS u(i)),
      |r AS (SELECT doc_id, idx, chunk,
      |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
      |  FROM ch),
      |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id),
      |k AS (SELECT doc_id, COUNT(*) AS kept_chunks,
      |    string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
      |  FROM r WHERE rn = 1 GROUP BY doc_id)
      |SELECT k.doc_id, tot.n_chunks, k.kept_chunks, k.text_dedup
      |FROM k JOIN tot USING (doc_id) ORDER BY k.doc_id""".stripMargin) {
    (spark, dir) =>
      val C = 8
      val ch = Tables.documents(spark, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"), posexplode(transform(
          // sequence is ascending-safe here: toks is never empty (split of
          // a non-empty string), so ceil(n/C) >= 1 and stop >= start
          sequence(lit(0),
            ceil(size(col("toks")) / lit(C.toDouble)).cast(IntegerType) - 1),
          i => array_join(slice(col("toks"), i * C + 1, lit(C)), " "))))
        .toDF("doc_id", "idx", "chunk")
      // survivor election + filter in ONE shuffle: a window over chunk
      // replays the groupBy-min join-back at half the exchanges
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("chunk")).orderBy(col("doc_id"), col("idx"))
      val marked = ch
        .withColumn("rn", row_number().over(w))
        .withColumn("n_chunks",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))))
      marked.where(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(first(col("n_chunks")).as("n_chunks"),
          count(lit(1)).as("kept_chunks"),
          array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("chunk")))),
            s => s.getField("chunk")), " ").as("text_dedup"))
        .select(col("doc_id"), col("n_chunks"), col("kept_chunks"),
          col("text_dedup"))
        .orderBy(col("doc_id"))
  }

  /** J-tier extension — SUFFIX-WINDOW EXACT-SUBSTRING DEDUP: the
    * arbitrary-alignment upgrade of j17's fixed chunks, toward the Lee
    * et al. 2022 (arXiv:2107.06499) bar of removing any >= K-token
    * verbatim overlap wherever it starts. Every K-token sliding window
    * (all alignments) elects its FIRST corpus occurrence by (doc_id,
    * pos); every OTHER instance of the same window marks its K covered
    * token positions for removal; docs reassemble from surviving tokens
    * in order. A span duplicated at ANY offset is caught — j17's
    * chunk-grid misses dups that straddle chunk boundaries.
    *
    * Shape: window explode is row-local (a generator); election is ONE
    * keyed shuffle (window over the window string — at 100 TB key by a
    * 128-bit hash of the window and verify equality within hash groups;
    * the election algebra is unchanged); removal positions aggregate
    * per doc (keyed); one doc-keyed join attaches them; the rebuild is
    * a row-local HOF filter. No single-partition stage (PlanSpec pins
    * it), no all-pairs anything. */
  val j19: QueryDef = m(
    "j19_window_dedup",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |wins AS (SELECT doc_id, i AS pos,
      |    array_to_string(toks[(i+1):(i+8)], ' ') AS win
      |  FROM t, UNNEST(range(0, len(toks) - 8 + 1)) AS u(i)
      |  WHERE len(toks) >= 8),
      |r AS (SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
      |  FROM wins),
      |rem AS (SELECT DISTINCT doc_id, pos + j AS tp
      |  FROM r, UNNEST(range(0, 8)) AS v(j) WHERE rn > 1),
      |toksp AS (SELECT doc_id, tp, toks[CAST(tp AS INT) + 1] AS tok
      |  FROM t, UNNEST(range(0, len(toks))) AS u(tp)),
      |keep AS (SELECT p.doc_id, p.tp, p.tok
      |  FROM toksp p LEFT JOIN rem ON p.doc_id = rem.doc_id AND p.tp = rem.tp
      |  WHERE rem.tp IS NULL),
      |agg AS (SELECT doc_id, COUNT(*) AS kept_tokens,
      |    string_agg(tok, ' ' ORDER BY tp) AS text_dedup
      |  FROM keep GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(agg.kept_tokens, 0) AS BIGINT) AS kept_tokens,
      |  COALESCE(agg.text_dedup, '') AS text_dedup
      |FROM t LEFT JOIN agg USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin) { (spark, dir) =>
    val K = 8
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .withColumn("n", size(col("toks")))
    val wins = t.where(col("n") >= K)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("n") - K),
        i => array_join(slice(col("toks"), i + 1, lit(K)), " "))))
      .toDF("doc_id", "pos", "win")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win")).orderBy(col("doc_id"), col("pos"))
    // every non-first instance of a window string condemns its K covered
    // positions; collect_set dedups overlapping coverage per doc
    val remPos = wins.withColumn("rn", row_number().over(w))
      .where(col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + K - 1)).as("tp"))
      .groupBy(col("doc_id")).agg(collect_set(col("tp")).as("rem"))
    t.join(remPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").cast(LongType).as("n_tokens"),
        org.apache.spark.sql.functions.filter(
          transform(col("toks"), (tok, i) => struct(i.as("tp"), tok.as("tok"))),
          s => !array_contains(
            coalesce(col("rem"), array().cast("array<int>")),
            s.getField("tp"))).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast(LongType).as("kept_tokens"),
        array_join(transform(col("kept"), s => s.getField("tok")), " ")
          .as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  /** J-tier extension — RUN-LENGTH SPAN DEDUP AT THE LEE BAR: remove any
    * duplicated span of ≥ L=16 tokens while shuffling only K=8-token
    * windows — the published dedup bar (Lee et al. 2022 use ≥50-token
    * overlaps) hit WITHOUT paying the bar-sized window explode. j19 at
    * K=L would shuffle L tokens per position (at the 50-token production
    * bar, 50× the corpus); here the window stays small and the bar is
    * recovered from RUN LENGTH: a ≥L-token overlap appears as ≥ L-K+1
    * consecutive positions whose K-windows are all non-first duplicates,
    * so per doc the marked window-starts group into maximal runs
    * (gaps-and-islands: pos - row_number is constant within a run) and a
    * run covering end-start+K ≥ L tokens condemns exactly its covered
    * positions. Coverage is also STRICTLY stronger than a single
    * L-window election at the same bar: a chimera span stitched from two
    * different-partner ≥K overlaps totaling ≥L has NO single L-token
    * partner — an L-window election keeps it, the run election removes
    * it (HardeningSpec pins one). At 100 TB the election keys by a
    * 128-bit window hash (16 bytes/position regardless of K/L), same as
    * j19's note. Shape: row-local explode → ONE keyed election shuffle →
    * per-doc run grouping (doc-keyed window) → per-doc removal agg → doc
    * join → HOF rebuild; no single-partition stage (PlanSpec). */
  val j20: QueryDef = m(
    "j20_span_dedup",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |wins AS (SELECT doc_id, i AS pos,
      |    array_to_string(toks[(i+1):(i+8)], ' ') AS win
      |  FROM t, UNNEST(range(0, len(toks) - 8 + 1)) AS u(i)
      |  WHERE len(toks) >= 8),
      |r AS (SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
      |  FROM wins),
      |mk AS (SELECT doc_id, pos FROM r WHERE rn > 1),
      |g AS (SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM mk),
      |runs AS (SELECT doc_id, min(pos) AS s, max(pos) AS e
      |  FROM g GROUP BY doc_id, grp
      |  HAVING max(pos) - min(pos) + 8 >= 16),
      |rem AS (SELECT DISTINCT doc_id, s + j AS tp
      |  FROM runs, UNNEST(range(0, e - s + 8)) AS v(j)),
      |toksp AS (SELECT doc_id, tp, toks[CAST(tp AS INT) + 1] AS tok
      |  FROM t, UNNEST(range(0, len(toks))) AS u(tp)),
      |keep AS (SELECT p.doc_id, p.tp, p.tok
      |  FROM toksp p LEFT JOIN rem ON p.doc_id = rem.doc_id AND p.tp = rem.tp
      |  WHERE rem.tp IS NULL),
      |agg AS (SELECT doc_id, COUNT(*) AS kept_tokens,
      |    string_agg(tok, ' ' ORDER BY tp) AS text_dedup
      |  FROM keep GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(agg.kept_tokens, 0) AS BIGINT) AS kept_tokens,
      |  COALESCE(agg.text_dedup, '') AS text_dedup
      |FROM t LEFT JOIN agg USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin) { (spark, dir) =>
    // the SHARED election (also the `op: span_dedup` config surface);
    // K=8 / L=16 kept here so the sf-scale oracle has real spans to kill
    spanDedupOf(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")),
      "doc_id", "text", k = 8, minLen = 16, out = "text_dedup")
      .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
        col("text_dedup"))
      .orderBy(col("doc_id"))
  }

  /** Shared exact-substring SPAN-dedup election — the engine behind j20
    * AND the `op: span_dedup` config vocabulary. Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) remove every duplicated span of ≥ 50 tokens; the
    * K-token match windows approximate the suffix-array match with a
    * keyed election: a window that appears elsewhere in the corpus marks
    * its start position, maximal consecutive marked runs become spans,
    * and a run covering ≥ `minLen` tokens condemns exactly its covered
    * positions (the FIRST occurrence, by (id, pos) order, always
    * survives).
    *
    * Returns `df` + three columns: `n_tokens`, `kept_tokens`, `out`
    * (the rebuilt text); every other input column rides through. `id`
    * must be unique and non-null (rows with NULL ids keep all their
    * tokens — a null key matches no election row).
    *
    * 100 TB shape (PlanSpec-pinned via j20): row-local explode → ONE
    * election shuffle keyed by the window string → per-doc run grouping
    * (doc-keyed window) → per-doc removal agg → doc join → HOF rebuild.
    * No single-partition stage; state per position is one window key,
    * independent of document length. */
  def spanDedupOf(df: org.apache.spark.sql.DataFrame, id: String,
      text: String, k: Int, minLen: Int,
      out: String): org.apache.spark.sql.DataFrame = {
    require(k >= 2, s"span_dedup: window k must be >= 2, got $k")
    require(minLen >= k,
      s"span_dedup: min_len ($minLen) must be >= the match window k ($k)")
    val t = df
      .withColumn("__sd_toks", split(lower(col(text)), " "))
      .withColumn("__sd_n", size(col("__sd_toks")))
    val wins = t.where(col("__sd_n") >= k)
      .select(col(id).as("__sd_id"), posexplode(transform(
        sequence(lit(0), col("__sd_n") - k),
        i => array_join(slice(col("__sd_toks"), i + 1, lit(k)), " "))))
      .toDF("__sd_id", "pos", "win")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win")).orderBy(col("__sd_id"), col("pos"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__sd_id")).orderBy(col("pos"))
    // marked starts → maximal consecutive runs → bar filter → coverage
    val runs = wins.withColumn("rn", row_number().over(w))
      .where(col("rn") > 1).select(col("__sd_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy(col("__sd_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .where(col("e") - col("s") + k >= minLen)
    val remPos = runs
      .select(col("__sd_id"),
        explode(sequence(col("s"), col("e") + k - 1)).as("tp"))
      .groupBy(col("__sd_id")).agg(collect_set(col("tp")).as("__sd_rem"))
    t.join(remPos, t(id) === remPos("__sd_id"), "left")
      .withColumn("__sd_kept",
        org.apache.spark.sql.functions.filter(
          transform(col("__sd_toks"),
            (tok, i) => struct(i.as("tp"), tok.as("tok"))),
          s => !array_contains(
            coalesce(col("__sd_rem"), array().cast("array<int>")),
            s.getField("tp"))))
      .withColumn("n_tokens", col("__sd_n").cast(LongType))
      .withColumn("kept_tokens", size(col("__sd_kept")).cast(LongType))
      .withColumn(out,
        array_join(transform(col("__sd_kept"), s => s.getField("tok")), " "))
      .drop("__sd_toks", "__sd_n", "__sd_id", "__sd_rem", "__sd_kept")
  }

  /** J-tier extension — REAL BPE tokenization with a LEARNED vocabulary
    * (graft.ext.Bpe; Sennrich et al. 2016, arXiv:1508.07909), upgrading
    * token counting from the `graft_bpeish_count` regex stand-in to the
    * actual algorithm, end to end through the config surface: `bpe_train`
    * learns a merge table from the corpus (one distributed word-count
    * agg, bounded top-K to the driver), `bpe_tokenize` applies it as a
    * map-only codegen expression carrying the (bounded) vocabulary — no
    * join, no shuffle on the apply path.
    *
    * The oracle replays the EXACT tokenization: DuckDB reads the merges
    * parquet the train pipeline wrote and re-derives every distinct
    * word's pieces with a recursive CTE that merges the lowest-rank,
    * leftmost adjacent pair per step — the same greedy semantics the
    * Scala tokenizer implements (merging one occurrence at a time in
    * that order is equivalent to the per-round all-occurrences form).
    * So train determinism, merge-table serialization, AND apply
    * semantics are all hash-checked cross-engine. */
  val j18: QueryDef = m(
    "j18_bpe_tokenize",
    """WITH RECURSIVE
      |words AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '')) AS w
      |  FROM documents),
      |merges AS (
      |  SELECT a, b, rank FROM read_parquet('/tmp/graft_io/bpe_merges/*.parquet')),
      |tok AS (
      |  SELECT w, string_split(w, '') AS syms FROM (SELECT DISTINCT w FROM words)
      |  UNION ALL
      |  SELECT w, list_concat(list_concat(
      |      syms[1:bp-1], [syms[bp] || syms[bp+1]]), syms[bp+2:]) AS syms
      |  FROM (
      |    SELECT w, syms,
      |      (SELECT MIN_BY(i, m.rank * 1000000 + i)
      |         FROM unnest(range(1, len(syms))) AS u(i)
      |         JOIN merges m ON m.a = syms[i] AND m.b = syms[i+1]) AS bp
      |    FROM tok) WHERE bp IS NOT NULL),
      |pieces AS (
      |  SELECT w, len(syms) AS c FROM (
      |    SELECT w, syms,
      |      (SELECT MIN(m.rank)
      |         FROM unnest(range(1, len(syms))) AS u(i)
      |         JOIN merges m ON m.a = syms[i] AND m.b = syms[i+1]) AS more
      |    FROM tok) WHERE more IS NULL),
      |per_doc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |         CAST(SUM(c) AS BIGINT) AS bpe_tokens
      |  FROM words JOIN pieces USING (w) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
      |  CAST(COALESCE(p.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
      |FROM documents d LEFT JOIN per_doc p USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.pipeline.PipelineRunner.run(spark,
      s"""name: j18_train
         |source: {format: parquet, path: "$dir/documents.parquet"}
         |transforms:
         |  - {op: bpe_train, cols: [text], k: 40, max_rows: 1000}
         |sink: {format: parquet, path: "/tmp/graft_io/bpe_merges", mode: overwrite}
         |""".stripMargin)
    graft.pipeline.PipelineRunner.run(spark,
      s"""name: j18_apply
         |source: {format: parquet, path: "$dir/documents.parquet"}
         |transforms:
         |  - {op: bpe_tokenize, cols: [text], name: pieces,
         |     table: {format: parquet, path: "/tmp/graft_io/bpe_merges"}}
         |  - {op: derive, name: n_words,
         |     expr: "CAST(size(filter(split(lower(text), '[^a-z0-9]+'), w -> length(w) > 0)) AS BIGINT)"}
         |  - {op: derive, name: bpe_tokens, expr: "CAST(size(pieces) AS BIGINT)"}
         |  - {op: select, cols: [doc_id, n_words, bpe_tokens]}
         |  - {op: sort, cols: [doc_id]}
         |""".stripMargin).passed
  }

  override def defs: Seq[QueryDef] =
    Seq(j6b, j9, j10, j11, j12, j13, j14, j15, j16, j17, j18, j19, j20, k8, k9)
}
