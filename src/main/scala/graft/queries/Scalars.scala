package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.core.Det._

/** SURVEY.md §2.I — the scalar function surface of the derived-column
  * grammar (config `derive` expressions), one micro-query per family.
  *
  * Dialect mappings measured against DuckDB 1.0.0 this session:
  *  - int-returning Spark fns (length/instr/year/...) ↔ BIGINT in DuckDB →
  *    Spark side casts to LONG;
  *  - DuckDB has no `initcap` → oracle emulates per word;
  *  - DuckDB `regexp_replace` is first-match unless the 'g' flag is given
  *    (Spark replaces all) → oracle passes 'g';
  *  - DuckDB `dayofweek` is 0=Sunday, Spark is 1=Sunday → oracle +1;
  *  - DuckDB `date_trunc` yields DATE for month/year → oracle re-casts;
  *  - DuckDB `list_distinct` does not preserve order → both sides sort;
  *  - `ceil`/`floor` on DOUBLE: Spark → LONG, DuckDB → DOUBLE → oracle casts;
  *  - transcendentals (exp/ln/log10/pow) are libm-dependent → compared at
  *    6 dp (D-rule 7); `bround` (half-even) has no DuckDB twin → X-tier.
  *
  * Scale posture: every query is a pure projection over one scan — no
  * shuffle except the output sort; all functions are codegen'd built-ins.
  */
object Scalars extends QueryPack {
  import QueryDef._

  /** §2.I1 — string family. */
  val i1: QueryDef = m(
    "i1_string",
    """SELECT c_custkey,
      |  upper(c_mktsegment) AS seg_up, lower(c_name) AS name_lo,
      |  trim(concat('  ', c_mktsegment, ' ')) AS trimmed,
      |  ltrim(concat('xx', c_name), 'x') AS ltrimmed,
      |  rtrim(concat(c_name, 'yy'), 'y') AS rtrimmed,
      |  length(c_name) AS name_len,
      |  substring(c_name, 10, 5) AS name_mid,
      |  concat(c_mktsegment, '|', c_name) AS joined,
      |  concat_ws('-', c_mktsegment, c_name, 'z') AS joined_ws,
      |  array_to_string(string_split(c_name, '#'), '|') AS parts,
      |  lpad(c_mktsegment, 12, '*') AS padded_l,
      |  rpad(c_mktsegment, 12, '*') AS padded_r,
      |  replace(c_name, '0', '_') AS replaced,
      |  array_to_string(list_transform(string_split(lower(c_mktsegment), ' '),
      |    w -> upper(w[1]) || lower(w[2:])), ' ') AS initcapped,
      |  reverse(c_mktsegment) AS reversed,
      |  instr(c_name, '#') AS hash_pos
      |FROM customer ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    // SORT FIRST, DERIVE AFTER (round-21, applied family-wide): when the
    // final ORDER BY keys are base columns forming a total order (unique
    // key — verified per table) and the projection is 1:1 per row, the
    // sort runs on the narrow base columns and the derivation moves above
    // it. Two measured costs disappear: (a) RangePartitioning's sampling
    // job executes the child plan — with the projection below the sort,
    // every derived column is computed a second time just to sample the
    // keys; (b) the range exchange carries the (much wider) derived row.
    // Rows, values and order are identical: the projection neither adds,
    // drops nor reorders rows, and the keys are tie-free. Measured at
    // sf0.1, warm, one JVM (OPTIMIZATION_r21.md, change 2): b6 2.4→0.7 s,
    // i4 2.9→1.1 s.
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_name"))
      .orderBy(col("c_custkey"))
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_up"),
        lower(col("c_name")).as("name_lo"),
        trim(concat(lit("  "), col("c_mktsegment"), lit(" "))).as("trimmed"),
        ltrim(concat(lit("xx"), col("c_name")), "x").as("ltrimmed"),
        rtrim(concat(col("c_name"), lit("yy")), "y").as("rtrimmed"),
        length(col("c_name")).cast(LongType).as("name_len"),
        substring(col("c_name"), 10, 5).as("name_mid"),
        concat(col("c_mktsegment"), lit("|"), col("c_name")).as("joined"),
        concat_ws("-", col("c_mktsegment"), col("c_name"), lit("z")).as("joined_ws"),
        array_join(split(col("c_name"), "#"), "|").as("parts"),
        lpad(col("c_mktsegment"), 12, "*").as("padded_l"),
        rpad(col("c_mktsegment"), 12, "*").as("padded_r"),
        regexp_replace(col("c_name"), "0", "_").as("replaced"),
        initcap(lower(col("c_mktsegment"))).as("initcapped"),
        reverse(col("c_mktsegment")).as("reversed"),
        instr(col("c_name"), "#").cast(LongType).as("hash_pos"))
  }

  /** §2.I2 — regex family (portable RE2-safe patterns only). */
  val i2: QueryDef = m(
    "i2_regex",
    """SELECT p_partkey,
      |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 1) AS first_word,
      |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
      |  regexp_replace(p_name, '[aeiou]', '.', 'g') AS devoweled,
      |  regexp_matches(p_type, '^(ECONOMY|PREMIUM)$') AS is_tier
      |FROM part ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 1).as("first_word"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
        regexp_replace(col("p_name"), "[aeiou]", ".").as("devoweled"),
        col("p_type").rlike("^(ECONOMY|PREMIUM)$").as("is_tier"))
      .orderBy(col("p_partkey"))
  }

  /** §2.I3 — date/time family over TIMESTAMP_NTZ o_orderdate. */
  val i3: QueryDef = m(
    "i3_datetime",
    """SELECT o_orderkey,
      |  year(o_orderdate) AS y, month(o_orderdate) AS mo,
      |  dayofmonth(o_orderdate) AS dom,
      |  dayofweek(o_orderdate) + 1 AS dow,
      |  hour(o_orderdate) AS hh, minute(o_orderdate) AS mi,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  date_diff('day', o_orderdate, TIMESTAMP '1998-09-02 00:00:00') AS days_to_cut,
      |  CAST(o_orderdate AS DATE) + 30 AS plus30,
      |  CAST(o_orderdate AS DATE) - 7 AS minus7,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  make_date(year(o_orderdate), 1, 1) AS year_start,
      |  CAST(o_orderdate AS DATE) AS as_date,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val d = col("o_orderdate")
    // sort-first (see i1): key o_orderkey is unique, derivation is 1:1
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
      .select(
        col("o_orderkey"),
        year(d).cast(LongType).as("y"),
        month(d).cast(LongType).as("mo"),
        dayofmonth(d).cast(LongType).as("dom"),
        dayofweek(d).cast(LongType).as("dow"),
        hour(d).cast(LongType).as("hh"),
        minute(d).cast(LongType).as("mi"),
        date_trunc("month", d).cast(TimestampNTZType).as("month_start"),
        datediff(Tables.tsLit("1998-09-02 00:00:00"), d).cast(LongType).as("days_to_cut"),
        date_add(d.cast(DateType), 30).as("plus30"),
        date_sub(d.cast(DateType), 7).as("minus7"),
        last_day(d.cast(DateType)).as("month_end"),
        make_date(year(d), lit(1), lit(1)).as("year_start"),
        to_date(d).as("as_date"),
        unix_timestamp(d.cast(TimestampType)).as("epoch_s"))
  }

  /** §2.I4 — math family. round() routes through DECIMAL (half-up agrees
    * cross-engine in the decimal domain); transcendentals compared at 6dp. */
  val i4: QueryDef = m(
    "i4_math",
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice,
      |  abs(l_extendedprice * -1) AS abs_price,
      |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
      |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
      |  CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)), 1) AS DOUBLE) AS round1,
      |  round(sqrt(l_quantity), 6) AS sqrt_qty,
      |  round(exp(l_discount), 6) AS exp_disc,
      |  round(ln(l_extendedprice), 6) AS ln_price,
      |  round(log10(l_extendedprice), 6) AS log10_price,
      |  round(pow(l_quantity, 1.5), 6) AS qty_pow,
      |  ((l_orderkey % 7) + 7) % 7 AS pmod7,
      |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn,
      |  greatest(l_quantity, l_discount * 100) AS gr,
      |  least(l_quantity, l_discount * 100) AS le
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_shipdate, l_extendedprice""".stripMargin) { (spark, dir) =>
    // sort-first (see i1): the 4-key prefix is tie-free in this data
    // (checked: COUNT(DISTINCT 4 keys) = COUNT(*) at every SF), so the
    // 600k-row range sort moves 6 narrow columns and the 5 libm
    // transcendentals run once, above the exchange, not also inside the
    // range sampler. Measured 2.9 → 1.1 s at sf0.1.
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_extendedprice"), col("l_quantity"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("l_extendedprice"))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("l_extendedprice"),
        abs(col("l_extendedprice") * -1).as("abs_price"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        round(dec2(col("l_extendedprice")), 1).cast(DoubleType).as("round1"),
        round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
        round(exp(col("l_discount")), 6).as("exp_disc"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        round(log10(col("l_extendedprice")), 6).as("log10_price"),
        round(pow(col("l_quantity"), 1.5), 6).as("qty_pow"),
        pmod(col("l_orderkey"), lit(7)).as("pmod7"),
        signum(col("l_discount") - 0.05).as("sgn"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("gr"),
        least(col("l_quantity"), col("l_discount") * 100).as("le"))
  }

  /** §2.I4b — bround (half-even) has no DuckDB twin: X-tier, law-tested
    * in ScalarsSpec. */
  val i4x: QueryDef = x("i4x_bround") { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        bround(col("l_extendedprice"), 1).as("bround1"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("bround1"))
  }

  /** §2.I5 — conditional / null family. */
  val i5: QueryDef = m(
    "i5_conditional",
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 150000 THEN 'high'
      |       WHEN o_totalprice > 50000 THEN 'mid' ELSE 'low' END AS bucket,
      |  CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_open,
      |  coalesce(nullif(o_orderstatus, 'F'), 'done') AS status_or_done,
      |  nullif(o_orderstatus, 'O') AS null_if_open,
      |  coalesce(nullif(o_orderpriority, o_orderpriority), o_orderpriority) AS prio2,
      |  (nullif(o_orderstatus, 'O') IS NULL) AS isnull_flag,
      |  CASE WHEN isnan(o_totalprice) THEN 0.0 ELSE o_totalprice END AS nan_guard
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    // sort-first (see i1): key o_orderkey is unique, derivation is 1:1
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 150000, "high")
          .when(col("o_totalprice") > 50000, "mid").otherwise("low").as("bucket"),
        expr("if(o_orderstatus = 'O', 1, 0)").as("is_open"),
        coalesce(nullif(col("o_orderstatus"), lit("F")), lit("done")).as("status_or_done"),
        nullif(col("o_orderstatus"), lit("O")).as("null_if_open"),
        expr("nvl(nullif(o_orderpriority, o_orderpriority), o_orderpriority)").as("prio2"),
        isnull(nullif(col("o_orderstatus"), lit("O"))).as("isnull_flag"),
        nanvl(col("o_totalprice"), lit(0.0)).as("nan_guard"))
  }

  /** §2.I6 — array family + higher-order functions. Arrays stay internal;
    * the FINAL projection serializes every list to a '|'-joined string so
    * the driver's comparator (scalar dtypes only) can hash it — the green
    * e7_collect_list pattern, applied to all 12 list outputs. DuckDB's
    * array_to_string is string_agg underneath, so an EMPTY list yields
    * NULL where Spark's array_join yields '' — every possibly-empty list
    * gets coalesce(..., '') on the oracle side. */
  val i6: QueryDef = m(
    "i6_array",
    """SELECT p_partkey, array_to_string(toks, '|') AS toks,
      |  len(toks) AS n_toks,
      |  list_contains(toks, 'red') AS has_red,
      |  array_to_string(list_sort(toks), '|') AS sorted_toks,
      |  array_to_string(list_sort(list_distinct(toks)), '|') AS distinct_toks,
      |  array_to_string(list_slice(toks, 1, 1), '|') AS first_slice,
      |  toks[1] AS first_tok,
      |  array_to_string(list_transform(range(1, 4), x -> CAST(x AS VARCHAR)), '|') AS seq13,
      |  array_to_string(list_sort(list_distinct(list_concat(toks, ['red', 'zz']))), '|') AS union_red,
      |  coalesce(array_to_string(list_sort(list_intersect(toks, ['red', 'blue', 'green'])), '|'), '') AS colors,
      |  coalesce(array_to_string(list_sort(list_filter(toks, t -> t NOT IN ('red', 'blue', 'green'))), '|'), '') AS non_colors,
      |  array_to_string(flatten([toks, ['x']]), '|') AS flat,
      |  array_to_string(list_transform(toks, t -> upper(t)), '|') AS upped,
      |  coalesce(array_to_string(list_filter(toks, t -> length(t) > 3), '|'), '') AS longtoks,
      |  len(list_filter(toks, t -> t = 'bolt')) > 0 AS has_bolt,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> length(t))), (a, b) -> a + b) AS BIGINT) AS total_len,
      |  array_to_string(list_transform(list_zip(toks, toks), p -> p[1] || p[2]), '|') AS doubled
      |FROM (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part)
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    // sort-first (see i1): the 17 array ops / HOF lambdas (interpreted,
    // not codegen) run once above the exchange — the range sampler no
    // longer evaluates them, and the exchange moves (p_partkey, p_name)
    // instead of 17 computed strings
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey"))
      .withColumn("toks", split(col("p_name"), " "))
      .select(
        col("p_partkey"), array_join(col("toks"), "|").as("toks"),
        size(col("toks")).cast(LongType).as("n_toks"),
        array_contains(col("toks"), "red").as("has_red"),
        array_join(sort_array(col("toks")), "|").as("sorted_toks"),
        array_join(sort_array(array_distinct(col("toks"))), "|").as("distinct_toks"),
        array_join(slice(col("toks"), 1, 1), "|").as("first_slice"),
        element_at(col("toks"), 1).as("first_tok"),
        expr("array_join(transform(sequence(1L, 3L), x -> CAST(x AS STRING)), '|')").as("seq13"),
        array_join(sort_array(array_union(col("toks"), array(lit("red"), lit("zz")))), "|").as("union_red"),
        array_join(sort_array(array_intersect(col("toks"), array(lit("red"), lit("blue"), lit("green")))), "|").as("colors"),
        array_join(sort_array(expr("filter(toks, t -> NOT t IN ('red','blue','green'))")), "|").as("non_colors"),
        array_join(flatten(array(col("toks"), array(lit("x")))), "|").as("flat"),
        array_join(expr("transform(toks, t -> upper(t))"), "|").as("upped"),
        array_join(expr("filter(toks, t -> length(t) > 3)"), "|").as("longtoks"),
        expr("exists(toks, t -> t = 'bolt')").as("has_bolt"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("total_len"),
        array_join(expr("zip_with(toks, toks, (a, b) -> concat(a, b))"), "|").as("doubled"))
  }

  /** §2.I7 — map family over parsed props (compared as extracted scalars
    * + sorted key lists, D-rule 6). The map is built with str_to_map (a
    * codegen'd expression) rather than from_json: JsonToStructs is
    * CodegenFallback AND gets duplicated by CollapseProject — measured
    * ~10 s at sf0.1 vs ~1 s for this form. from_json/to_json semantics
    * are spec-covered (ScalarsSpec), off the sf0.1 hot path. */
  val i7: QueryDef = m(
    "i7_map",
    """SELECT event_id,
      |  array_to_string(CAST(json_keys(props) AS VARCHAR[]), '|') AS mkeys,
      |  CAST(CAST(props->>'$.k' AS INT) AS VARCHAR) AS mvals,
      |  CAST(props->>'$.k' AS INT) AS k_val,
      |  CAST(props->>'$.k' AS INT) AS k_val_entries
      |FROM events ORDER BY event_id""".stripMargin) { (spark, dir) =>
    // sort-first (see i1): key event_id is unique, derivation is 1:1
    Tables.events(spark, dir)
      .select(col("event_id"), col("props"))
      .orderBy(col("event_id"))
      .withColumn("m",
        expr("""str_to_map(regexp_replace(props, '[{}" ]', ''), ',', ':')"""))
      .select(
        col("event_id"),
        array_join(map_keys(col("m")), "|").as("mkeys"),
        expr("array_join(transform(map_values(m), v -> CAST(CAST(v AS INT) AS STRING)), '|')").as("mvals"),
        element_at(col("m"), "k").cast(IntegerType).as("k_val"),
        element_at(
          expr("map_from_entries(transform(map_keys(m), k -> struct(k, CAST(m[k] AS INT))))"),
          "k").as("k_val_entries"))
  }

  /** §2.I8 — JSON family (b8 covers get_json_object; this adds json_tuple
    * extraction, numeric cast-out, and a JSON rebuild — formats verified
    * identical to DuckDB's to_json(struct_pack(...))). The
    * from_json/to_json struct round-trip itself is spec-covered
    * (ScalarsSpec) rather than benched: both are CodegenFallback and have
    * no business in a per-row hot path when the extraction grammar is
    * fixed. */
  val i8: QueryDef = m(
    "i8_json",
    """SELECT event_id,
      |  props->>'$.k' AS k_str,
      |  CAST(props->>'$.k' AS BIGINT) AS k_num,
      |  CAST(to_json(struct_pack(k := CAST(props->>'$.k' AS BIGINT))) AS VARCHAR) AS rebuilt
      |FROM events ORDER BY event_id""".stripMargin) { (spark, dir) =>
    // ONE JSON parse per row (json_tuple, codegen'd); k_num derives from
    // the extracted string by cast and the rebuilt object by string
    // formatting. The previous form ALSO ran a from_json/to_json pair —
    // JsonToStructs/StructsToJson are CodegenFallback (interpreted, plus
    // a second full Jackson parse per row) and benched 3-5x slower for
    // identical output. from_json/to_json stay covered where their
    // semantics are actually needed (streaming payload decode, b8's spec);
    // here the grammar is fixed so the cheap rebuild is exact: fixtures
    // are valid JSON with an integer k (FIXTURES.md), making
    // format_string('{"k":%d}') byte-identical to DuckDB's
    // to_json(struct_pack(k := ...)).
    // sort-first (see i1): key event_id is unique, derivation is 1:1
    Tables.events(spark, dir)
      .select(col("event_id"), col("props"))
      .orderBy(col("event_id"))
      .selectExpr("event_id", "json_tuple(props, 'k') AS k_str")
      .select(
        col("event_id"),
        col("k_str"),
        col("k_str").cast(LongType).as("k_num"),
        format_string("{\"k\":%d}", col("k_str").cast(LongType)).as("rebuilt"))
  }

  /** §2.I9 — portable hashes (md5 / sha2-256). */
  val i9: QueryDef = m(
    "i9_hash",
    """SELECT n_nationkey,
      |  md5(concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name)) AS row_md5,
      |  sha256(n_name) AS name_sha
      |FROM nation ORDER BY n_nationkey""".stripMargin) { (spark, dir) =>
    Tables.nation(spark, dir)
      .select(
        col("n_nationkey"),
        md5(concat_ws("|", col("n_nationkey").cast(StringType), col("n_name"))).as("row_md5"),
        sha2(col("n_name"), 256).as("name_sha"))
      .orderBy(col("n_nationkey"))
  }

  /** §2.I9b — engine-internal hashes + ids: X-tier (no cross-engine twin);
    * stability law-tested in ScalarsSpec. */
  val i9x: QueryDef = x("i9x_engine_hashes") { (spark, dir) =>
    Tables.nation(spark, dir)
      .select(
        col("n_nationkey"),
        hash(col("n_name")).as("h32"),
        xxhash64(col("n_name")).as("h64"),
        crc32(col("n_name").cast("binary")).as("crc"))
      .orderBy(col("n_nationkey"))
  }

  /** §2.I8 extension — Spark 4 VARIANT: `parse_json` builds the binary
    * variant value once, `variant_get` extracts typed fields from it.
    * Distinct from i8's string-JSON path: VARIANT is the engine's native
    * semi-structured type, and at 100 TB it matters because parquet
    * writes it SHREDDED (typed subcolumns with stats), so filters and
    * projections on extracted fields prune like ordinary columns instead
    * of re-parsing text per row. Null-JSON rows surface as null variants
    * (try_parse_json) — same rows DuckDB's ->> returns NULL for. */
  val i8v: QueryDef = m(
    "i8v_variant_json",
    """SELECT event_id,
      |  CAST(props->>'$.k' AS INTEGER) AS k_int,
      |  CAST(props->>'$.k' AS DOUBLE) AS k_dbl,
      |  props IS NULL OR json_valid(props) = false AS bad_json
      |FROM events ORDER BY event_id""".stripMargin) { (spark, dir) =>
    // sort-first (see i1): key event_id is unique, derivation is 1:1
    Tables.events(spark, dir)
      .select(col("event_id"), col("props"))
      .orderBy(col("event_id"))
      .selectExpr("event_id", "try_parse_json(props) AS v")
      .selectExpr(
        "event_id",
        "variant_get(v, '$.k', 'int') AS k_int",
        "variant_get(v, '$.k', 'double') AS k_dbl",
        "v IS NULL AS bad_json")
  }

  override def defs: Seq[QueryDef] =
    Seq(i1, i2, i3, i4, i4x, i5, i6, i7, i8, i8v, i9, i9x)
}
