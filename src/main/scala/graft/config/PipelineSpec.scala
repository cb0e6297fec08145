package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** The reference's declared surface (/root/reference/README.md:2): a
  * "unified, configuration-driven data ingestion platform … dynamically
  * handle various data sources through YAML configurations, perform
  * customisable validation and enrichment."
  *
  * This is that config model, made concrete: YAML → typed spec. Parsing is
  * explicit tree-walking (jackson-dataformat-yaml ships in
  * /opt/spark/jars) — no reflection/databind magic, so unknown fields and
  * type mismatches fail with a path-qualified error instead of a null.
  */
/** `mode: streaming` (§3.2 EP3) runs the SAME declared pipeline as a
  * Structured Streaming query (readStream source, checks as stream
  * filters, streamable transforms on the stream, trailing sort/limit on
  * the captured result). `output_mode` defaults to append; use update for
  * streaming aggregates. */
/** `metrics_sink` (batch only): after the run, one row per check —
  * (pipeline, run_ts, check, pass_cnt, fail_cnt) — lands in the declared
  * sink. Declare `mode: append` to accumulate run history for drift
  * dashboards; the rows reuse the observe()-collected counts, so no
  * extra pass over the data happens. Dropping curation gates
  * (minhash_dedup / quality_filter / decontaminate without `name:`)
  * additionally contribute one `gate_<op>_<position>` row each, with
  * pass_cnt = rows retained and fail_cnt = rows killed by the gate —
  * these counts DO run as dedicated aggregate-only jobs (see
  * PipelineRunner for why they cannot ride observe), and only when a
  * metrics_sink is declared. */
/** `assertions` (batch only): dataset-level post-conditions — SQL
  * AGGREGATE expressions over the transformed result ("count(*) >= 100",
  * "avg(score) BETWEEN 0 AND 1") evaluated in ONE aggregate-only job
  * BEFORE any sink writes: a failed assertion aborts the run and nothing
  * publishes (the data-quality SLA gate).
  *
  * `branches` (ADF "new branch" parity, batch only): named side flows
  * that FORK from the validated source (post-checks, pre-transforms),
  * each with its own transform chain and sink — one declared pipeline
  * feeds many shaped outputs (e.g. the curated corpus AND a per-lang
  * aggregate AND a sampled eyeball set). Branch sinks publish only
  * after the main flow's assertions pass (the SLA gate covers the whole
  * run); each branch is its own Spark action, so at scale a reused fork
  * point is worth a persist() — the runner keeps the semantics, the
  * deployment picks the caching. */
final case class PipelineSpec(
    name: String,
    mode: String,                 // batch | streaming | mv_refresh
    outputMode: Option[String],   // streaming only: append | update | complete
    source: SourceSpec,
    checks: Seq[CheckSpec],
    transforms: Seq[TransformSpec],
    sink: Option[SinkSpec],
    quarantine: Option[SinkSpec],
    metricsSink: Option[SinkSpec],
    assertions: Seq[String],
    branches: Seq[BranchSpec],
    mv: Option[MvSpec] = None,    // mode: mv_refresh only
    maintenance: Option[MaintenanceSpec] = None, // mode: maintenance only
    mvStreaming: Boolean = false) // mode: mv_refresh + streaming: true

/** Declared ACID-table maintenance (`mode: maintenance`): the DML/layout
  * operations a deployed table needs on a schedule — predicate delete
  * (GDPR/TTL), predicate update, version rollback, bin-pack/Z-order
  * compaction, orphan-file reclamation — as one-op pipelines, so the
  * same YAML surface that declares ingest also declares retention.
  * Exactly one op per pipeline; each op's foreign knobs are rejected at
  * parse (a config key must FAIL, not silently no-op). */
final case class MaintenanceSpec(
    op: String,                   // delete_where | update_where | restore |
                                  // optimize | vacuum | add_constraint |
                                  // drop_constraint
    path: String,                 // the graft_table root
    where: Option[String],        // delete_where / update_where
    set: Map[String, String],     // update_where: col -> SQL expr
    toVersion: Option[Long],      // restore
    targetFiles: Option[Int],     // optimize
    zorderBy: Seq[String],        // optimize (2-4 columns, optional)
    zorderBits: Option[Int],      // optimize
    constraintName: Option[String] = None, // add_constraint / drop_constraint
    check: Option[String] = None,          // add_constraint
    retentionHours: Option[Double] = None, // vacuum (default 168 = 7 days)
    partition: Map[String, String] = Map.empty, // drop_partition: col -> value
    column: Option[String] = None, // drop_column: the column to drop;
                                   // rename_column uses set: {old: new}
    deadRowFraction: Option[Double] = None) // auto_compact trigger knob

/** Declared incremental materialized view (`mode: mv_refresh`): maintain
  * `keys × aggs` over the graft_table `source`, stored at `path`. Agg
  * strings are `fn(expr) AS out` with fn ∈ count|sum|min|max|
  * approx_distinct (the decomposable set MaterializedView supports). */
final case class MvSpec(
    path: String,
    keys: Seq[String],
    aggs: Seq[(String, String, String)]) // (fn, expr, out)

/** One forked side flow: transforms applied to the post-check frame,
  * result written to the branch's sink. */
final case class BranchSpec(
    name: String,
    transforms: Seq[TransformSpec],
    sink: SinkSpec)

/** format ∈ parquet | orc | csv | json | xml | jdbc | kafka | binaryfile
  * (§2.A3-A5, A9). `schema` is a Spark DDL string ("a INT, b STRING");
  * required for csv/json, ignored for parquet/orc (self-describing),
  * unused for jdbc (driver-resolved). binaryfile is the whole-blob ingest
  * path for multimodal corpora (images/audio/video as opaque bytes): each
  * file becomes one row with the connector's FIXED schema (path,
  * modificationTime, length, content binary) — a declared schema is
  * rejected for the same reason kafka's is. kafka
  * (streaming mode only) is addressed entirely via options —
  * kafka.bootstrap.servers + exactly one of subscribe/subscribePattern/
  * assign, everything passed to the connector verbatim — and carries the
  * connector's fixed record schema (key/value binary + topic/partition/
  * offset/timestamp); parse the value with `derive` transforms.
  *
  * `incremental` (ADF incremental-copy parity, the single most common
  * pipeline pattern): reads only rows whose `watermark_col` exceeds the
  * high-water mark persisted at `state_path`; after a successful batch
  * run the runner advances the mark to the max watermark read. First run
  * (no state file) is the full load. The filter is a plain pushed-down
  * predicate — at 100 TB with the source partitioned by the watermark
  * column it prunes to the new partitions only.
  *
  * `drift` (ADF "allow schema drift" parity; parquet + declared schema):
  *  - allow: evolved files merge (mergeSchema), then the read conforms to
  *    the DECLARED schema by name — missing columns become typed nulls,
  *    upstream additions are dropped, widening casts only; a narrowing
  *    drift fails and names the column (graft.core.Conform). Downstream
  *    ops never see a surprise column.
  *  - strict: fail FAST with the exact column-level drift (missing /
  *    extra / retyped) instead of a confusing resolve error deep in
  *    some later transform.
  * csv/json don't take a drift policy: their readers already force the
  * declared schema at parse time (csv maps by POSITION — by-name drift
  * handling is not meaningful there). */
final case class SourceSpec(
    format: String,
    path: Option[String],
    table: Option[String],
    schema: Option[String],
    options: Map[String, String],
    incremental: Option[IncrementalSpec],
    drift: Option[String])

/** High-water-mark state: `statePath` holds one JSON object
  * {"hwm": "<value as string>", "type": "<Spark DDL type>"} so the typed
  * comparison literal survives restarts for any orderable column type.
  *
  * CONTRACT — the watermark column must be monotonic at commit time:
  * when a run reads, every row with `watermark_col` ≤ the current source
  * maximum must already be present (the ADF incremental-copy assumption).
  * The filter is strictly `>` and the mark advances to the max READ, so
  * rows that arrive LATER carrying an already-passed watermark value
  * (e.g. a coarse DATE column on a still-open day) are permanently
  * skipped. For coarse-grained columns, watermark on the fine-grained
  * modification timestamp instead. */
final case class IncrementalSpec(watermarkCol: String, statePath: String)

/** §2.C check taxonomy. Exactly one payload shape per `typ`. */
final case class CheckSpec(
    typ: String,                  // not_null | range | in_set | regex | str_len | cross | unique | ref
    name: Option[String],
    col: Option[String],
    lo: Option[Double],
    hi: Option[Double],
    values: Seq[String],
    pattern: Option[String],
    expr: Option[String],
    refTable: Option[SourceSpec], // for `ref`: the dimension side
    refCol: Option[String]) {
  def checkName: String = name.getOrElse(s"${typ}_${col.getOrElse(expr.getOrElse("x"))}")
}

/** §2.B/§2.D/§2.E/§2.H/§2.K transform taxonomy, interpreted in declared
  * order. Field use by op:
  *  - aggregate: `cols` = GROUP BY keys (empty ⇒ global agg), `aggs` =
  *    SQL aggregate expressions with aliases ("sum(x) AS total")
  *  - union: `table` = the other source, unioned BY NAME (schema safety —
  *    positional union silently misaligns evolved schemas)
  *  - dedup: no cols ⇒ full-row DISTINCT; `cols` = keys requires
  *    `orderBy` so the survivor is deterministic (bare dropDuplicates
  *    keeps a partition-order-dependent row — never acceptable in a
  *    reproducible pipeline)
  *  - derive: `expr` may be a window function ("rank() OVER (...)") —
  *    Spark's expression parser accepts OVER clauses, so §2.F windows
  *    need no dedicated op
  *  - asof_join (§2.D7, batch only): `table` = right side, `where` =
  *    optional right-side filter, `cols` = right-side projection with
  *    rename pairs ("old:new" — output names must not collide with the
  *    left), `on` = equi-key pairs "leftKey:rightKey", `expr` =
  *    "leftTs:rightTs". Runs the native graft.plans.AsOf merge operator.
  *  - flatten (§2.B7): `cols` = [the array column] (consumed), `name` =
  *    element output column (defaults to the array name), `to` = optional
  *    position column (posexplode), `how: outer` keeps empty/null arrays
  *    as one null row
  *  - pivot (§2.E8): `cols` = group keys, `name` = the pivot column,
  *    `values` = the EXPLICIT pivot values (required — value discovery is
  *    a hidden full scan at 100 TB), `aggs` = aggregate expressions
  *  - unpivot (§2.E9): `cols` = id columns, `values` = measure columns,
  *    `name`/`to` = variable/value output column names
  *  - surrogate_key (§2.B9): `name` = key column, `orderBy` = the total
  *    order the dense ids follow, `max_rows` = REQUIRED declared row
  *    bound. The dense sequence is a single-partition window by
  *    construction, safe only on bounded dimension tables — the declared
  *    bound is enforced at runtime (an early-exit limit probe, not a full
  *    count) so pointing it at a fact table fails fast instead of
  *    producing a one-task stage; derive + hash natural keys for facts
  *  - merge (ADF Alter-Row parity, batch only): `table` = the change set,
  *    `on` = match keys, `how` = upsert (default: matching base rows are
  *    replaced by their update row, unmatched update rows are inserted),
  *    delete (matching base rows are removed), or scd2 (effective-dated
  *    history: the base carries valid_from/valid_to/is_current; `expr`
  *    names the change set's effective-date column; a change whose
  *    attributes differ from the key's CURRENT version closes it at the
  *    effective date and opens a new current version, identical changes
  *    are no-ops, unseen keys insert as new current rows, and historical
  *    rows pass through — the change set must carry exactly the base's
  *    non-SCD columns plus the effective-date column). Plain join + union
  *    algebra — no storage-layer transaction log is assumed.
  *  - tokenize (§2.J1/J2): `cols` = [the text column], `name` = output
  *    token-array column (default "toks"), `values` = optional stopwords
  *    removed after splitting (duplicate non-stopwords survive)
  *  - tfidf (§2.J5, batch only): `cols` = [idCol, tokensCol]; RESHAPES
  *    the frame to (id, term, tf, score) — idf needs the whole corpus,
  *    so this op cannot run on a stream
  *  - minhash_dedup (§2.K6+K12, batch only): `cols` = [idCol, tokensCol]
  *    (id must be unique + orderable), `threshold` = exact-Jaccard verify
  *    bar in (0, 1] (default 1.0 = identical token sets), `bucket_cap` =
  *    LSH bucket occupancy ceiling (default 4096). Default keeps ONLY
  *    near-dup cluster survivors (min id per connected component), full
  *    row schema preserved; with `name` it instead TAGS every row with
  *    its cluster id under that column (inspect/re-weight near-dup
  *    groups rather than dropping them). The scale path end-to-end:
  *    banded candidates → verify over candidates only → O(diameter)
  *    label propagation — no all-pairs stage at any size.
  *    `state_path` (optional) makes the dedup CROSS-RUN incremental:
  *    the parquet at that path holds the already-published corpus's
  *    survivor rows (doc_id, ts, lbl); the batch clusters against that
  *    state, rows near-duplicating published data are killed (or, with
  *    `name`, tagged with the EXISTING cluster's label), and after the
  *    pipeline's sinks commit the new survivors append to the state —
  *    the ep9 high-water-mark pattern applied to cluster state. Ids
  *    must be unique across ALL runs sharing one state_path. Recall
  *    across runs is against published survivors (exact at threshold
  *    1.0 — set-equality is transitive; at lower thresholds a doc
  *    similar only to a KILLED near-dup of a survivor can slip through,
  *    the standard incremental-dedup recall budget)
  *  - semdedup (§2.K11, batch only): SemDeDup-style embedding-semantic
  *    dedup — the fourth dedup family beside minhash_dedup's token-set
  *    one. `cols` = [idCol, embeddingCol] (id unique + orderable +
  *    non-null; the embedding cast to ARRAY<DOUBLE>), `threshold` = min
  *    cosine in (-1, 1] to count as a near-dup (required — no universal
  *    default exists across embedding spaces), `k` = centroid count
  *    (default 16; centroids are the k smallest ids; scale dial ∝ corpus
  *    size). Verification runs WITHIN coarse-quantized cells only — the
  *    published algorithm's semantics, which bounds pair volume to
  *    Σ|cell|². Default keeps only cluster survivors (min id); with
  *    `name` it TAGS every row with its cluster id instead.
  *    `state_path` (optional) makes it CROSS-RUN incremental, the same
  *    contract as minhash_dedup's: the parquet there holds published
  *    survivors (vec_id, e, lbl); a batch clusters against them,
  *    near-dups of published vectors are killed (or tagged with the
  *    published label), and this batch's survivors append only AFTER
  *    the run's sinks commit (retry-idempotent via anti-join on ids;
  *    ids must be unique across all runs sharing one state_path).
  *  - span_dedup (Lee et al. 2022, batch only): exact-substring SPAN
  *    removal — every duplicated span of ≥ `min_len` tokens (default 50,
  *    the published bar) loses all but its first occurrence, matched via
  *    `k`-token windows (default 8, `min_len ≥ k` enforced). `cols` =
  *    [idCol, textCol] (id unique, non-null); adds n_tokens /
  *    kept_tokens / `name` (default text_dedup), all other columns ride
  *    through. Unlike the row-killing dedup gates this REWRITES text in
  *    place — doc count is preserved, duplicated passages vanish.
  *  - ann_topk (§2.K4, batch only): `cols` = [idCol, vectorCol], `where`
  *    = predicate selecting EXACTLY ONE query row (enforced; the query
  *    row is excluded from results), `k` = result size (default 10).
  *    RESHAPES to (id, cos_sim), top-k by (score DESC, id) — plans as
  *    TakeOrderedAndProject over a broadcast query vector, no global
  *    sort, no shuffle of the scored side
  *  - sample (§2.E10/E10b): seeded Bernoulli sampling, map-side only.
  *    Global: `fraction` + `seed` (REQUIRED — an unseeded sample is not
  *    reproducible, never acceptable in a declared pipeline). Stratified
  *    (class rebalancing): `cols` = [stratumCol] + `values` =
  *    ["stratum:fraction", ...] with `fraction` as the default for
  *    unlisted strata (sampleBy semantics)
  *  - mix (batch only): declared-mixture rebalancing — the
  *    LLM-pretraining domain-reweighting step. `cols` = [domainCol],
  *    `values` = ["domain:weight", ...] (weights normalized to shares),
  *    `seed` REQUIRED. Each declared domain is seeded-sampled so the
  *    output approximates the target proportions while keeping as much
  *    data as possible: the binding domain keeps everything (fraction
  *    1.0), the rest downsample to match; undeclared-domain rows drop.
  *    One aggregate-only count job + a map-only sampleBy — the data
  *    never shuffles.
  *  - redact (§2.J14): PII scrubbing — each `values` entry is
  *    "LABEL:regex" and every regex match in the text column is replaced
  *    by "[LABEL]", in declared order. `cols` = [textCol], `name` =
  *    optional output column (default: redact in place). Map-only
  *    regexp_replace chain — streams fine, zero shuffle.
  *  - quality_filter (§2.J13): repetition-based quality gate over an
  *    existing token-array column. `cols` = [tokensCol], `threshold` =
  *    max duplicate-word fraction in [0, 1] (default 0.3, the published
  *    repetition-rules bar). Default KEEPS only rows at or under the
  *    bar (empty/zero-token rows drop — no signal, no keep); with
  *    `name` it instead TAGS every row with its 6-dp duplicate-word
  *    fraction. Pure per-row array math — map-only, streams fine.
  *  - decontaminate (§2.J12, batch only): drop (or with `name`: flag)
  *    corpus rows sharing any verbatim n-gram with a benchmark set.
  *    `cols` = [idCol, tokensCol] (id unique, non-null), `table` = the
  *    benchmark source, `where` = optional benchmark-side filter, `to` =
  *    the benchmark's TEXT column (default "text" — tokenized the same
  *    way `tokenize` does), `k` = shingle size (default 5). The benchmark shingle set is broadcast (eval
  *    suites are MBs); the corpus side is a map-only shingle explode +
  *    broadcast semi-join + distinct ids + left anti — no shuffle of
  *    the corpus beyond the contaminated-id set. Batch-only: the
  *    contaminated-id set aggregates over the corpus side.
  *  - pack (§2.J11, batch only): greedy sequence packing — the
  *    LLM-pretraining "pack documents to context length" step. `cols` =
  *    [shardCol, orderCol] (packing runs PER SHARD: a window partitioned
  *    by the shard key, never a global sort — 1000 executors pack 1000
  *    shards independently), `expr` = the per-row token count, `k` = the
  *    token budget per pack (default 4096), `name` = output pack-id
  *    column (default "pack_id"; = shard × 1e6 + local bin, a globally
  *    unique id as long as shards stay under 1e6 bins)
  */
final case class TransformSpec(
    op: String,                   // select | rename | drop | derive | filter | cast | join | limit | sort | shuffle | aggregate | union | dedup | asof_join | flatten | pivot | unpivot | surrogate_key
    cols: Seq[String],
    name: Option[String],
    expr: Option[String],
    to: Option[String],
    table: Option[SourceSpec],
    on: Seq[String],
    how: Option[String],
    broadcast: Boolean,
    aggs: Seq[String],
    orderBy: Seq[String],
    where: Option[String],
    values: Seq[String],
    maxRows: Option[Long],
    threshold: Option[Double],
    bucketCap: Option[Int],
    k: Option[Int],
    minLen: Option[Int],
    fraction: Option[Double],
    seed: Option[Long],
    statePath: Option[String])

/** `buckets`+`bucketBy` (+optional `sortBy`) write a bucketed table —
  * requires `table` (bucket metadata lives in the catalog; Spark cannot
  * bucket a bare path write). The 100-TB play: pay the shuffle once at
  * write time, then every later equi-join on the bucket key is
  * exchange-free (see a7b).
  *
  * `evolve` (write-side schema evolution, parquet only — the sink-side
  * mirror of the source `drift` policy, for when the PIPELINE's output
  * schema changes against an existing target):
  *  - fail: any column-level difference vs the existing target's schema
  *    aborts before writing, with the exact drift (the conservative
  *    default posture for a shared published dataset);
  *  - add_nulls: the output conforms to the UNION by name — columns the
  *    target has but the new output lacks are appended as typed nulls
  *    (old readers keep every column they know), genuinely new columns
  *    are kept. Type conflicts always fail under both policies;
  *    nullability (a `split()` array's containsNull, say) is not a type
  *    change. With mode=overwrite the
  *    rewritten target carries the union schema outright; with append
  *    the new files do, and readers merge (source drift:allow handles
  *    exactly that shape). */
/** `clusterBy`: range-repartition + sort-within-partitions on the given
  * columns before writing — every output file then covers a narrow,
  * non-overlapping value range, so parquet min/max statistics prune
  * row groups on later reads (the data-layout half of pruning;
  * `partitionBy` is the directory half). The shuffle is paid once at
  * write time; at 100 TB this is what makes time-range scans of a fact
  * table read 1% of files instead of all of them.
  *
  * `clusterBy: ["zorder(x, y[, bits])"]` (sole entry) lays out by the
  * Morton code of the two NUMERIC columns instead: a lexicographic
  * (x, y) sort gives each file a tight x-range but full-width y — only
  * x-filters prune; the z-order layout bounds BOTH per file (each file
  * covers a small square of the quantized grid), so min/max stats prune
  * on EITHER dimension (graft.ext.ZOrder). Quantization is linear
  * min→max into 2^bits cells (default 12 bits), the bounds found by one
  * column-pruned aggregate at write time. */
final case class SinkSpec(
    format: String,               // parquet | orc | csv | json | xml
    path: String,
    mode: String,                 // overwrite | append | errorifexists
    partitionBy: Seq[String],
    options: Map[String, String],
    buckets: Option[Int],
    bucketBy: Seq[String],
    sortBy: Seq[String],
    table: Option[String],
    evolve: Option[String],       // add_nulls | fail (parquet only)
    clusterBy: Seq[String],       // range-layout columns (path sinks)
    files: Option[Int])           // compaction: exact output file count

/** Persisted high-water-mark IO (one tiny JSON object per incremental
  * source). On a cluster `statePath` lives on the shared FS; the write is
  * atomic-enough via temp-file + move (a torn state file would silently
  * re-ingest or skip data). */
object IncrementalState {
  import java.nio.file.{Files, Paths, StandardCopyOption}
  private val json = new ObjectMapper()

  /** (hwm value as string, Spark DDL type), or None before the first run. */
  def read(statePath: String): Option[(String, String)] = {
    val p = Paths.get(statePath)
    if (!Files.exists(p)) None
    else {
      val n = json.readTree(Files.readString(p))
      Some((n.get("hwm").asText(), n.get("type").asText()))
    }
  }

  def write(statePath: String, hwm: String, ddlType: String): Unit = {
    val p = Paths.get(statePath)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val node = json.createObjectNode()
    node.put("hwm", hwm)
    node.put("type", ddlType)
    val tmp = Files.createTempFile(
      Option(p.getParent).getOrElse(Paths.get(".")), ".hwm", ".tmp")
    Files.writeString(tmp, json.writeValueAsString(node))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

object PipelineSpec {
  private val mapper = new ObjectMapper(new YAMLFactory())

  /** `clusterBy: ["zorder(a, b[, c[, d]][, bits])"]` (2–4 dimensions) —
    * parse-validated here, then re-extracted by the write path
    * (PipelineRunner) with the same pattern. Groups: (colsCsv, bits?) —
    * columns are identifiers, bits is pure digits, so the trailing
    * number is never ambiguous. */
  val ZOrderClusterKey: scala.util.matching.Regex =
    ("""(?i)^\s*zorder\s*\(\s*([A-Za-z_][A-Za-z0-9_]*""" +
      """(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*){1,3})\s*""" +
      """(?:,\s*(\d+)\s*)?\)\s*$""").r

  /** Split a ZOrderClusterKey cols group into trimmed column names. */
  def zorderCols(colsCsv: String): Seq[String] =
    colsCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def parse(yaml: String): PipelineSpec = {
    val root = mapper.readTree(yaml)
    fields(root, "pipeline", Set("name", "mode", "output_mode", "source",
      "checks", "transforms", "sink", "quarantine", "metrics_sink", "assertions",
      "branches", "mv", "maintenance", "streaming"))
    val mode = optStr(root, "mode").getOrElse("batch")
    require(Set("batch", "streaming", "mv_refresh", "maintenance")(mode),
      s"pipeline.mode: unknown '$mode'")
    val maintSpec = opt(root, "maintenance").map { n =>
      fields(n, "maintenance", Set("op", "path", "where", "set",
        "to_version", "target_files", "zorder_by", "zorder_bits",
        "constraint_name", "check", "retention_hours", "partition",
        "column", "dead_row_fraction"))
      val op = reqStr(n, "op", "maintenance")
      require(Set("delete_where", "update_where", "restore", "optimize",
        "vacuum", "add_constraint", "drop_constraint",
        "verify_constraints", "drop_partition", "set_property",
        "rename_column", "drop_column", "auto_compact")(op),
        s"maintenance.op: unknown '$op' (delete_where|" +
        "update_where|restore|optimize|vacuum|add_constraint|" +
        "drop_constraint|verify_constraints|drop_partition|set_property|" +
        "rename_column|drop_column|auto_compact)")
      def intOpt(f: String): Option[Int] = optStr(n, f).map(s =>
        s.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"maintenance.$f: integer expected, got '$s'")))
      val m = MaintenanceSpec(op, reqStr(n, "path", "maintenance"),
        optStr(n, "where"), strMap(n, "set"),
        optStr(n, "to_version").map(s => s.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"maintenance.to_version: integer expected, got '$s'"))),
        intOpt("target_files"), strArr(n, "zorder_by"), intOpt("zorder_bits"),
        optStr(n, "constraint_name"), optStr(n, "check"),
        optStr(n, "retention_hours").map(s => s.toDoubleOption
          .filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
            s"maintenance.retention_hours: number >= 0 expected, got '$s'"))),
        strMap(n, "partition"), optStr(n, "column"),
        optStr(n, "dead_row_fraction").map(s => s.toDoubleOption
          .filter(v => v > 0 && v <= 1).getOrElse(
            throw new IllegalArgumentException(
              s"maintenance.dead_row_fraction: number in (0, 1] " +
                s"expected, got '$s'"))))
      // one-op contract: required knobs present, every foreign knob
      // rejected — a key that doesn't apply must FAIL, not no-op
      def need(cond: Boolean, msg: String): Unit =
        require(cond, s"maintenance($op): $msg")
      if (!Set("add_constraint", "drop_constraint")(op))
        need(m.constraintName.isEmpty && m.check.isEmpty,
          "constraint_name/check belong to add_constraint/drop_constraint")
      if (op != "vacuum")
        need(m.retentionHours.isEmpty, "retention_hours belongs to vacuum")
      if (op != "drop_partition")
        need(m.partition.isEmpty, "partition belongs to drop_partition")
      if (op != "drop_column")
        need(m.column.isEmpty, "column belongs to drop_column")
      if (op != "auto_compact")
        need(m.deadRowFraction.isEmpty,
          "dead_row_fraction belongs to auto_compact")
      op match {
        case "auto_compact" => // policy compaction: cheap log-metadata
          // check every run, real rewrite only when small-file sprawl
          // or dead-row fraction (merge-on-read vectors) accumulated
          need(m.where.isEmpty && m.set.isEmpty && m.toVersion.isEmpty &&
            m.targetFiles.isEmpty && m.zorderBy.isEmpty &&
            m.zorderBits.isEmpty,
            "takes `dead_row_fraction` only (defaults: 32 MB small-file " +
              "bar, 8 small files, 256 MB target, 0.2 dead fraction)")
        case "rename_column" => // schema evolution as pure metadata:
          // set: {old_name: new_name}, exactly one pair
          need(m.set.size == 1,
            "needs `set` with exactly one {old_name: new_name} pair")
          need(m.where.isEmpty && m.toVersion.isEmpty &&
            m.targetFiles.isEmpty && m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            "takes `set: {old: new}` only")
        case "drop_column" =>
          need(m.column.exists(_.trim.nonEmpty), "needs `column`")
          need(m.where.isEmpty && m.set.isEmpty && m.toVersion.isEmpty &&
            m.targetFiles.isEmpty && m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            "takes `column` only")
        case "add_constraint" =>
          need(m.constraintName.exists(_.trim.nonEmpty) &&
            m.check.exists(_.trim.nonEmpty),
            "needs `constraint_name` + `check` (SQL predicate)")
          need(m.where.isEmpty && m.set.isEmpty && m.toVersion.isEmpty &&
            m.targetFiles.isEmpty && m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            "takes constraint_name + check only")
        case "drop_constraint" =>
          need(m.constraintName.exists(_.trim.nonEmpty),
            "needs `constraint_name`")
          need(m.check.isEmpty && m.where.isEmpty && m.set.isEmpty &&
            m.toVersion.isEmpty && m.targetFiles.isEmpty &&
            m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            "takes constraint_name only")
        case "delete_where" | "update_where" =>
          need(m.where.exists(_.trim.nonEmpty), "needs `where` (SQL predicate)")
          need(m.toVersion.isEmpty && m.targetFiles.isEmpty &&
            m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            "takes `where`" + (if (op == "update_where") " + `set`" else "") +
              " only")
          if (op == "update_where")
            need(m.set.nonEmpty, "needs `set` ({column: SQL expr})")
          else need(m.set.isEmpty, "takes no `set` — that is update_where")
        case "restore" =>
          need(m.toVersion.isDefined, "needs `to_version`")
          need(m.where.isEmpty && m.set.isEmpty && m.targetFiles.isEmpty &&
            m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            "takes `to_version` only")
        case "optimize" =>
          need(m.targetFiles.exists(_ > 0), "needs `target_files` > 0")
          need(m.zorderBy.isEmpty ||
            (m.zorderBy.length >= 2 && m.zorderBy.length <= 4),
            "`zorder_by` takes 2-4 columns")
          need(m.where.isEmpty && m.set.isEmpty && m.toVersion.isEmpty,
            "takes target_files/zorder_by/zorder_bits only")
        case "set_property" =>
          need(m.set.nonEmpty,
            "needs `set` ({key: value, ...} — e.g. {changeDataFeed: \"true\"})")
          need(m.where.isEmpty && m.toVersion.isEmpty &&
            m.targetFiles.isEmpty && m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            "takes `set` only")
        case "drop_partition" =>
          need(m.partition.nonEmpty,
            "needs `partition` ({column: value, ...})")
          need(m.where.isEmpty && m.set.isEmpty && m.toVersion.isEmpty &&
            m.targetFiles.isEmpty && m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            "takes `partition` only — it is a metadata-only remove of the " +
              "named partition's files")
        case "vacuum" | "verify_constraints" =>
          need(m.where.isEmpty && m.set.isEmpty && m.toVersion.isEmpty &&
            m.targetFiles.isEmpty && m.zorderBy.isEmpty && m.zorderBits.isEmpty,
            (if (op == "vacuum")
              "takes `retention_hours` only — it reclaims unreferenced " +
                "files older than the window (default 168h; 0 disables " +
                "the in-flight-writer guard — offline use only)"
            else "takes no knobs — it audits every constraint over the " +
              "whole table"))
      }
      m
    }
    require((mode == "maintenance") == maintSpec.isDefined,
      "mode: maintenance and the `maintenance` block go together (the " +
        "block without the mode, or the mode without the block, is a typo)")
    if (mode == "maintenance")
      Seq("source", "checks", "transforms", "sink", "quarantine",
        "metrics_sink", "branches", "assertions", "output_mode", "mv")
        .foreach { k =>
          require(!root.has(k), s"mode: maintenance takes no `$k` — the " +
            "maintenance block names its target table and op; reshape data " +
            "in a batch pipeline")
        }
    val src =
      if (mode == "maintenance") // the op acts on (and the result reads
        // back) the named table — the source is implied, not declared
        SourceSpec("graft_table", Some(maintSpec.get.path), None, None,
          Map.empty, None, None)
      else source(req(root, "source", "pipeline"), "source")
    require(src.format != "kafka" || mode == "streaming",
      "source.format kafka requires `mode: streaming` (batch kafka scans " +
        "re-read the topic from scratch; declare offsets explicitly if you " +
        "truly want that, via a streaming run with startingOffsets)")
    val mvSpec = opt(root, "mv").map { n =>
      fields(n, "mv", Set("path", "keys", "aggs"))
      val aggRe = """(?i)^\s*(count|sum|min|max|approx_distinct)\s*\((.*)\)\s+AS\s+(\w+)\s*$""".r
      val aggs = strArr(n, "aggs").zipWithIndex.map {
        case (s, i) => s match {
          case aggRe(fn, e, out) => (fn.toLowerCase, e.trim, out)
          case other => throw new IllegalArgumentException(
            s"mv.aggs[$i]: '$other' — expected `fn(expr) AS name` with fn " +
              "in count|sum|min|max|approx_distinct")
        }
      }
      require(aggs.nonEmpty, "mv.aggs: at least one aggregate")
      MvSpec(reqStr(n, "path", "mv"), strArr(n, "keys"), aggs)
    }
    if (mode == "streaming" && src.format == "graft_table") {
      // the streaming table source admits ONLY its own knobs — a batch
      // selector (versionAsOf/changesFrom/rangeCol) here must fail, not
      // silently drive a different read
      val ok = Set("startingversion", "startingtimestamp",
        "skipchangecommits", "maxversionspertrigger", "withimages")
      src.options.keys.find(k => !ok(k.toLowerCase)).foreach(k =>
        throw new IllegalArgumentException(
          s"source.options.$k: a STREAMING graft_table source takes " +
            "startingVersion ('0'|'latest'|N), startingTimestamp, " +
            "skipChangeCommits, " +
            "maxVersionsPerTrigger, and withImages (the continuous " +
            "change feed) only — version selection lives in the query " +
            "checkpoint"))
    }
    if (mode != "streaming" && src.format == "graft_table" &&
      !(mode == "mv_refresh" && optStr(root, "streaming").contains("true")))
      require(!src.options.keys.exists(_.equalsIgnoreCase("withImages")) ||
        src.options.contains("changesFrom"),
        "source: withImages qualifies the change feed — a batch read " +
          "needs changesFrom (streaming mode streams the feed " +
          "continuously; a streaming mv_refresh consumes it directly)")
    require((mode == "mv_refresh") == mvSpec.isDefined,
      "mode: mv_refresh and the `mv` block go together (an MV declaration " +
        "without the mode, or the mode without a declaration, is a typo)")
    val mvStreaming = optStr(root, "streaming").exists { v =>
      require(Set("true", "false")(v),
        s"pipeline.streaming: true|false, got '$v'")
      v == "true"
    }
    require(!root.has("streaming") || mode == "mv_refresh",
      "pipeline.streaming: only `mode: mv_refresh` takes the flag " +
        "(CONTINUOUS view maintenance off the streaming table source); " +
        "a data pipeline streams via `mode: streaming`")
    if (mode == "mv_refresh") {
      require(src.format == "graft_table",
        "mode: mv_refresh maintains the view from a graft_table source's " +
          "change feed — other sources have no version cursor")
      if (mvStreaming) {
        // continuous maintenance rides the streaming table source, whose
        // pacing knobs apply; batch selectors still don't (the MV txn is
        // the cursor). withImages: true switches to DIRECT retraction
        // consumption — one stream of classified change rows, no
        // per-version refresh calls (sum/count views only).
        val ok = Set("skipchangecommits", "maxversionspertrigger",
          "withimages")
        src.options.keys.find(k => !ok(k.toLowerCase)).foreach(k =>
          throw new IllegalArgumentException(
            s"source.options.$k: a STREAMING mv_refresh takes " +
              "skipChangeCommits, maxVersionsPerTrigger, and withImages " +
              "only — the view's txn cursor owns version selection"))
        // case-insensitive like the ok-set above (the stream source reads
        // options through CaseInsensitiveStringMap, so `withimages:` is
        // honored downstream — the guard must see it the same way)
        def optCi(k: String): Option[String] =
          src.options.collectFirst { case (n, v) if n.equalsIgnoreCase(k) => v }
        require(!(optCi("withImages").exists(_.equalsIgnoreCase("true")) &&
          optCi("skipChangeCommits").exists(_.equalsIgnoreCase("true"))),
          "source: withImages consumes change commits — skipChangeCommits " +
            "would drop exactly the retractions it exists to apply")
      } else require(src.options.isEmpty,
        "mode: mv_refresh drives its own version cursor — time " +
          "travel/feed/range options on the source do not apply")
      Seq("checks", "transforms", "sink", "quarantine", "metrics_sink",
        "branches", "assertions", "output_mode").foreach { k =>
        require(!root.has(k),
          s"mode: mv_refresh takes no `$k` — the view IS the declared " +
            "keys × aggs; reshape the base table in its own pipeline")
      }
      require(mvSpec.get.keys.nonEmpty, "mv.keys: at least one group key")
    }
    PipelineSpec(
      name = reqStr(root, "name", "pipeline"),
      mode = mode,
      outputMode = optStr(root, "output_mode"),
      source = src,
      checks = arr(root, "checks").zipWithIndex.map { case (n, i) => check(n, s"checks[$i]") },
      transforms = arr(root, "transforms").zipWithIndex.map { case (n, i) => transform(n, s"transforms[$i]") },
      sink = opt(root, "sink").map(sink(_, "sink")),
      quarantine = opt(root, "quarantine").map(sink(_, "quarantine")),
      metricsSink = opt(root, "metrics_sink").map(sink(_, "metrics_sink")),
      assertions = strArr(root, "assertions"),
      mv = mvSpec,
      maintenance = maintSpec,
      mvStreaming = mvStreaming,
      branches = {
        val bs = arr(root, "branches").zipWithIndex.map { case (n, i) =>
          val at = s"branches[$i]"
          fields(n, at, Set("name", "transforms", "sink"))
          BranchSpec(
            name = reqStr(n, "name", at),
            transforms = arr(n, "transforms").zipWithIndex.map { case (t, j) =>
              transform(t, s"$at.transforms[$j]") },
            sink = sink(req(n, "sink", at), s"$at.sink"))
        }
        val dup = bs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
        require(dup.isEmpty, s"branches: duplicate name(s) [${dup.mkString(", ")}]")
        bs
      })
  }

  /** A typo'd config key must FAIL, not silently no-op (the classic
    * config-platform footgun: `fractoin: 0.1` sampling nothing). Every
    * node type enumerates its vocabulary. */
  private def fields(n: JsonNode, at: String, allowed: Set[String]): Unit = {
    val bad = n.fieldNames().asScala.toSeq.filterNot(allowed)
    require(bad.isEmpty, s"$at: unknown field(s) [${bad.mkString(", ")}] — " +
      s"allowed: ${allowed.toSeq.sorted.mkString(", ")}")
  }

  private def source(n: JsonNode, at: String): SourceSpec = {
    fields(n, at, Set("format", "path", "table", "schema", "options",
      "incremental", "drift"))
    val fmt = reqStr(n, "format", at)
    require(
      Set("parquet", "orc", "csv", "json", "xml", "jdbc", "kafka",
        "binaryfile", "graft_table")(fmt),
      s"$at.format: unknown '$fmt'")
    val s = SourceSpec(fmt,
      path = optStr(n, "path"), table = optStr(n, "table"),
      schema = optStr(n, "schema"), options = strMap(n, "options"),
      incremental = opt(n, "incremental").map { inc =>
        fields(inc, s"$at.incremental", Set("watermark_col", "state_path"))
        IncrementalSpec(
          reqStr(inc, "watermark_col", s"$at.incremental"),
          reqStr(inc, "state_path", s"$at.incremental"))
      },
      drift = optStr(n, "drift"))
    if (fmt == "kafka") {
      // message-bus source contract (§2.A9 extension): the broker and
      // subscription are addressed via options passed through verbatim to
      // Spark's kafka connector; the record schema is FIXED by the
      // connector (key/value binary + topic/partition/offset/timestamp),
      // so a declared schema would be silently ignored — reject it.
      require(s.options.contains("kafka.bootstrap.servers"),
        s"$at: kafka source needs options.kafka.bootstrap.servers")
      val subs = Seq("subscribe", "subscribePattern", "assign")
        .filter(s.options.contains)
      require(subs.size == 1,
        s"$at: kafka source needs exactly one of subscribe | " +
          s"subscribePattern | assign in options; got [${subs.mkString(", ")}]")
      require(s.schema.isEmpty,
        s"$at: kafka's record schema is fixed by the connector (key/value " +
          "binary + topic/partition/offset/timestamp) — parse the value " +
          "with `derive` transforms instead of declaring a schema")
      require(s.path.isEmpty && s.table.isEmpty,
        s"$at: kafka sources are addressed via options, not path/table")
      require(s.drift.isEmpty && s.incremental.isEmpty,
        s"$at: drift/incremental do not apply to a kafka source (the " +
          "checkpoint tracks offsets)")
    }
    if (fmt == "graft_table") {
      // ACID commit-log table (graft.tables.GraftTable): addressed by
      // root path; schema comes from the table's own log, so a declared
      // schema / drift policy would be silently ignored — reject both.
      // options.versionAsOf = "<n>" time-travels to version n.
      require(s.path.isDefined ^ s.table.isDefined,
        s"$at: graft_table sources are addressed by `path` (the table " +
          "root) XOR `table` (a graft-catalog name like db.tbl, resolved " +
          "against spark.sql.catalog.graft.warehouse)")
      s.table.foreach(t => require(
        t.split("\\.", -1).forall(q => q.trim.nonEmpty &&
          !q.contains('/') && !q.contains('\\') &&
          q.trim != ".." && q.trim != "."),
        s"$at.table: malformed catalog table name '$t'"))
      require(s.schema.isEmpty,
        s"$at: a graft_table's schema is owned by its commit log — " +
          "conform downstream with cast/select instead of declaring one")
      require(s.drift.isEmpty,
        s"$at: drift does not apply to a graft_table source (the log " +
          "pins each version's schema)")
      s.options.get("versionAsOf").foreach(v => require(
        scala.util.Try(v.toLong).isSuccess,
        s"$at.options.versionAsOf: must be a version number, got '$v'"))
      // change feed: changesFrom (exclusive) [+ changesTo] — incremental
      // rows-added read; mutually exclusive with time travel (one is a
      // snapshot, the other a delta between snapshots)
      Seq("changesFrom", "changesTo").foreach(k =>
        s.options.get(k).foreach(v => require(
          scala.util.Try(v.toLong).isSuccess,
          s"$at.options.$k: must be a version number, got '$v'")))
      require(s.options.get("changesTo").isEmpty ||
        s.options.get("changesFrom").isDefined,
        s"$at: changesTo needs changesFrom (the feed is a version range)")
      // withImages: the FULL change feed (_change_type-classified
      // pre/post images from the cdf/ sidecars + appends as inserts).
      // In batch it qualifies a changesFrom range (enforced at the
      // pipeline level, where the mode is known); in streaming it turns
      // the table source into the continuous CDF.
      // key AND value case-insensitive: downstream reads this through
      // CaseInsensitiveStringMap.getBoolean, which accepts "True"
      s.options.collect { case (k, v)
          if k.equalsIgnoreCase("withImages") => v }.foreach { v =>
        require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
          s"$at.options.withImages: true|false, got '$v'")
      }
      require(!(s.options.contains("versionAsOf") &&
        s.options.contains("changesFrom")),
        s"$at: versionAsOf (snapshot) and changesFrom (change feed) are " +
          "mutually exclusive")
      // timestampAsOf: timestamp time travel — "yyyy-MM-dd[ HH:mm:ss]"
      // (UTC, like every timestamp literal here) or epoch millis; resolves
      // to the newest commit at or before it. One snapshot selector at a
      // time, and never on the change feed.
      require(!(s.options.contains("timestampAsOf") &&
        (s.options.contains("versionAsOf") || s.options.contains("changesFrom"))),
        s"$at: timestampAsOf is mutually exclusive with versionAsOf and " +
          "changesFrom (one snapshot/delta selector per read)")
      // rangeCol/rangeLo/rangeHi: log-level file skipping on a snapshot
      // read — all three together, and never on a change feed (the feed
      // reads version deltas, not the pruned live set)
      val rangeKeys = Seq("rangeCol", "rangeLo", "rangeHi")
        .filter(s.options.contains)
      require(rangeKeys.isEmpty || rangeKeys.size == 3,
        s"$at: range pruning needs all of rangeCol, rangeLo, rangeHi — " +
          s"got [${rangeKeys.mkString(", ")}]")
      require(rangeKeys.isEmpty || !s.options.contains("changesFrom"),
        s"$at: rangeCol applies to snapshot reads, not the change feed")
    }
    if (fmt == "binaryfile") {
      // whole-blob ingest: the connector's record schema is fixed (path,
      // modificationTime, length, content) — same reject rationale as
      // kafka. Options (pathGlobFilter, recursiveFileLookup) pass through.
      require(s.schema.isEmpty,
        s"$at: binaryfile's record schema is fixed by the connector " +
          "(path, modificationTime, length, content) — filter with " +
          "options.pathGlobFilter and transform downstream instead")
      require(s.drift.isEmpty,
        s"$at: drift does not apply to a binaryfile source (fixed schema)")
    }
    if (fmt != "jdbc" && fmt != "kafka")
      require(s.path.isDefined || s.table.isDefined, s"$at: needs path or table")
    s.drift.foreach { d =>
      require(Set("allow", "strict")(d), s"$at.drift: unknown '$d' (allow | strict)")
      require(s.schema.isDefined, s"$at: a drift policy needs a declared `schema`")
      require(fmt == "parquet" || fmt == "orc",
        s"$at: drift applies to self-describing sources (parquet/orc) — " +
          "csv/json readers already enforce the declared schema at parse time")
    }
    s
  }

  private def check(n: JsonNode, at: String): CheckSpec = {
    fields(n, at, Set("type", "name", "col", "lo", "hi", "values",
      "pattern", "expr", "ref_table", "ref_col"))
    val t = reqStr(n, "type", at)
    require(Set("not_null", "range", "in_set", "regex", "str_len", "cross", "unique", "ref")(t),
      s"$at.type: unknown '$t'")
    CheckSpec(t,
      name = optStr(n, "name"), col = optStr(n, "col"),
      lo = optNum(n, "lo"), hi = optNum(n, "hi"),
      values = strArr(n, "values"), pattern = optStr(n, "pattern"),
      expr = optStr(n, "expr"),
      refTable = opt(n, "ref_table").map(source(_, s"$at.ref_table")),
      refCol = optStr(n, "ref_col"))
  }

  private def transform(n: JsonNode, at: String): TransformSpec = {
    fields(n, at, Set("op", "cols", "name", "expr", "to", "table", "on",
      "how", "broadcast", "aggs", "orderBy", "where", "values", "max_rows",
      "threshold", "bucket_cap", "k", "min_len", "fraction", "seed",
      "state_path"))
    val op = reqStr(n, "op", at)
    require(Set("select", "rename", "drop", "derive", "filter", "cast", "join",
      "limit", "sort", "shuffle", "aggregate", "union", "dedup", "asof_join",
      "flatten", "pivot", "unpivot", "surrogate_key", "merge", "diff",
      "tokenize", "tfidf", "minhash_dedup", "semdedup", "ann_topk",
      "sample", "mix", "pack", "quality_filter", "decontaminate", "redact",
      "bpe_train", "bpe_tokenize", "sessionize", "span_dedup")(op),
      s"$at.op: unknown '$op'")
    if (op == "span_dedup") {
      // §2-adjacent exact-substring dedup (Lee et al. 2022): remove every
      // duplicated span of >= min_len tokens, matched via k-token
      // windows. min_len DEFAULTS to the paper's 50-token bar; a lower
      // bar (j20's sf-scale 16) stays available but must be asked for.
      require(opt(n, "cols").exists(_.size() == 2),
        s"$at: span_dedup needs `cols: [idCol, textCol]`")
      opt(n, "k").map(_.asInt()).foreach(v => require(v >= 2,
        s"$at.k: span_dedup match window must be >= 2, got $v"))
      opt(n, "min_len").map(_.asInt()).foreach(v => require(v >= 2,
        s"$at.min_len: must be >= 2, got $v"))
    }
    TransformSpec(op,
      cols = strArr(n, "cols"), name = optStr(n, "name"),
      expr = optStr(n, "expr"), to = optStr(n, "to"),
      table = opt(n, "table").map(source(_, s"$at.table")),
      on = strArr(n, "on"), how = optStr(n, "how"),
      broadcast = opt(n, "broadcast").exists(_.asBoolean(false)),
      aggs = strArr(n, "aggs"), orderBy = strArr(n, "orderBy"),
      where = optStr(n, "where"), values = strArr(n, "values"),
      maxRows = opt(n, "max_rows").map(_.asLong()),
      threshold = optNum(n, "threshold"),
      bucketCap = opt(n, "bucket_cap").map(_.asInt()),
      k = opt(n, "k").map(_.asInt()),
      fraction = optNum(n, "fraction"),
      minLen = opt(n, "min_len").map(_.asInt()),
      seed = opt(n, "seed").map(_.asLong()),
      statePath = optStr(n, "state_path"))
  }

  private def sink(n: JsonNode, at: String): SinkSpec = {
    fields(n, at, Set("format", "path", "mode", "partitionBy", "options",
      "buckets", "bucketBy", "sortBy", "table", "evolve", "clusterBy",
      "files"))
    val fmt = reqStr(n, "format", at)
    require(Set("parquet", "orc", "csv", "json", "xml", "graft_table")(fmt),
      s"$at.format: unknown '$fmt'")
    val s = SinkSpec(fmt, optStr(n, "path").getOrElse(""),
      mode = optStr(n, "mode").getOrElse("overwrite"),
      partitionBy = strArr(n, "partitionBy"), options = strMap(n, "options"),
      buckets = opt(n, "buckets").map(_.asInt()),
      bucketBy = strArr(n, "bucketBy"), sortBy = strArr(n, "sortBy"),
      table = optStr(n, "table"),
      evolve = optStr(n, "evolve"),
      clusterBy = strArr(n, "clusterBy"),
      files = opt(n, "files").map(_.asInt()))
    // graft_table sinks address by path XOR catalog name; every other
    // format still requires a path (table there is the bucketed-sink
    // catalog entry, which RIDES a path)
    if (fmt == "graft_table") {
      require(s.path.nonEmpty ^ s.table.isDefined,
        s"$at: graft_table sinks are addressed by `path` (the table " +
          "root) XOR `table` (a graft-catalog name like db.tbl, resolved " +
          "against spark.sql.catalog.graft.warehouse)")
      s.table.foreach(t => require(
        t.split("\\.", -1).forall(q => q.trim.nonEmpty &&
          !q.contains('/') && !q.contains('\\') &&
          q.trim != ".." && q.trim != "."),
        s"$at.table: malformed catalog table name '$t'"))
    } else require(s.path.nonEmpty, s"$at.path: required")
    require(s.clusterBy.isEmpty || s.buckets.isEmpty,
      s"$at: clusterBy (range layout) and buckets (hash layout) are " +
        "mutually exclusive — pick the layout the dominant read pattern needs")
    // zorder(...) layout entry: a typo must fail AT PARSE, not as a
    // nonexistent-column error deep in the write job
    if (s.clusterBy.exists(_.matches("""(?i)\s*zorder\s*\(.*"""))) {
      require(s.clusterBy.size == 1,
        s"$at.clusterBy: zorder(...) must be the sole layout entry — its " +
          "Morton code already totally orders every dimension")
      val m = PipelineSpec.ZOrderClusterKey.findFirstMatchIn(s.clusterBy.head)
      require(m.isDefined,
        s"$at.clusterBy: malformed '${s.clusterBy.head.trim}' — expected " +
          "zorder(colA, colB[, colC[, colD]][, bits]) (2-4 columns)")
      val zc = PipelineSpec.zorderCols(m.get.group(1))
      require(zc.map(_.toLowerCase).distinct.size == zc.size,
        s"$at.clusterBy: zorder needs distinct columns, got " +
          zc.mkString(", "))
      Option(m.get.group(2)).map(_.toInt).foreach(b =>
        require(b >= 1 && b * zc.size <= 62,
          s"$at.clusterBy: zorder bits x dims must fit a positive BIGINT " +
            s"(bits*dims <= 62), got $b x ${zc.size}"))
    }
    s.files.foreach { f =>
      require(f > 0, s"$at.files: must be > 0, got $f")
      // compaction is a coalesce at write time; a bucketed table's file
      // count is its bucket count, and a range layout's file count is its
      // partition count — `files` would silently fight both layouts
      require(s.buckets.isEmpty && s.clusterBy.isEmpty,
        s"$at.files: compaction conflicts with buckets/clusterBy — those " +
          "layouts already fix the output file structure")
    }
    s.evolve.foreach { e =>
      require(Set("add_nulls", "fail")(e), s"$at.evolve: unknown '$e' " +
        "(add_nulls | fail)")
      require(fmt == "parquet" || fmt == "graft_table",
        s"$at.evolve: schema evolution needs a self-describing format " +
          "(parquet or graft_table)")
      if (fmt == "graft_table") {
        require(e == "add_nulls",
          s"$at.evolve: graft_table evolution is add_nulls (fail IS the " +
            "default — plain append already rejects schema drift)")
        require(s.mode == "append",
          s"$at.evolve: graft_table evolution applies to appends (an " +
            "overwrite replaces the schema outright; merge conforms to it)")
      }
      // a config key must FAIL, not silently no-op: the bucketed branch
      // writes through saveAsTable (schema owned by the catalog table)
      // and never applies evolution, so accepting both would drop the
      // policy on the floor
      require(s.buckets.isEmpty && s.bucketBy.isEmpty,
        s"$at.evolve: schema evolution applies to path sinks only — a " +
          "bucketed sink's schema is managed by its catalog table; drop " +
          "`evolve` or the bucket spec")
    }
    if (s.buckets.isDefined || s.bucketBy.nonEmpty) {
      require(s.buckets.exists(_ > 0) && s.bucketBy.nonEmpty,
        s"$at: bucketed sink needs both `buckets` (> 0) and `bucketBy` cols")
      require(s.table.isDefined,
        s"$at: bucketed sink needs `table` (bucket metadata lives in the catalog)")
      require(fmt == "parquet", s"$at: bucketed sink supports parquet only")
    }
    if (fmt == "graft_table") {
      // ACID commit-log sink: modes overwrite|append plus the table-level
      // merge|delete (options.on = comma-separated key cols). The format
      // owns its physical layout and schema, so every file-sink layout /
      // evolution knob is rejected rather than silently dropped.
      require(Set("overwrite", "append", "merge", "delete")(s.mode),
        s"$at.mode: graft_table supports overwrite|append|merge|delete, " +
          s"got '${s.mode}'")
      if (s.mode == "merge" || s.mode == "delete")
        require(s.options.get("on").exists(_.trim.nonEmpty),
          s"$at: graft_table mode=${s.mode} needs options.on (key columns)")
      // partitionBy IS a graft_table layout declaration — but only an
      // overwrite (re)declares the layout; appends/merges inherit the
      // table's own, so a partitionBy there would be dead config
      require(s.partitionBy.isEmpty || s.mode == "overwrite",
        s"$at: graft_table partitionBy declares the layout on overwrite " +
          s"only — mode=${s.mode} inherits the table's existing layout")
      require(s.buckets.isEmpty &&
        s.clusterBy.isEmpty && s.files.isEmpty,
        s"$at: graft_table owns its physical layout — buckets/" +
          "clusterBy/files do not apply (partitionBy on overwrite " +
          "and evolve: add_nulls on append are the policy knobs)")
    }
    s
  }

  // -- tree helpers ---------------------------------------------------------
  private def req(n: JsonNode, f: String, at: String): JsonNode = {
    val c = n.get(f)
    require(c != null && !c.isNull, s"$at.$f: required"); c
  }
  private def reqStr(n: JsonNode, f: String, at: String): String = req(n, f, at).asText()
  private def opt(n: JsonNode, f: String): Option[JsonNode] =
    Option(n.get(f)).filterNot(_.isNull)
  private def optStr(n: JsonNode, f: String): Option[String] = opt(n, f).map(_.asText())
  private def optNum(n: JsonNode, f: String): Option[Double] = opt(n, f).map(_.asDouble())
  private def arr(n: JsonNode, f: String): Seq[JsonNode] =
    opt(n, f).map(_.elements().asScala.toSeq).getOrElse(Nil)
  private def strArr(n: JsonNode, f: String): Seq[String] = arr(n, f).map(_.asText())
  private def strMap(n: JsonNode, f: String): Map[String, String] =
    opt(n, f).map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
}
