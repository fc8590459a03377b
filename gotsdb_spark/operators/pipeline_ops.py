"""Training-data curation operators over `documents`: deterministic
dataset splitting, mixture sampling, sequence packing, train/eval
decontamination, and output sharding.

These are the pipeline steps between "raw corpus" and "training set"
that a 100 TB data pipeline runs after dedup/quality scoring
(SURVEY.md §2.3 LLM-pipeline block). Design rules:

- Every sampling/splitting decision is a pure function of the row
  identity via md5 — no RNG, no seed state, so replays, retries and
  cross-engine oracles all agree, and a row's split assignment is
  stable under repartitioning, compaction, and incremental reruns.
- Splits/samples are embarrassingly parallel map work (no shuffle);
  packing shuffles once on the partition key; contamination is an
  equi-join on shingle hashes (the LSH candidate-join shape, never
  all-pairs).
- Token counts and char sums are integers — association-safe under
  any partitioning (see dedup.py determinism note).

Reference parity: the reference engine (j0shgrant/gotsdb,
internal/storage/engine.go) has no curation surface; these extend the
mandated LLM-pipeline block alongside dedup.py/similarity.py/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gotsdb_spark.functions import word_shingles
from gotsdb_spark.operators.registry import query
from gotsdb_spark.sources.registry import fan_out, load_table

# Greedy contiguous packing budget (whitespace tokens per bin).
PACK_BUDGET = 2000

# Per-source mixture weights, cycled by source index: a stand-in for a
# curated mixture config (e.g. upweight books, downsample crawl). The
# keep-fraction thresholds are expressed over the 16-bit space of the
# first 4 md5 hex digits so both engines compare integers, not floats.
_MIXTURE_RATES = [1.0, 0.75, 0.5, 0.25]
_MIXTURE_THRESHOLDS = [int(r * 65536) for r in _MIXTURE_RATES]


def _doc_bucket16(doc_id: Column) -> Column:
    """Deterministic bucket in [0, 65535] from the doc identity."""
    return F.conv(
        F.substring(F.md5(doc_id.cast("string")), 1, 4), 16, 10
    ).cast("long")


@query(
    "curate_hash_split",
    oracle="""
    WITH t AS (
      SELECT lang, n_chars,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
      FROM documents
    )
    SELECT CASE WHEN b < '1a' THEN 'test'
                WHEN b < '33' THEN 'val'
                ELSE 'train' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM t GROUP BY 1, 2
    """,
)
def curate_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by md5(doc_id) hex bucket.

    The industry-standard alternative to rand(): a row's split is a
    pure function of its id, so the split is reproducible across runs,
    engines, and incremental data loads (new rows never move old rows
    between splits). Bucket = first 2 md5 hex digits (256 buckets);
    '1a' = 26/256 ~ 10% test, '33' = 51/256 ~ next 10% val. Pure map +
    one small aggregation — no shuffle of document bodies at any scale.
    """
    docs = load_table(spark, "documents", sf_dir)
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(b < "1a", "test").when(b < "33", "val").otherwise("train")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "curate_mixture_sample",
    oracle=f"""
    WITH t AS (
      SELECT source, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  AS BIGINT) AS bucket,
             list_extract({_MIXTURE_THRESHOLDS},
                          (CAST(substr(source, 4) AS INT) % 4) + 1)
               AS threshold
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN bucket < threshold THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM t GROUP BY source
    """,
)
def curate_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture downsampling with deterministic hash gates.

    Each source gets a keep-fraction (cycled from _MIXTURE_RATES here;
    a curated config in practice). A doc survives iff its 16-bit md5
    bucket falls below the source's threshold — so the sample is exact
    in expectation, reproducible, and composable with the hash split
    above (independent digits of the same md5). Pure map over the
    corpus; the aggregation shuffles one counter row per source.
    """
    docs = load_table(spark, "documents", sf_dir)
    idx = F.substring("source", 4, 10).cast("int")
    threshold = F.element_at(
        F.array(*[F.lit(t) for t in _MIXTURE_THRESHOLDS]), (idx % 4) + 1
    )
    keep = _doc_bucket16(F.col("doc_id")) < threshold
    return (
        docs.select("source", "n_chars", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
    )


@query(
    "curate_pack_token_bins",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, n_tokens,
             CAST(floor(COALESCE(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
      FROM t
    )
    SELECT source, bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens
    FROM packed GROUP BY source, bin_id
    """,
)
def curate_pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: chunk each source's doc stream into contiguous
    token-budget bins (exclusive running token count div budget).

    The deterministic, shuffle-once packing policy: one window shuffle
    on (source) ordered by doc_id, integer token sums, then a map-side
    combinable aggregation per bin. At 100 TB the window state per task
    is a single running counter — no buffering of documents. (True
    first-fit bin packing is inherently sequential; contiguous chunking
    is the policy that parallelizes, which is why real pipelines use
    it.)
    """
    docs = load_table(spark, "documents", sf_dir)
    ntok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.select("source", "doc_id", ntok.alias("n_tokens"))
        .withColumn("bin_id", F.floor(cum_excl / float(PACK_BUDGET)))
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.max("n_tokens").alias("max_doc_tokens"),
        )
    )


@query(
    "curate_contamination",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval
      FROM documents
    ), shingles AS (
      SELECT DISTINCT doc_id, is_eval, sh FROM (
        SELECT doc_id, is_eval,
               unnest(list_transform(
                 generate_series(1, greatest(len(ws) - 2, 1)),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        FROM words
      ) raw
    )
    SELECT e.doc_id AS eval_doc,
           count(DISTINCT e.sh) AS n_shared_shingles,
           count(DISTINCT t.doc_id) AS n_train_docs
    FROM shingles e
    JOIN shingles t ON t.sh = e.sh AND NOT t.is_eval
    WHERE e.is_eval
    GROUP BY e.doc_id
    """,
)
def curate_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination check: which held-out docs share
    3-word shingles with the training corpus, and how widely.

    Eval set = docs whose first md5 hex digit is '0' (a deterministic
    1/16 holdout, consistent with the hash-split primitive). Candidate
    generation is an equi-join on the shingle string — the same
    sub-quadratic shape as LSH candidate pairing (dedup.py): shuffle
    carries (shingle, doc_id) pairs partitioned by shingle, so work is
    O(shared shingles), never O(train x eval). Docs with zero overlap
    produce no row (inner join) — the clean case costs nothing.
    """
    docs = fan_out(load_table(spark, "documents", sf_dir))
    sh = docs.select(
        "doc_id",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0").alias(
            "is_eval"
        ),
        F.explode(word_shingles(F.col("text"))).alias("sh"),
    )
    ev = sh.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc"), "sh"
    )
    tr = sh.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc"), "sh"
    )
    return (
        ev.join(tr, "sh")
        .groupBy("eval_doc")
        .agg(
            F.countDistinct("sh").alias("n_shared_shingles"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
    )


@query(
    "curate_shard_stats",
    oracle="""
    WITH t AS (
      SELECT n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  AS BIGINT) % 16 AS shard
      FROM documents
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM t GROUP BY shard
    """,
)
def curate_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output shard assignment by md5 bucket mod 16, with per-shard
    balance stats.

    The write-side twin of the split/sample gates: training-set writers
    shard by content hash so output file sizes stay balanced regardless
    of input order or skewed sources, and a rerun lands every doc in
    the same shard (idempotent re-export). The stats aggregation is the
    skew check a pipeline alerts on before materializing 100 TB.
    """
    docs = load_table(spark, "documents", sf_dir)
    shard = (_doc_bucket16(F.col("doc_id")) % 16).alias("shard")
    return (
        docs.select(shard, "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "curate_end_to_end",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text, lang, n_chars,
             0.4 * least(n_chars / 500.0, 1.0)
           + 0.4 * (len(list_distinct(string_split(text, ' '))) * 1.0
                    / len(string_split(text, ' ')))
           + 0.2 * least(len(string_split(text, ' ')) / 100.0, 1.0)
               AS quality
      FROM documents
    ), filtered AS (
      SELECT * FROM scored WHERE quality >= 0.5 AND lang = 'en'
    ), deduped AS (
      SELECT doc_id, n_chars, quality FROM (
        SELECT doc_id, n_chars, quality,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canon
        FROM filtered
      ) keyed WHERE doc_id = canon
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                  THEN 'test'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33'
                  THEN 'val'
                ELSE 'train' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           avg(quality) AS avg_quality
    FROM deduped GROUP BY 1
    """,
)
def curate_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline in one plan: quality filter →
    language filter → exact dedup (min-doc_id canonical) → hash split →
    per-split stats.

    Composition showpiece: every stage above exists as its own operator
    (text_quality_score, dedup_exact, curate_hash_split); Catalyst
    fuses the row-local stages into one codegen'd map over the scan,
    the dedup window is the pipeline's single wide dependency before
    the counter-row aggregation, and no stage materializes an
    intermediate dataset. This is the shape a 100 TB corpus refresh
    actually runs nightly.
    """
    docs = load_table(spark, "documents", sf_dir)
    ws = F.split("text", " ")
    n = F.size(ws).cast("double")
    ttr = F.size(F.array_distinct(ws)).cast("double") / n
    quality = (
        0.4 * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
        + 0.4 * ttr
        + 0.2 * F.least(n / 100.0, F.lit(1.0))
    )
    filtered = docs.withColumn("quality", quality).where(
        (F.col("quality") >= 0.5) & (F.col("lang") == "en")
    )
    canon = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    deduped = filtered.withColumn("canon", canon).where(
        F.col("doc_id") == F.col("canon")
    )
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(b < "1a", "test").when(b < "33", "val").otherwise("train")
    return (
        deduped.select(split.alias("split"), "n_chars", "quality")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.avg("quality").alias("avg_quality"),
        )
    )


# Context-window chunking parameters: 50-token chunks, 40-token stride
# (10-token overlap between consecutive chunks).
CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


@query(
    "curate_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), chunks AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(greatest(ceil((len(ws) - {CHUNK_TOKENS})
                                  / {CHUNK_STRIDE}.0), 0) AS BIGINT)))
               AS chunk_idx,
             len(ws) AS n_tokens
      FROM t
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(least(CAST({CHUNK_TOKENS} AS BIGINT),
                          n_tokens - chunk_idx * {CHUNK_STRIDE}))
                AS BIGINT) AS chunk_tokens_total
    FROM chunks GROUP BY doc_id
    """,
)
def curate_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 50-token chunks advancing by a
    40-token stride (10 overlap) — how long documents become
    context-window-sized training rows.

    Chunk boundaries are pure row-local arithmetic (chunk count =
    ceil((len - chunk)/stride) + 1, short tail kept), so chunking runs
    at scan speed with zero shuffle before the per-doc stats
    aggregation. The overlap bookkeeping (sum of per-chunk token
    counts, tail truncation) is integer math — exact in both engines.
    """
    docs = load_table(spark, "documents", sf_dir)
    ws = F.split("text", " ")
    n = F.size(ws).cast("long")
    n_chunks = (
        F.greatest(
            F.ceil((n - CHUNK_TOKENS) / float(CHUNK_STRIDE)), F.lit(0)
        )
        + 1
    )
    chunked = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("long"))).alias(
            "chunk_idx"
        ),
    )
    chunk_len = F.least(
        F.lit(CHUNK_TOKENS).cast("long"),
        F.col("n_tokens") - F.col("chunk_idx") * CHUNK_STRIDE,
    )
    return chunked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(chunk_len).alias("chunk_tokens_total"),
    )


@query(
    "tombstone_cascade_audit",
    oracle="""
    WITH tombstones AS (
      SELECT c_custkey AS k FROM customer
      WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'
    )
    SELECT 'customer' AS table_name,
           (SELECT count(*) FROM customer) AS n_rows,
           (SELECT count(*) FROM customer JOIN tombstones ON c_custkey = k)
             AS n_tombstoned
    UNION ALL
    SELECT 'orders',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders JOIN tombstones ON o_custkey = k)
    UNION ALL
    SELECT 'events',
           (SELECT count(*) FROM events),
           (SELECT count(*) FROM events JOIN tombstones ON user_id = k)
    """,
)
def tombstone_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-propagation audit: given a tombstone set of subject
    keys (here: a deterministic md5-bucket sample standing in for a
    GDPR erasure list), count the rows each downstream table must drop.

    The compliance pre-flight before a cascade delete: tombstones
    broadcast to every fact scan (they are always small relative to the
    data), each table reports its blast radius in one semi-join pass,
    and the actual deletion is then an anti-join rewrite per table.
    Hash-derived tombstones make the audit reproducible across engines
    and runs.
    """
    cust = load_table(spark, "customer", sf_dir)
    tomb = cust.where(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1) == "0"
    ).select(F.col("c_custkey").alias("k"))

    def audit(df: DataFrame, key: str, name: str) -> DataFrame:
        hit = df.join(
            tomb, df[key] == tomb["k"], "left_semi"
        )
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
        ).crossJoin(hit.agg(F.count("*").alias("n_tombstoned")))

    orders = load_table(spark, "orders", sf_dir)
    events = load_table(spark, "events", sf_dir)
    return (
        audit(cust, "c_custkey", "customer")
        .unionByName(audit(orders, "o_custkey", "orders"))
        .unionByName(audit(events, "user_id", "events"))
    )


@query(
    "sample_stratified_orders",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n_stratum
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(max(n_stratum) AS BIGINT) AS n_stratum,
           count(*) AS n_sampled,
           CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
    FROM ranked WHERE rn <= 100
    GROUP BY o_orderpriority
    """,
)
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k stratified sample: 100 orders per priority class, chosen
    by md5 order so the sample is reproducible across runs and engines.

    Hash-ordering inside each stratum is the deterministic substitute
    for ORDER BY random(): the same rows are picked no matter the
    partitioning, and an incremental re-run with appended data only
    swaps rows at the hash boundary. One shuffle on the stratum key;
    the rank never materializes more than k rows per stratum
    downstream. (For unbounded strata at 100 TB you'd pre-filter with
    an md5-threshold gate — see curate_mixture_sample — to avoid
    ranking the full stratum.)
    """
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    wc = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("price_cents"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_stratum"),
    )
    return (
        ranked.where(F.col("rn") <= 100)
        .groupBy("o_orderpriority")
        .agg(
            F.max("n_stratum").cast("long").alias("n_stratum"),
            F.count("*").alias("n_sampled"),
            F.sum("price_cents").cast("long").alias("sum_price_cents"),
        )
    )


_WPS_K = 20
_WPS_2_48 = 281474976710656.0  # 2^48


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey, o_totalprice,
             -ln((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT
                  + 0.5) / {_WPS_2_48}) / o_totalprice AS ekey
      FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           CAST(floor(ekey * 1e9 + 0.5001) AS BIGINT) AS key_e9
    FROM keyed
    ORDER BY ekey, o_orderkey
    LIMIT {_WPS_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via exponential races
    (Efraimidis–Spirakis A-ES): each order draws key = −ln(u)/w with
    u a deterministic md5 hash fraction and w = o_totalprice; the k
    smallest keys are a weighted sample without replacement.

    The shape a mixture-weighted training-data sampler needs when
    weights are per-ROW (importance, quality score), not per-source
    like curate_mixture_sample's Bernoulli gates: one map to draw
    keys, then TakeOrderedAndProject for the k smallest — no global
    sort, no second pass, and restartable because u is a pure hash,
    not an RNG state. Merging partial top-k lists is associative, so
    the same two-phase plan computes it on 1000 executors.
    """
    orders = load_table(spark, "orders", sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10)
        .cast("long")
        + 0.5
    ) / _WPS_2_48
    ekey = -F.log(u) / F.col("o_totalprice")
    return (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            ekey.alias("ekey"),
        )
        .orderBy("ekey", "o_orderkey")
        .limit(_WPS_K)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.floor(F.col("ekey") * 1e9 + 0.5001).cast("long").alias("key_e9"),
        )
    )


@query(
    "curate_dataset_card",
    oracle="""
    WITH lang_counts AS (
      SELECT source, lang, count(*) AS n_lang
      FROM documents GROUP BY source, lang
    ), top_lang AS (
      SELECT source, lang
      FROM (
        SELECT source, lang,
               row_number() OVER (
                 PARTITION BY source ORDER BY n_lang DESC, lang
               ) AS rn
        FROM lang_counts
      ) r WHERE rn = 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
           min(t.lang) AS top_lang,
           CAST(count(*) - count(DISTINCT md5(d.text)) AS BIGINT)
             AS n_exact_dups,
           CAST(sum(d.n_chars) * 100 // count(*) AS BIGINT) AS avg_chars_x100
    FROM documents d JOIN top_lang t ON t.source = d.source
    GROUP BY d.source
    """,
)
def curate_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the datasheet a curation pipeline
    publishes alongside every corpus release: volume (docs, tokens),
    composition (language count + dominant language), integrity
    (exact-dup count), and a scale-free size signature (avg chars,
    integer-scaled).

    One aggregation pass over `documents` plus a broadcast join of the
    tiny per-source dominant-language table (rows = sources, not
    docs). Token totals come from whitespace split length (the same
    tokenization the packing/chunking operators use) computed
    row-locally before the shuffle, so the aggregate moves one long
    per doc, never the text. Average chars uses integer div on the
    scaled sum — no float crosses the engine boundary.
    """
    docs = load_table(spark, "documents", sf_dir)
    lang_counts = docs.groupBy("source", "lang").agg(F.count("*").alias("n_lang"))
    top_lang = (
        lang_counts.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("n_lang").desc(), F.col("lang")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    per_source = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        (F.count("*") - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_exact_dups"),
        F.expr("sum(n_chars) * 100 div count(*)").cast("long").alias("avg_chars_x100"),
    )
    return per_source.join(F.broadcast(top_lang), "source").select(
        "source",
        "n_docs",
        "total_tokens",
        "n_langs",
        "top_lang",
        "n_exact_dups",
        "avg_chars_x100",
    )


# ---------------------------------------------------------------------------
# Exact-k deterministic per-group sampling — round 6.
# ---------------------------------------------------------------------------

_RESERVOIR_K = 5

RESERVOIR_ORACLE = f"""
    WITH keyed AS (
      SELECT event_type, event_id,
             md5(CAST(event_id AS VARCHAR)) AS hk
      FROM events
    ), ranked AS (
      SELECT event_type, event_id,
             CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY hk, event_id) AS BIGINT)
               AS rk
      FROM keyed
    )
    SELECT event_type, rk, event_id
    FROM ranked WHERE rk <= {_RESERVOIR_K}
"""


@query("sample_reservoir_per_group", oracle=RESERVOIR_ORACLE)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample per group (k={k} rows per event_type) —
    the distributed, deterministic equivalent of per-group reservoir
    sampling: rank rows within each group by md5(row id) and keep the
    k smallest. Every row's key is uniform and fixed, so the selected
    set is a uniform k-subset that is IDENTICAL across runs, partition
    layouts, and engines — the property an eval-set or debugging sample
    needs (classic reservoir sampling is stream-order-dependent, which
    a distributed scan cannot reproduce).

    Scale: one shuffle keyed by group; Spark plans the rank-filter as
    WindowGroupLimit (per-task top-k pre-filter before the shuffle), so
    only ~k rows per (task, group) move. Fraction-based sampling
    (sample_stratified_orders) cannot promise exact k; this op is the
    exact-k complement.
    """
    ev = load_table(spark, "events", sf_dir).select("event_type", "event_id")
    keyed = ev.select(
        "event_type",
        "event_id",
        F.md5(F.col("event_id").cast("string")).alias("hk"),
    )
    w = Window.partitionBy("event_type").orderBy("hk", "event_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _RESERVOIR_K)
        .select("event_type", "rk", "event_id")
    )


sample_reservoir_per_group.__doc__ = sample_reservoir_per_group.__doc__.format(
    k=_RESERVOIR_K
)


# ---------------------------------------------------------------------------
# Dataset snapshot diff — round 6.
# ---------------------------------------------------------------------------

SNAPSHOT_DIFF_ORACLE = """
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
    ), v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                      ELSE text END) AS h
      FROM documents WHERE doc_id % 5 <> 0
    ), diff AS (
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             CASE
               WHEN v1.doc_id IS NULL THEN 'added'
               WHEN v2.doc_id IS NULL THEN 'removed'
               WHEN v1.h <> v2.h THEN 'changed'
               ELSE 'unchanged'
             END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT status, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM diff GROUP BY status
"""


@query("curate_snapshot_diff", oracle=SNAPSHOT_DIFF_ORACLE)
def curate_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level diff between two corpus snapshots: added / removed /
    changed / unchanged counts — the release audit run before a new
    dataset version replaces the old one ('the refresh dropped 12% of
    docs and rewrote 3%' is a one-row answer here, a fire drill
    later). Snapshots are simulated deterministically from one fixture
    (v1 = doc_id∤3, v2 = doc_id∤5 with doc_id|7 texts revised).

    The diff is ONE full outer join on the key with md5 content hashes
    compared row-locally — at 100 TB both sides shuffle once on
    doc_id (or zero times if both snapshots are bucketed by key), and
    the hash means whole documents never cross the network twice.
    Status classification is a row-local CASE; the report is a
    map-side-combinable 4-group aggregate.
    """
    docs = load_table(spark, "documents", sf_dir)
    v1 = docs.where(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5("text").alias("h1")
    )
    v2 = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("h2"),
    )
    diff = v1.join(v2, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return diff.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Per-document keep/drop ledger with reason codes — round 6.
# ---------------------------------------------------------------------------

KEEP_DROP_ORACLE = """
    WITH canon AS (
      SELECT doc_id, md5(text) AS h,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
      FROM documents
    ), feats AS (
      SELECT d.doc_id, d.n_chars, c.canonical,
             len(string_split(d.text, ' ')) AS n_words,
             list_sum(list_transform(string_split(d.text, ' '),
                                     x -> length(x))) * 1.0
               / len(string_split(d.text, ' ')) AS mean_len,
             len(list_distinct(string_split(d.text, ' '))) * 1.0
               / len(string_split(d.text, ' ')) AS ttr
      FROM documents d JOIN canon c ON c.doc_id = d.doc_id
    )
    SELECT doc_id,
           CASE
             WHEN doc_id <> canonical THEN 'duplicate'
             WHEN NOT (n_words BETWEEN 30 AND 80) THEN 'word_count'
             WHEN NOT (mean_len BETWEEN 3.0 AND 10.0) THEN 'mean_word_len'
             WHEN ttr < 0.45 THEN 'ttr'
             WHEN n_chars < 100 THEN 'min_chars'
             ELSE 'kept'
           END AS reason,
           (CASE
             WHEN doc_id <> canonical THEN 'duplicate'
             WHEN NOT (n_words BETWEEN 30 AND 80) THEN 'word_count'
             WHEN NOT (mean_len BETWEEN 3.0 AND 10.0) THEN 'mean_word_len'
             WHEN ttr < 0.45 THEN 'ttr'
             WHEN n_chars < 100 THEN 'min_chars'
             ELSE 'kept'
           END = 'kept') AS keep
    FROM feats
"""


@query("curate_keep_drop_ledger", oracle=KEEP_DROP_ORACLE)
def curate_keep_drop_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document keep/drop LEDGER a curation pipeline must be
    able to produce for auditability: one row per input doc with the
    decision and the FIRST failing gate as a reason code (duplicate →
    word count → mean word length → TTR → min chars → kept). Aggregate
    filter reports (quality_gopher_rules) answer "how many"; this
    answers "why was doc 4711 dropped" — the provenance question every
    dataset audit actually asks.

    Dedup gate: exact-hash canonicalization (min doc_id per md5(text)
    group — a window over hash groups, bounded by duplicate-set size).
    The quality gates share quality_gopher_rules' thresholds by
    construction, all row-local JVM expressions; the whole ledger is
    one scan + one hash-keyed shuffle for the canonical window.
    """
    docs = load_table(spark, "documents", sf_dir)
    canon = docs.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.md5("text")))
        .alias("canonical"),
    )
    w = F.split("text", " ")
    n_words = F.size(w)
    mean_len = F.expr(
        "aggregate(split(text, ' '), 0L, (a, x) -> a + length(x))"
    ).cast("double") / n_words.cast("double")
    ttr = F.size(F.array_distinct(w)).cast("double") / n_words.cast("double")
    feats = docs.select(
        "doc_id",
        "n_chars",
        n_words.alias("n_words"),
        mean_len.alias("mean_len"),
        ttr.alias("ttr"),
    ).join(canon, "doc_id")
    reason = (
        F.when(F.col("doc_id") != F.col("canonical"), "duplicate")
        .when(~F.col("n_words").between(30, 80), "word_count")
        .when(~F.col("mean_len").between(3.0, 10.0), "mean_word_len")
        .when(F.col("ttr") < 0.45, "ttr")
        .when(F.col("n_chars") < 100, "min_chars")
        .otherwise("kept")
    )
    return feats.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "kept").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Reservoir-sampled group-by audit — round 11.
# ---------------------------------------------------------------------------

_RAUDIT_K = 64

RESERVOIR_AUDIT_ORACLE = f"""
    WITH keyed AS (
      SELECT event_type,
             CAST(floor(value * 1000) AS BIGINT) AS v_e3,
             md5(CAST(event_id AS VARCHAR)) AS hk,
             event_id
      FROM events
    ), ranked AS (
      SELECT event_type, v_e3,
             row_number() OVER (
               PARTITION BY event_type ORDER BY hk, event_id) AS rk
      FROM keyed
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN rk <= {_RAUDIT_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS k_used,
           CAST(sum(v_e3) // count(*) AS BIGINT) AS exact_mean_e3,
           CAST(sum(CASE WHEN rk <= {_RAUDIT_K} THEN v_e3 END)
                // sum(CASE WHEN rk <= {_RAUDIT_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS est_mean_e3,
           CAST(sum(CASE WHEN rk <= {_RAUDIT_K} THEN v_e3 END)
                // sum(CASE WHEN rk <= {_RAUDIT_K} THEN 1 ELSE 0 END)
                - sum(v_e3) // count(*)
                AS BIGINT) AS err_e3
    FROM ranked
    GROUP BY event_type
"""


@query("sample_reservoir_group_audit", oracle=RESERVOIR_AUDIT_ORACLE)
def sample_reservoir_group_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group reservoir-sample AUDIT: for every event_type, the
    exact mean of the value column next to the mean ESTIMATED from a
    deterministic k={k} reservoir (md5-race k-smallest, the same fixed
    uniform keys as sample_reservoir_per_group) and the signed error —
    the calibration report a pipeline publishes before it trusts
    sampled statistics at 100 TB, where "estimate the quality-score
    distribution from 64 docs per source" is the only affordable
    preview and this op answers how far that preview sits from truth.

    The reservoir is a pure function of row identity (md5(event_id)),
    so the sampled set — and therefore the estimate AND its error —
    is bit-stable across runs, partition layouts, and engines; a
    stream-order reservoir could not be oracle-checked at all.

    Scale: ONE events scan; the rank window and the final groupBy
    share the event_type hash partitioning, so the whole audit is one
    shuffle. Means are integer floor-divisions of e3-scaled sums
    (exact in both engines); no float crosses the boundary.

    Reference parity: the reference (j0shgrant/gotsdb) has no sampling
    surface (internal/storage/types.go:3); this is [TARGET] pipeline
    machinery.
    """
    keyed = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        F.md5(F.col("event_id").cast("string")).alias("hk"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("hk", "event_id")
    ranked = keyed.select(
        "event_type",
        "v_e3",
        F.row_number().over(w).alias("rk"),
    )
    in_res = F.when(F.col("rk") <= _RAUDIT_K, 1).otherwise(0)
    res_v = F.when(F.col("rk") <= _RAUDIT_K, F.col("v_e3"))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(in_res).cast("long").alias("k_used"),
            F.sum("v_e3").alias("_sv"),
            F.sum(res_v).alias("_ssv"),
        )
        .select(
            "event_type",
            "n",
            "k_used",
            F.expr("CAST(_sv DIV n AS BIGINT)").alias("exact_mean_e3"),
            F.expr("CAST(_ssv DIV k_used AS BIGINT)").alias("est_mean_e3"),
            F.expr(
                "CAST(_ssv DIV k_used - _sv DIV n AS BIGINT)"
            ).alias("err_e3"),
        )
    )


sample_reservoir_group_audit.__doc__ = (
    sample_reservoir_group_audit.__doc__.format(k=_RAUDIT_K)
)


# ---------------------------------------------------------------------------
# Alias-method weighted sampler materialization — round 11.
# ---------------------------------------------------------------------------

def _alias_round_sql(src: str, out: str) -> str:
    """One unrolled Vose pairing round in DuckDB: pick the
    lexicographically-first small (u < W) and large (u >= W) buckets,
    finalize the small (threshold = its u, alias = the large), and
    shrink the large by the donated mass W - u_small."""
    return f"""
    {out}_p AS (
      SELECT min(CASE WHEN NOT done AND u < wtot THEN pr END) AS smp,
             min(CASE WHEN NOT done AND u >= wtot THEN pr END) AS lgp
      FROM {src}
    ), {out}_u AS (
      SELECT p.smp, p.lgp, s.u AS usm
      FROM {out}_p p LEFT JOIN {src} s ON s.pr = p.smp
    ), {out} AS (
      SELECT s.pr, s.w,
             CASE WHEN s.pr = p.smp THEN s.u
                  WHEN p.smp IS NOT NULL AND s.pr = p.lgp
                    THEN s.u - (s.wtot - p.usm)
                  ELSE s.u END AS u,
             CASE WHEN s.pr = p.smp THEN s.u ELSE s.thr END AS thr,
             CASE WHEN s.pr = p.smp THEN p.lgp ELSE s.al END AS al,
             (s.done OR COALESCE(s.pr = p.smp, FALSE)) AS done,
             s.u0, s.wtot
      FROM {src} s CROSS JOIN {out}_u p
    )"""


ALIAS_TABLE_ORACLE = f"""
    WITH wt AS (
      SELECT o_orderpriority AS pr, CAST(count(*) AS BIGINT) AS w
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS wtot FROM wt
    ), s0 AS (
      SELECT pr, w, 5 * w AS u,
             CAST(NULL AS BIGINT) AS thr, CAST(NULL AS VARCHAR) AS al,
             FALSE AS done, 5 * w AS u0, wtot
      FROM wt CROSS JOIN tot
    ), {_alias_round_sql('s0', 's1')}, {_alias_round_sql('s1', 's2')},
    {_alias_round_sql('s2', 's3')}, {_alias_round_sql('s3', 's4')},
    fin AS (
      SELECT pr, w, u0, COALESCE(thr, wtot) AS thr,
             COALESCE(al, pr) AS alias_pr, wtot
      FROM s4
    ), extra AS (
      SELECT alias_pr AS pr, CAST(sum(wtot - thr) AS BIGINT) AS x
      FROM fin WHERE alias_pr <> pr GROUP BY 1
    )
    SELECT f.pr AS priority, f.w, f.u0, f.thr, f.alias_pr,
           CAST(f.thr + COALESCE(e.x, 0) AS BIGINT) AS mass,
           (f.thr + COALESCE(e.x, 0) = f.u0) AS mass_ok
    FROM fin f LEFT JOIN extra e ON e.pr = f.pr
"""


@query("sample_alias_table_build", oracle=ALIAS_TABLE_ORACLE)
def sample_alias_table_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vose alias-table MATERIALIZATION for O(1)-draw weighted
    sampling over the 5 order priorities: weights are the priority
    counts; the table is the classic (threshold, alias) pair per
    bucket — draw a bucket uniformly, draw a uniform in [0, W), take
    the bucket if below its threshold else its alias. This is how a
    100 TB mixture sampler turns per-source weights into a constant-
    time draw (curate_mixture_sample's Bernoulli gates resample per
    row; an alias table is built ONCE and broadcast), and building it
    as dataflow keeps the whole pipeline declarative.

    Construction is Vose's algorithm with EXACT integer mass: scaled
    weights u_i = n·w_i against the common denominator W = Σw (no
    float probabilities anywhere); each of the 4 unrolled pairing
    rounds finalizes the lexicographically-first small bucket
    (u < W) against the first large one — a deterministic pick order,
    so both engines build the identical table. Conservation is
    certified in-query: mass(j) = thr_j + Σ_{{alias_i=j}} (W − thr_i)
    must equal u0_j = n·w_j for every bucket (`mass_ok`) — the
    audit-grade invariant that the table really redistributes all and
    only the input mass.

    Scale: ONE map-side-combinable orders scan to the 5-row weight
    frame (checkpointed — the total and the initial state both read
    it); the 4 rounds are 1-row-aggregate + broadcast updates over a
    5-row state, independent of data volume. The pairing loop is
    inherently sequential in n (Vose is O(n) serial), which is
    exactly why the bucket domain must be bounded — per-SOURCE or
    per-priority mixtures are; per-row weights go to
    sample_weighted_priority's exponential races instead.

    Reference parity: the reference (j0shgrant/gotsdb) has no sampling
    surface (internal/storage/types.go:3); this is [TARGET] pipeline
    machinery.
    """
    wt = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_orderpriority").alias("pr"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        # two consumers: the total and the initial state
        .localCheckpoint(eager=False)
    )
    tot = wt.agg(F.sum("w").cast("long").alias("wtot"))
    state = wt.crossJoin(F.broadcast(tot)).select(
        "pr",
        "w",
        (5 * F.col("w")).alias("u"),
        F.lit(None).cast("long").alias("thr"),
        F.lit(None).cast("string").alias("al"),
        F.lit(False).alias("done"),
        (5 * F.col("w")).alias("u0"),
        "wtot",
    )
    for _ in range(4):
        picks = state.agg(
            F.min(
                F.when(
                    ~F.col("done") & (F.col("u") < F.col("wtot")),
                    F.struct("pr", "u"),
                )
            ).alias("sm"),
            F.min(
                F.when(
                    ~F.col("done") & (F.col("u") >= F.col("wtot")),
                    F.col("pr"),
                )
            ).alias("lgp"),
        )
        is_sm = F.col("pr") == F.col("sm.pr")
        state = (
            state.crossJoin(F.broadcast(picks))
            .select(
                "pr",
                "w",
                F.when(is_sm, F.col("u"))
                .when(
                    F.col("sm.pr").isNotNull() & (F.col("pr") == F.col("lgp")),
                    F.col("u") - (F.col("wtot") - F.col("sm.u")),
                )
                .otherwise(F.col("u"))
                .alias("u"),
                F.when(is_sm, F.col("u")).otherwise(F.col("thr")).alias("thr"),
                F.when(is_sm, F.col("lgp")).otherwise(F.col("al")).alias("al"),
                (F.col("done") | F.coalesce(is_sm, F.lit(False))).alias("done"),
                "u0",
                "wtot",
            )
            .localCheckpoint(eager=False)
        )
    fin = state.select(
        "pr",
        "w",
        "u0",
        F.coalesce("thr", "wtot").alias("thr"),
        F.coalesce("al", "pr").alias("alias_pr"),
        "wtot",
    )
    extra = (
        fin.where(F.col("alias_pr") != F.col("pr"))
        .groupBy(F.col("alias_pr").alias("pr"))
        .agg(F.sum(F.col("wtot") - F.col("thr")).cast("long").alias("x"))
    )
    return (
        fin.join(extra, "pr", "left")
        .select(
            F.col("pr").alias("priority"),
            "w",
            "u0",
            "thr",
            "alias_pr",
            (F.col("thr") + F.coalesce(F.col("x"), F.lit(0)))
            .cast("long")
            .alias("mass"),
            (
                F.col("thr") + F.coalesce(F.col("x"), F.lit(0))
                == F.col("u0")
            ).alias("mass_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source token-budget planner (waterfilling) — round 13.
# ---------------------------------------------------------------------------

TOKEN_BUDGET_ORACLE = """
    WITH src AS MATERIALIZED (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS s,
             CAST(sum(t) AS BIGINT) AS total_tokens,
             CAST(sum(t) // 2 AS BIGINT) AS budget
      FROM src
    ), ranked AS MATERIALIZED (
      SELECT a.source, a.t, a.n_docs,
             CAST(count(*) AS BIGINT) AS rk,
             CAST(sum(b.t) AS BIGINT) AS cum_t
      FROM src a JOIN src b
        ON b.t < a.t OR (b.t = a.t AND b.source <= a.source)
      GROUP BY a.source, a.t, a.n_docs
    ), cand AS (
      SELECT r.rk, r.cum_t
      FROM ranked r, tot
      WHERE r.t * (tot.s - r.rk) <= tot.budget - r.cum_t
    ), level AS (
      SELECT tot.s, tot.total_tokens, tot.budget,
             COALESCE(max(cand.rk), 0) AS jstar,
             COALESCE(max(cand.cum_t), 0) AS cum_tj
      FROM tot LEFT JOIN cand ON TRUE
      GROUP BY 1, 2, 3
    ), params AS (
      SELECT s, total_tokens, budget, jstar, cum_tj,
             (budget - cum_tj) // (s - jstar) AS lvl,
             (budget - cum_tj) % (s - jstar) AS extra
      FROM level
    )
    SELECT r.source,
           r.t AS tokens_total,
           r.n_docs,
           CAST(r.rk AS INT) AS size_rank,
           CAST(CASE WHEN r.rk <= p.jstar THEN r.t
                     WHEN r.rk > p.s - p.extra THEN p.lvl + 1
                     ELSE p.lvl END AS BIGINT) AS tokens_alloc,
           r.rk > p.jstar AS capped,
           CAST(CASE WHEN r.rk <= p.jstar THEN r.t
                     WHEN r.rk > p.s - p.extra THEN p.lvl + 1
                     ELSE p.lvl END * 1000000 // r.t AS BIGINT)
             AS keep_rate_e6,
           p.budget AS budget_tokens
    FROM ranked r, params p
    ORDER BY r.source
"""


@query("curate_token_budget_planner", oracle=TOKEN_BUDGET_ORACLE)
def curate_token_budget_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source token-budget planner — the mixture planner's dual.
    Given a target token budget (half the corpus, deterministic), pick
    per-source keep allocations by exact integer WATERFILLING: small
    sources are kept whole; every larger source is clipped to a common
    level L chosen so allocations sum to the budget EXACTLY (the
    remainder after integer division hands one extra token to each of
    the `extra` largest capped sources — largest-(tokens, name) order,
    deterministic). This equalizes surviving tokens across dominant
    sources, which is precisely the dual of curate_mixture_sample's
    fixed per-source rates: there the rates are the input, here the
    budget is and the rates fall out (keep_rate_e6 per source).

    Waterfilling correctness (pinned by the Python-reference test):
    jstar = the largest count j of smallest sources that can be kept
    whole while splitting the remaining budget equally among the
    S - j larger ones (feasible iff t_j * (S-j) <= B - cumT_j;
    feasibility is monotone in j, so max() selects the unique
    boundary); for capped sources t > L holds by the maximality of
    jstar, so alloc <= t everywhere and sum(alloc) == budget exactly.

    Determinism: token counts are the repo-wide whitespace convention
    (size(split(text,' ')) == len(string_split(...))); ranks break
    ties on (tokens, source); every column is integer/boolean.

    Scale: ONE documents pass (text + source columns) builds the
    per-source totals; everything after is source-dictionary-sized
    (S x S rank join, 1-row params) — at 100 TB the plan is one
    map-side-combinable groupBy plus grid joins. The rank self-join is
    an intended nested loop over the broadcast S-row dictionary, never
    data x data.

    Reference parity: the reference (j0shgrant/gotsdb) has no corpus
    tooling (SURVEY.md §2.2); this is [TARGET] training-data curation
    machinery alongside curate_mixture_sample / curate_pack_token_bins.
    """
    docs = load_table(spark, "documents", sf_dir).select(
        "source", F.size(F.split("text", " ")).cast("long").alias("ntok")
    )
    src = (
        docs.groupBy("source")
        .agg(
            F.sum("ntok").cast("long").alias("t"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .localCheckpoint(eager=False)
    )
    tot = src.agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("t").cast("long").alias("total_tokens"),
        F.expr("CAST(sum(t) DIV 2 AS BIGINT)").alias("budget"),
    )
    a, b = src.alias("a"), src.alias("b")
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("b.t") < F.col("a.t"))
            | (
                (F.col("b.t") == F.col("a.t"))
                & (F.col("b.source") <= F.col("a.source"))
            ),
        )
        .groupBy("a.source", "a.t", "a.n_docs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rk"),
            F.sum("b.t").cast("long").alias("cum_t"),
        )
        .localCheckpoint(eager=False)
    )
    cand = ranked.crossJoin(F.broadcast(tot)).where(
        F.col("t") * (F.col("s") - F.col("rk"))
        <= F.col("budget") - F.col("cum_t")
    )
    level = tot.crossJoin(
        F.broadcast(
            cand.agg(
                F.coalesce(F.max("rk"), F.lit(0)).alias("jstar"),
                F.coalesce(F.max("cum_t"), F.lit(0)).alias("cum_tj"),
            )
        )
    )
    params = level.select(
        "s",
        "total_tokens",
        "budget",
        "jstar",
        "cum_tj",
        F.expr("(budget - cum_tj) DIV (s - jstar)").alias("lvl"),
        F.expr("(budget - cum_tj) % (s - jstar)").alias("extra"),
    )
    alloc = (
        "CASE WHEN rk <= jstar THEN t"
        " WHEN rk > s - extra THEN lvl + 1"
        " ELSE lvl END"
    )
    return (
        ranked.crossJoin(F.broadcast(params))
        .select(
            "source",
            F.col("t").alias("tokens_total"),
            "n_docs",
            F.col("rk").cast("int").alias("size_rank"),
            F.expr(f"CAST({alloc} AS BIGINT)").alias("tokens_alloc"),
            (F.col("rk") > F.col("jstar")).alias("capped"),
            F.expr(f"CAST({alloc} * 1000000 DIV t AS BIGINT)").alias(
                "keep_rate_e6"
            ),
            F.col("budget").alias("budget_tokens"),
        )
        .orderBy("source")
    )
