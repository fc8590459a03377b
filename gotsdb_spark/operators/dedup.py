"""Deduplication operators over the `documents` table: exact,
MinHash+LSH, SimHash, and n-gram Jaccard (SURVEY.md §2.3, training-data
pipeline surface).

Determinism note: every hash used here is md5 over an explicit string —
md5 produces identical hex in Spark and DuckDB, so the MinHash/SimHash
pipelines are fully oracle-comparable (no engine-specific hash seeds).

Scale notes (the whole point of MinHash/SimHash at 100 TB):
- Exact dedup is a hash groupBy on md5(text): map-side partial agg, one
  shuffle of 16-byte keys instead of full documents.
- MinHash LSH is the sub-quadratic path: per-doc signatures (narrow),
  band-bucket equi-join for candidates, Jaccard verification only on
  candidates. Never an all-pairs cross join.
- n-gram Jaccard's shared-shingle candidate join IS quadratic in the
  worst case; it exists as the exact baseline the LSH variants are
  validated against at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gotsdb_spark.functions import word_shingles
from gotsdb_spark.operators.registry import query
from gotsdb_spark.sources.registry import fan_out, load_table

N_MINHASH = 8  # permutations (seeds)
BAND_SIZE = 2  # seeds per LSH band → 4 bands; P(candidate) = 1-(1-J^2)^4


def shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) — one row per distinct 3-word shingle per doc."""
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return docs.select("doc_id", F.explode(word_shingles(F.col("text"))).alias("sh"))


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS canonical_doc,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep canonical min doc_id.

    The shuffle carries (16-byte hash, doc_id) pairs only — at 100 TB the
    document bodies never move.
    """
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc"), F.count("*").alias("n_copies"))
    )


# Shingle→signature→band CTE prefix, shared by the pair/cluster oracles
# below AND the incremental-corpus oracle (which swaps in its own
# candidate generation between delta and corpus partitions).
_MINHASH_BANDS_CTES = f"""words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), shingles AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(ws) - 2, 1)),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        FROM words
      ) raw
    ), sigs AS (
      SELECT doc_id, s.seed,
             min(md5(CAST(s.seed AS VARCHAR) || ':' || sh)) AS mh
      FROM shingles, (SELECT unnest(generate_series(0, {N_MINHASH - 1})) AS seed) s
      GROUP BY doc_id, s.seed
    ), bands AS MATERIALIZED (
      SELECT doc_id, seed // {BAND_SIZE} AS band_id,
             string_agg(mh, '|' ORDER BY seed) AS sig
      FROM sigs GROUP BY doc_id, seed // {BAND_SIZE}
    )"""

# CTE chain shared by the pair query and the cluster query below (the
# cluster oracle extends it with a recursive component search).
_MINHASH_CTES = _MINHASH_BANDS_CTES + f""", cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
    ), inter AS (
      SELECT doc_a, doc_b, count(*) AS n_common
      FROM cand
      JOIN shingles sa ON sa.doc_id = doc_a
      JOIN shingles sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
      GROUP BY doc_a, doc_b
    ), sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ), pairs AS MATERIALIZED (
      SELECT doc_a, doc_b,
             n_common * 1.0 / (za.n_sh + zb.n_sh - n_common) AS jaccard
      FROM inter
      JOIN sizes za ON za.doc_id = doc_a
      JOIN sizes zb ON zb.doc_id = doc_b
      WHERE n_common * 1.0 / (za.n_sh + zb.n_sh - n_common) >= 0.6
    )"""

_MINHASH_ORACLE = f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
"""


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Packed shingle arrays (materialized once per invocation) + the
    N_MINHASH signature frame (one mh{s} column per seed). Shared by the
    deployed band layout (`_minhash_bands`) and the banding-sensitivity
    audit, which slices the SAME signature pool into alternative b×r
    configurations. localCheckpoint (not a cross-invocation cache) so
    every bench/oracle run recomputes from the parquet input while the
    multiple consumers inside ONE query still share a single pass.
    The signatures are computed inside that checkpoint, so a band
    self-join reads them twice but hashes each shingle once per seed."""
    mh = [f"mh{s}" for s in range(N_MINHASH)]
    docs = (
        fan_out(load_table(spark, "documents", sf_dir))
        .select("doc_id", word_shingles(F.col("text")).alias("sh_arr"))
        .select(
            "doc_id",
            "sh_arr",
            *[
                F.array_min(
                    F.transform(
                        F.col("sh_arr"), lambda sh: F.md5(F.concat(F.lit(f"{s}:"), sh))
                    )
                ).alias(mh[s])
                for s in range(N_MINHASH)
            ],
        )
        .localCheckpoint(eager=False)
    )
    return docs, docs.select("doc_id", *mh)


def _minhash_bands(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Packed shingle arrays (cached) + the LSH band table.

    Shingles stay PACKED as an array per doc — signatures and Jaccard
    are row-local array expressions (array_min over transform,
    array_intersect on candidate pairs). Nothing explodes; the only
    shuffles left are the tiny band-bucket and candidate joins. This
    is the shape that survives 100 TB: per-doc work is a map, shuffle
    volume is O(docs), never O(shingles).
    """
    docs, sigs = _minhash_sigs(spark, sf_dir)
    n_bands = N_MINHASH // BAND_SIZE
    band_sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * BAND_SIZE + i}") for i in range(BAND_SIZE)]
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sigs.select(
        "doc_id", F.explode(band_sigs).alias("bs")
    ).select("doc_id", F.col("bs.band_id").alias("band_id"), F.col("bs.sig").alias("sig"))
    return docs, bands


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, Jaccard-verified.

    Pipeline: 3-word shingles → 8 md5-min signatures → 4 bands of 2 →
    equi-join on (band, signature) for candidates → exact Jaccard on the
    candidates only → threshold 0.6.

    This is the 100 TB dedup path: signature computation is a map-side
    groupBy per doc; the candidate join is an equi-join on short strings;
    verification touches only the candidate pairs (≈25 at sf0.01, not
    the 125k all-pairs space).
    """
    docs, bands = _minhash_bands(spark, sf_dir)
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("band_id").alias("band_id2"), F.col("sig").alias("sig2")
    )
    cand = (
        bands.join(
            b2,
            (bands.band_id == b2.band_id2)
            & (bands.sig == b2.sig2)
            & (bands.doc_id < b2.doc_b),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    # Jaccard verification: join the packed shingle arrays onto each
    # candidate pair and compute intersect/union sizes row-locally.
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("arr_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("arr_b"))
    n_common = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    n_union = F.size(F.array_union(F.col("arr_a"), F.col("arr_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", n_common / n_union)
        .where(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
    )


_SIMHASH_BITS = 32

_SIMHASH_ORACLE = f"""
    WITH tokens AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) raw
    ), bits AS (
      SELECT doc_id, b.j,
             sum(CASE WHEN substr(md5(w), b.j, 1) IN
                        ('8','9','a','b','c','d','e','f')
                      THEN 1 ELSE -1 END) AS s
      FROM tokens, (SELECT unnest(generate_series(1, {_SIMHASH_BITS})) AS j) b
      GROUP BY doc_id, b.j
    ), hashes AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j - 1))
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT doc_id, simhash,
           count(*) OVER (PARTITION BY simhash) AS n_same_hash
    FROM hashes
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document.

    Bit j of a token's hash = top bit of md5 hex nibble j (engine-
    portable). The doc fingerprint sets bit j when the sum of ±1 votes
    over distinct tokens is positive. Near-dups land at small Hamming
    distance; identical fingerprints are surfaced via n_same_hash.

    Scale: two map-side-combinable groupBys; the shuffle carries
    (doc_id, 32 small ints) — document text never moves after
    tokenization.
    """
    docs = fan_out(load_table(spark, "documents", sf_dir))
    tokens = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    positions = spark.range(1, _SIMHASH_BITS + 1).select(
        F.col("id").cast("int").alias("j")
    )
    bits = (
        tokens.crossJoin(F.broadcast(positions))
        .groupBy("doc_id", "j")
        .agg(
            F.sum(
                F.when(
                    F.substr(F.md5("w"), F.col("j"), F.lit(1)).isin(
                        "8", "9", "a", "b", "c", "d", "e", "f"
                    ),
                    1,
                ).otherwise(-1)
            ).alias("s")
        )
    )
    hashes = bits.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("s") > 0, F.pow(F.lit(2.0), F.col("j") - 1).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("simhash")
    )
    return hashes.select(
        "doc_id",
        "simhash",
        F.count("*").over(W.partitionBy("simhash")).alias("n_same_hash"),
    )


_NGRAM_ORACLE = """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), shingles AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(ws) - 2, 1)),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        FROM words
      ) raw
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 5
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    )
    SELECT doc_a, doc_b,
           n_common * 1.0 / (za.n_sh + zb.n_sh - n_common) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    WHERE n_common * 1.0 / (za.n_sh + zb.n_sh - n_common) >= 0.6
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (baseline for the LSH path).

    Candidates = pairs sharing ≥5 shingles (equi-join on shingle, then
    HAVING). Worst-case quadratic — kept as the correctness baseline;
    production scale uses dedup_minhash_lsh.
    """
    sh = shingle_table(spark, sf_dir).localCheckpoint(eager=False)
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = (
        sh.join(sb, (F.col("sh") == F.col("sh_b")) & (F.col("doc_id") < F.col("doc_b")))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= 5)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jaccard = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
    )


# Embedding-cosine near-dup: the fifth dedup tier (semantic, not
# lexical). Candidate generation reuses the sign-random-projection LSH
# buckets from operators.similarity; this query joins the near pairs
# back to `documents` so the output is document-level duplicate pairs.
from gotsdb_spark.operators.similarity import (  # noqa: E402
    _LSH_PAIRS_ORACLE,
    sim_lsh_near_pairs,
)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH pairs AS ({_LSH_PAIRS_ORACLE})
    SELECT p.vec_a AS doc_a, p.vec_b AS doc_b,
           da.lang AS lang_a, db.lang AS lang_b,
           p.cos_sim
    FROM pairs p
    JOIN documents da ON da.doc_id = p.vec_a
    JOIN documents db ON db.doc_id = p.vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate DOCUMENT pairs (semantic dedup).

    Lexical dedup (MinHash/SimHash/Jaccard above) misses paraphrases;
    this tier flags documents whose embeddings sit in the same LSH
    bucket with cosine ≥ 0.30, joined back to `documents` (doc_id ↔
    vec_id) for per-document metadata. Candidates come from the bucket
    equi-join — sub-quadratic, no all-pairs — and the doc join is by
    key, so at 100 TB the cost is the candidate count, not n².
    """
    pairs = sim_lsh_near_pairs(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"))
    return (
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"), "cos_sim"
        )
        .join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", "lang_a", "lang_b", "cos_sim")
    )


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE {_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, root) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc
    )
    SELECT CAST(doc AS BIGINT) AS doc_id,
           CAST(min(root) AS BIGINT) AS canonical_id,
           min(root) = doc AS is_canonical
    FROM reach GROUP BY doc
"""


@query("dedup_cluster_canonical", oracle=_CLUSTER_ORACLE)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters → canonical doc per cluster (connected
    components over the MinHash pair graph).

    The end-step of a real dedup pipeline: pairs alone don't dedupe —
    transitive groups do (A≈B, B≈C ⇒ {A,B,C} is one cluster even if
    A,C never paired). Components come from star contraction
    (graph.star_contraction_edges), whose fixpoint points every
    non-canonical member u at its cluster's smallest doc_id v: each
    member is one (u, v, false) row and each distinct root one
    (v, v, true) row. The DuckDB oracle is a recursive transitive
    closure, a different algorithm arriving at the same fixpoint.

    Scale: star contraction needs O(log n) rounds whatever the
    cluster diameter, so a long near-dup chain (crawl rings, mirrored
    page series) costs a few rounds, not one per hop, and the loop
    fails loudly if its id-width round bound runs out. Each round is a
    few groupBy-min and equi-join shuffles over the pair set, which is
    tiny next to the corpus.
    """
    from gotsdb_spark.operators.graph import star_contraction_edges

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    members = star_contraction_edges(pairs)  # (u=member, v=canonical)
    return members.select(
        F.col("u").alias("doc_id"),
        F.col("v").alias("canonical_id"),
        F.lit(False).alias("is_canonical"),
    ).unionByName(
        members.select(
            F.col("v").alias("doc_id"),
            F.col("v").alias("canonical_id"),
            F.lit(True).alias("is_canonical"),
        ).distinct()
    )


_INCREMENTAL_ORACLE = f"""
    WITH {_MINHASH_BANDS_CTES}, cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ), packs AS (
      SELECT doc_id, list(sh ORDER BY sh) AS ss, count(*) AS n_sh
      FROM shingles GROUP BY doc_id
    )
    SELECT new_id, corpus_id,
           len(list_intersect(pa.ss, pb.ss)) * 1.0
             / (pa.n_sh + pb.n_sh - len(list_intersect(pa.ss, pb.ss))) AS jaccard
    FROM cand
    JOIN packs pa ON pa.doc_id = new_id
    JOIN packs pb ON pb.doc_id = corpus_id
    WHERE len(list_intersect(pa.ss, pb.ss)) * 1.0
            / (pa.n_sh + pb.n_sh - len(list_intersect(pa.ss, pb.ss))) >= 0.6
"""


@query("dedup_incremental_corpus", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup detection — the ingestion
    path of a living training corpus.

    At 100 TB you never re-dedup the whole corpus when a crawl lands:
    the corpus's LSH band table is a persisted index; only the delta's
    signatures are computed, and the candidate join is delta-bands ⋈
    corpus-bands — shuffle volume proportional to the DELTA, not the
    corpus (the corpus side is a bucketed/sorted index lookup on a real
    deployment). Simulated here by partitioning the fixture on
    doc_id % 10: every 10th doc is the incoming batch, the rest are the
    corpus. Candidates are verified with exact Jaccard on packed
    shingle arrays (row-local), threshold 0.6 — same verify step as
    dedup_minhash_lsh, so a delta doc is flagged iff a full-corpus
    re-dedup would have flagged it against an existing doc.
    """
    docs, bands = _minhash_bands(spark, sf_dir)
    delta = bands.where(F.col("doc_id") % 10 == 0)
    corpus = bands.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("band_id").alias("band_id2"),
        F.col("sig").alias("sig2"),
    ).where(F.col("corpus_id") % 10 != 0)
    cand = (
        delta.join(
            corpus,
            (delta.band_id == corpus.band_id2) & (delta.sig == corpus.sig2),
        )
        .select(F.col("doc_id").alias("new_id"), "corpus_id")
        .distinct()
    )
    pa = docs.select(F.col("doc_id").alias("new_id"), F.col("sh_arr").alias("arr_a"))
    pb = docs.select(
        F.col("doc_id").alias("corpus_id"), F.col("sh_arr").alias("arr_b")
    )
    n_common = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    n_union = F.size(F.array_union(F.col("arr_a"), F.col("arr_b")))
    return (
        cand.join(pa, "new_id")
        .join(pb, "corpus_id")
        .withColumn("jaccard", n_common / n_union)
        .where(F.col("jaccard") >= 0.6)
        .select("new_id", "corpus_id", "jaccard")
    )


_KEEP_BEST_ORACLE = f"""
    WITH clusters AS ({_CLUSTER_ORACLE}),
    ranked AS (
      SELECT cl.doc_id, cl.canonical_id, d.n_chars,
             row_number() OVER (
               PARTITION BY cl.canonical_id
               ORDER BY d.n_chars DESC, cl.doc_id
             ) AS rn
      FROM clusters cl JOIN documents d USING (doc_id)
    )
    SELECT canonical_id AS cluster_id,
           CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY canonical_id
"""


@query("dedup_keep_best_quality", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical SELECTION policy: per near-dup cluster, keep the
    highest-quality member, not the arbitrary min-id one.

    dedup_cluster_canonical answers "which docs form one cluster";
    this answers the question a curation pipeline actually acts on —
    which copy to KEEP. Quality here is n_chars (longest variant
    wins; doc_id breaks ties deterministically), standing in for a
    model-scored quality column. One extra window over the cluster
    assignment (partitioned by cluster — bounded groups, no skew: a
    near-dup cluster is a handful of docs) plus a key join back to
    `documents`; the expensive part (component search) is shared with
    the cluster query. Oracle re-derives the same clusters via
    DuckDB's recursive transitive closure and applies the same keep
    rule."""
    clusters = dedup_cluster_canonical(spark, sf_dir).select(
        "doc_id", "canonical_id"
    )
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    ranked = (
        clusters.join(docs, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("canonical_id").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id")
                )
            ),
        )
    )
    return ranked.groupBy(F.col("canonical_id").alias("cluster_id")).agg(
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc"),
        F.count("*").cast("long").alias("n_members"),
        F.min(F.when(F.col("rn") == 1, F.col("n_chars")))
        .cast("long")
        .alias("kept_chars"),
    )


_PF_T = 0.6  # Jaccard threshold shared with dedup_ngram_jaccard

# Candidate-pair budget for the exact similarity join, per document.
# Measured rates: sf0.01 0.3/doc, sf0.1 59.9/doc, sf1 603.5/doc (the
# sf1 fixture is 10 exact copies of every doc, so its matching pairs
# grow x100 vs a real 10x corpus — this is the worst case we accept).
# A genuinely quadratic input (every doc sharing one hot prefix
# shingle) lands at n_docs/2 pairs per doc — tens of thousands — and
# must fail loudly, not run O(n^2).
_PF_PAIR_BUDGET_PER_DOC = 2048

_PREFIX_FILTER_ORACLE = f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), shingles AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(ws) - 2, 1)),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        FROM words
      ) raw
    ), freq AS (
      SELECT sh, count(*) AS f FROM shingles GROUP BY sh
    ), ranked AS (
      SELECT s.doc_id, s.sh,
             row_number() OVER (PARTITION BY s.doc_id ORDER BY f.f, s.sh) AS rn,
             count(*)    OVER (PARTITION BY s.doc_id) AS n_sh
      FROM shingles s JOIN freq f USING (sh)
    ), prefix AS MATERIALIZED (
      SELECT doc_id, sh FROM ranked
      WHERE rn <= n_sh - ceil({_PF_T} * n_sh) + 1
    ), cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ), packs AS MATERIALIZED (
      SELECT doc_id, list(sh ORDER BY sh) AS ss, count(*) AS n_sh
      FROM shingles GROUP BY doc_id
    )
    SELECT doc_a, doc_b,
           len(list_intersect(pa.ss, pb.ss)) * 1.0
             / (pa.n_sh + pb.n_sh - len(list_intersect(pa.ss, pb.ss))) AS jaccard
    FROM cand
    JOIN packs pa ON pa.doc_id = doc_a
    JOIN packs pb ON pb.doc_id = doc_b
    WHERE len(list_intersect(pa.ss, pb.ss)) * 1.0
            / (pa.n_sh + pb.n_sh - len(list_intersect(pa.ss, pb.ss))) >= {_PF_T}
"""


def _prefix_filter_candidates(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from the rarest-first prefix
    join — the pre-verify stage of dedup_prefix_filter_jaccard, kept
    separate so plan tests can pin its shape before the operator's
    budget checkpoint hides it.

    Global shingle frequency is a map-side-combinable groupBy joined
    back on sh — NOT a window over PARTITION BY sh: shingle frequency
    is Zipfian, and a window shuffle puts every row of a hot shingle
    into one task with no remedy (AQE can split skewed joins but not
    skewed windows). The groupBy's partial aggregation absorbs hot
    keys map-side, the freq table is one tiny row per key, and the
    join back is an equi-join where AQE skew handling applies. (Not
    broadcast either: the frequency table grows with the corpus.)
    """
    # The candidate chain never needs the shingle TEXT — only a key that
    # is consistent across docs. xxhash64 replaces the ~25-byte string
    # with 8 bytes through the frequency groupBy, the join-back, the
    # ranking window and the self-join (guide §2.3: shuffle keys, not
    # payloads). Soundness is unchanged: the prefix-filter guarantee
    # (J ≥ t ⇒ prefixes intersect) holds for ANY global order, and the
    # (f, h) order is global; a 64-bit collision can only ADD a
    # candidate (two shingles sharing h), never drop one, and the exact
    # array_intersect verify removes false candidates.
    hashed = sh.select("doc_id", F.xxhash64("sh").alias("h"))
    freq = hashed.groupBy("h").agg(F.count("*").alias("f"))
    with_f = hashed.join(freq, "h").select("doc_id", "h", "f")
    ranked = with_f.select(
        "doc_id",
        "h",
        F.row_number()
        .over(W.partitionBy("doc_id").orderBy("f", "h"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("doc_id")).alias("n_sh"),
    )
    prefix = ranked.where(
        F.col("rn") <= F.col("n_sh") - F.ceil(_PF_T * F.col("n_sh")) + 1
    ).select("doc_id", "h", "rn", "n_sh")
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h").alias("h_b"),
        F.col("rn").alias("rn_b"),
        F.col("n_sh").alias("n_b"),
    )
    # PPJoin positional filter (round 14, guide §2.3): a matched prefix
    # row at positions (rn, rn_b) in the global (f, h) order bounds the
    # overlap from above — tokens strictly before a pair's FIRST common
    # token are common in NEITHER set, so for that row
    #   |A∩B| <= 1 + min(n_a - rn_a, n_b - rn_b),
    # while J >= t  ⟺  |A∩B| >= t/(1+t)·(n_a+n_b).  Every true pair
    # therefore keeps its first-common-token row (for it the bound is
    # valid and >= the true overlap requirement); rows matched on LATER
    # common tokens may be dropped spuriously, but the pair survives
    # distinct() through the first-token row, so the post-verify result
    # is provably identical — the filter only removes candidates whose
    # exact Jaccard verification would fail anyway.  The inequality is
    # written multiplication-only with an epsilon so float rounding can
    # only keep a pair, never drop one.  This subsumes the plain length
    # filter (min(n_a,n_b) >= t·max(n_a,n_b)): rn >= 1 on both sides.
    ub = 1 + F.least(
        F.col("n_sh") - F.col("rn"), F.col("n_b") - F.col("rn_b")
    )
    return (
        prefix.join(
            pb, (F.col("h") == F.col("h_b")) & (F.col("doc_id") < F.col("doc_b"))
        )
        .where(
            ub * F.lit(1.0 + _PF_T)
            >= F.lit(_PF_T) * (F.col("n_sh") + F.col("n_b")) - F.lit(1e-6)
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )


@query("dedup_prefix_filter_jaccard", oracle=_PREFIX_FILTER_ORACLE)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-threshold Jaccard join via prefix filtering (PPJoin-style).

    The third point in the dedup design space: dedup_ngram_jaccard is
    the exact all-shared-shingles baseline (worst-case quadratic) and
    dedup_minhash_lsh is approximate; prefix filtering is EXACT *and*
    sub-quadratic. Order each doc's shingles by ascending global
    frequency (rarest first); for Jaccard ≥ t two sets MUST share at
    least one of each other's first n−⌈t·n⌉+1 shingles, so the
    candidate join runs only on those prefixes — rare shingles, tiny
    postings lists. Candidates are verified row-locally against the
    packed sorted shingle arrays (array_intersect), so the verify
    shuffle carries O(candidates) rows, not O(shared-shingle pairs).

    At 100 TB: frequency table is a map-side-combinable groupBy, the
    per-doc ranking windows by doc_id (partition-local), and the
    candidate equi-join shuffles only prefix rows — the frequency
    ordering is exactly what keeps hot shingles out of the join.
    Same threshold as dedup_ngram_jaccard so results are comparable.

    Pair-budget guard (round 13): prefix filtering is sub-quadratic on
    REAL corpora, but a pathological input (one hot shingle in every
    prefix) degrades to all-pairs silently — at sf1 the
    duplicate-saturated fixture already grows candidates x100 vs a
    real 10x corpus (measured pre-positional-filter: 0.3/doc at
    sf0.01, 59.9/doc at sf0.1, 603.5/doc at sf1, ~30.2M pairs = the
    documented 910 s; the round-14 PPJoin positional filter in
    _prefix_filter_candidates cuts the sf0.1 rate to 13.7/doc —
    68,594 pairs — before any of them reach the verify join). The
    candidate count is therefore checked against
    _PF_PAIR_BUDGET_PER_DOC = 2048 pairs/doc BEFORE the verify join,
    and over-budget inputs fail LOUDLY with the measured rate instead
    of running quadratic — the same honesty convention as the graph
    fixpoint convergence checks. The count itself is a 1-row aggregate
    over the checkpointed candidate frame the verify join reuses.
    """
    sh = shingle_table(spark, sf_dir).localCheckpoint(eager=False)
    cand = _prefix_filter_candidates(sh).localCheckpoint(eager=False)
    # ^ the budget count and the verify join share one materialization;
    # the candidate pipeline lives in _prefix_filter_candidates so the
    # plan tests can pin its shape pre-checkpoint.
    n_docs = load_table(spark, "documents", sf_dir).count()  # metadata-cheap
    n_cand = cand.count()  # 1-row bound off the checkpointed frame
    budget = _PF_PAIR_BUDGET_PER_DOC * max(n_docs, 1)
    if n_cand > budget:
        raise RuntimeError(
            f"dedup_prefix_filter_jaccard: candidate-pair budget exceeded — "
            f"{n_cand} candidates for {n_docs} docs "
            f"({n_cand / max(n_docs, 1):.1f}/doc; budget "
            f"{_PF_PAIR_BUDGET_PER_DOC}/doc). The input is degenerate for "
            f"prefix filtering (a near-universal shingle survived into the "
            f"prefixes); verify would run quadratic. Dedupe exact copies "
            f"first (dedup_exact) or raise _PF_PAIR_BUDGET_PER_DOC "
            f"deliberately."
        )
    # Packed sorted shingle arrays straight from the documents scan:
    # word_shingles already yields the per-doc DISTINCT array row-
    # locally, so sorting it is a map-only second scan of documents —
    # strictly cheaper than re-aggregating the exploded (doc_id, sh)
    # table (a collect_set shuffle of every shingle row), and identical
    # by construction (shingle_table is explode(word_shingles)).
    packs = fan_out(load_table(spark, "documents", sf_dir)).select(
        "doc_id",
        F.sort_array(word_shingles(F.col("text"))).alias("ss"),
    ).select("doc_id", "ss", F.size("ss").alias("n_sh"))
    pa = packs.select(
        F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"), F.col("n_sh").alias("n_a")
    )
    pbk = packs.select(
        F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"), F.col("n_sh").alias("n_b")
    )
    n_common = F.size(F.array_intersect("ss_a", "ss_b"))
    jaccard = n_common * F.lit(1.0) / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        cand.join(pa, "doc_a")
        .join(pbk, "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= _PF_T)
    )


_SOURCE_OVERLAP_ORACLE = f"""
    WITH {_MINHASH_CTES}
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
"""


@query("dedup_source_overlap_matrix", oracle=_SOURCE_OVERLAP_ORACLE)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair duplication matrix: how many near-dup pairs each
    pair of sources shares — the audit that tells a corpus owner which
    crawls/dumps are re-scraping each other (and whether a new source
    adds anything beyond what existing sources already contain).

    Pure composition over the MinHash pair graph: join each pair end
    to its source (broadcastable doc→source projection at fixture
    scale; a key equi-join at 100 TB), canonicalize the unordered pair
    with least/greatest so the matrix has one row per source pair, and
    count. Cost is O(dup pairs), not O(docs²) — the LSH candidate
    generation already did the hard part.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # One (doc_id, source) pass feeds both pair ends (checkpointed —
    # re-deriving it would re-scan documents per join side).
    src = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "source")
        .localCheckpoint(eager=False)
    )
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_dup_pairs"))
    )


_SPAN_K = 6  # words per span — long enough that sharing one is not chance
_SPAN_CAP = 20  # spans in more docs than this are boilerplate, not copying

_EXACT_SUBSTRING_ORACLE = f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), spans AS (
      SELECT DISTINCT doc_id, sp FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(ws) - {_SPAN_K - 1}, 1)),
                 i -> array_to_string(ws[i:i+{_SPAN_K - 1}], ' '))) AS sp
        FROM words
      ) raw
    ), keep AS (
      SELECT sp FROM spans GROUP BY sp
      HAVING count(*) BETWEEN 2 AND {_SPAN_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_spans
    FROM spans a JOIN keep USING (sp)
    JOIN spans b ON a.sp = b.sp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
"""


@query("dedup_exact_substring_spans", oracle=_EXACT_SUBSTRING_ORACLE)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication: doc pairs sharing a verbatim K-word
    span, with the count of distinct shared spans per pair.

    The span-level complement to whole-document dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): two
    documents can be globally dissimilar yet share a long verbatim
    quote that memorization-prone training should see once. K-word
    sliding spans (K=6 here) stand in for the suffix-array substrings
    of the paper — equi-joinable, so the whole pipeline is shuffle-
    on-span-key instead of a cross join.

    Scale design: span → doc-frequency via one map-side-combinable
    groupBy; spans in > {_SPAN_CAP} docs are dropped BEFORE the pair
    join (they are boilerplate, and each contributes O(df²) pairs —
    the cap bounds the quadratic term per span, exactly the hot-key
    guard an equi-join self-pairing needs at 100 TB). Surviving
    postings lists are ≤ {_SPAN_CAP} docs, so the pair fan-out per
    span is bounded and the shuffle carries (span, doc_id) rows only —
    document text never moves past the scan. The narrowed postings
    (spans surviving the df cap — a tiny fraction of the span stream)
    are localCheckpointed so both self-join sides read them back
    instead of re-running the explode+df-filter per side (4 documents
    scans before the round-10 audit fix; now 2: the df pass and the
    narrowing pass).
    """
    docs = fan_out(load_table(spark, "documents", sf_dir))
    spans = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), k=_SPAN_K)).alias("sp")
    )
    keep = (
        spans.groupBy("sp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df").between(2, _SPAN_CAP))
        .select("sp")
    )
    narrowed = spans.join(keep, "sp").localCheckpoint(eager=False)
    b = narrowed.select(F.col("doc_id").alias("doc_b"), F.col("sp").alias("sp_b"))
    return (
        narrowed.join(
            b, (F.col("sp") == F.col("sp_b")) & (F.col("doc_id") < F.col("doc_b"))
        )
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_spans"))
    )


_FUZZY_CONTAM_T = 0.5

_FUZZY_CONTAM_ORACLE = f"""
    WITH {_MINHASH_BANDS_CTES}, split AS (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval
      FROM documents
    ), cand AS (
      SELECT DISTINCT a.doc_id AS eval_doc, b.doc_id AS train_doc
      FROM bands a JOIN split sa ON sa.doc_id = a.doc_id AND sa.is_eval
      JOIN bands b ON a.band_id = b.band_id AND a.sig = b.sig
                  AND a.doc_id <> b.doc_id
      JOIN split sb ON sb.doc_id = b.doc_id AND NOT sb.is_eval
    ), inter AS (
      SELECT eval_doc, train_doc, count(*) AS n_common
      FROM cand
      JOIN shingles se ON se.doc_id = eval_doc
      JOIN shingles st ON st.doc_id = train_doc AND se.sh = st.sh
      GROUP BY eval_doc, train_doc
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ), near AS (
      SELECT eval_doc, train_doc,
             n_common * 1.0 / (ze.n_sh + zt.n_sh - n_common) AS j
      FROM inter
      JOIN sizes ze ON ze.doc_id = eval_doc
      JOIN sizes zt ON zt.doc_id = train_doc
      WHERE n_common * 1.0 / (ze.n_sh + zt.n_sh - n_common) >= {_FUZZY_CONTAM_T}
    )
    SELECT eval_doc,
           CAST(count(*) AS BIGINT) AS n_near_train_docs,
           CAST(max(CAST(floor(j * 1e6 + 0.5001) AS BIGINT)) AS BIGINT)
             AS max_jaccard_e6
    FROM near GROUP BY eval_doc
"""


@query("curate_fuzzy_contamination", oracle=_FUZZY_CONTAM_ORACLE)
def curate_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate train/eval decontamination: held-out docs whose
    best training-set match clears Jaccard ≥ {_FUZZY_CONTAM_T}, found
    through MinHash bands rather than exact shingle identity.

    curate_contamination (pipeline_ops.py) flags exact shared
    shingles; real leakage is usually a lightly-edited copy that
    shares FEW exact shingles per doc but high overall similarity —
    the case only fuzzy matching catches. Candidates come from the
    same banded-signature equi-join as dedup_minhash_lsh, restricted
    to eval-side × train-side (the same deterministic md5 1/16
    holdout as the hash-split primitive), then verified exactly on
    the packed shingle arrays. Scale shape is inherited: shuffle is
    O(band matches), the packed arrays never explode, and the doc
    split is a row-local hash — no join against a split table.
    """
    docs, bands = _minhash_bands(spark, sf_dir)
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    eb = bands.where(is_eval).select(
        F.col("doc_id").alias("eval_doc"), "band_id", "sig"
    )
    tb = bands.where(~is_eval).select(
        F.col("doc_id").alias("train_doc"),
        F.col("band_id").alias("band_t"),
        F.col("sig").alias("sig_t"),
    )
    cand = (
        eb.join(
            tb,
            (F.col("band_id") == F.col("band_t"))
            & (F.col("sig") == F.col("sig_t"))
            & (F.col("eval_doc") != F.col("train_doc")),
        )
        .select("eval_doc", "train_doc")
        .distinct()
    )
    de = docs.select(F.col("doc_id").alias("eval_doc"), F.col("sh_arr").alias("sh_e"))
    dt = docs.select(F.col("doc_id").alias("train_doc"), F.col("sh_arr").alias("sh_t"))
    n_common = F.size(F.array_intersect("sh_e", "sh_t"))
    j = n_common * F.lit(1.0) / (F.size("sh_e") + F.size("sh_t") - n_common)
    return (
        cand.join(de, "eval_doc")
        .join(dt, "train_doc")
        .withColumn("j", j)
        .where(F.col("j") >= _FUZZY_CONTAM_T)
        .groupBy("eval_doc")
        .agg(
            F.count("*").cast("long").alias("n_near_train_docs"),
            F.max(F.floor(F.col("j") * 1e6 + 0.5001).cast("long")).alias(
                "max_jaccard_e6"
            ),
        )
    )


_CONTAINMENT_ORACLE = f"""
    WITH {_MINHASH_BANDS_CTES}, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
    ), inter AS (
      SELECT doc_a, doc_b, count(*) AS n_common
      FROM cand
      JOIN shingles sa ON sa.doc_id = doc_a
      JOIN shingles sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
      GROUP BY doc_a, doc_b
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(za.n_sh AS BIGINT) AS n_a,
           CAST(zb.n_sh AS BIGINT) AS n_b,
           CAST(n_common * 1000000 // za.n_sh AS BIGINT) AS cont_a_e6,
           CAST(n_common * 1000000 // zb.n_sh AS BIGINT) AS cont_b_e6,
           (n_common * 10 >= 9 * least(za.n_sh, zb.n_sh)
            AND n_common * 10 < 6 * (za.n_sh + zb.n_sh - n_common))
             AS is_quote
    FROM inter
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
"""


@query("dedup_containment_quotes", oracle=_CONTAINMENT_ORACLE)
def dedup_containment_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT per candidate pair — the quote /
    inclusion detector Jaccard structurally misses.

    Jaccard |A∩B|/|A∪B| goes to zero when a short document is quoted
    verbatim inside a much longer one, even though containment
    |A∩B|/|A| is 1.0 — exactly the "boilerplate header pasted into
    every page" / "eval question embedded in a web dump" case a
    curation pipeline must catch. This emits both directed containments
    for every LSH candidate pair as exact integer e6 ratios (BIGINT
    floor division — no floats), plus an is_quote flag (one side ≥90%
    contained while the symmetric Jaccard is <60%) decided by pure
    integer cross-multiplication so both engines agree bit-for-bit.

    Scale: candidates come from the banded MinHash equi-join (shared
    with dedup_minhash_lsh — never all-pairs); the intersect runs
    row-locally on the cached packed shingle arrays. Marginal cost over
    the LSH pass is O(candidate pairs). For recall on extreme length
    skew, production pairs this with a band scheme on the SHORT side's
    signature only (containment LSH); the verification stage here is
    unchanged under either candidate generator.
    """
    docs, bands = _minhash_bands(spark, sf_dir)
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band_id").alias("band_id2"),
        F.col("sig").alias("sig2"),
    )
    cand = (
        bands.join(
            b2,
            (bands.band_id == b2.band_id2)
            & (bands.sig == b2.sig2)
            & (bands.doc_id < b2.doc_b),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("arr_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("arr_b"))
    n_common = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b"))).cast("bigint")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            F.size("arr_a").cast("bigint").alias("n_a"),
            F.size("arr_b").cast("bigint").alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("CAST(n_common * 1000000 DIV n_a AS BIGINT)").alias("cont_a_e6"),
            F.expr("CAST(n_common * 1000000 DIV n_b AS BIGINT)").alias("cont_b_e6"),
            (
                (F.col("n_common") * 10 >= 9 * F.least(F.col("n_a"), F.col("n_b")))
                & (
                    F.col("n_common") * 10
                    < 6 * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                )
            ).alias("is_quote"),
        )
    )


# ---------------------------------------------------------------------------
# LSH calibration audit (precision/recall vs exact truth) — round 6.
# ---------------------------------------------------------------------------

_LSH_CALIBRATION_ORACLE = f"""
    WITH {_MINHASH_BANDS_CTES}, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
    ), tinter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_common
      FROM shingles sa JOIN shingles sb
        ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ), truth AS (
      SELECT doc_a, doc_b
      FROM tinter
      JOIN sizes za ON za.doc_id = doc_a
      JOIN sizes zb ON zb.doc_id = doc_b
      WHERE n_common * 1.0 / (za.n_sh + zb.n_sh - n_common) >= 0.6
    ), m AS (
      SELECT (c.doc_a IS NOT NULL) AS in_cand,
             (t.doc_a IS NOT NULL) AS in_truth
      FROM cand c FULL OUTER JOIN truth t
        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(sum(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN in_cand AND NOT in_truth THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN in_truth AND NOT in_cand THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(sum(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) * 1000000
                // NULLIF(sum(CASE WHEN in_cand THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS precision_e6,
           CAST(sum(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) * 1000000
                // NULLIF(sum(CASE WHEN in_truth THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS recall_e6
    FROM m
"""


@query("dedup_lsh_calibration", oracle=_LSH_CALIBRATION_ORACLE)
def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall audit of the MinHash-LSH band configuration
    against exact ground truth — the measurement that justifies (or
    indicts) the b×r choice before anyone trusts the near-dup pass at
    scale: recall says what the bands MISS, precision says how much
    exact-verify work the candidates waste.

    Truth = the exact ≥0.6 Jaccard pair set from the prefix-filter
    join (dedup_prefix_filter_jaccard — exact AND sub-quadratic, so
    the audit itself is scale-safe); candidates = the raw banded
    signature equi-join BEFORE verification. One full outer join on
    the pair key classifies TP/FP/FN; ratios are exact integer e6
    divisions. LSH guarantees no false negatives only in expectation —
    this query prints the actual operating point of the deployed
    parameters on the actual corpus.
    """
    truth = dedup_prefix_filter_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_truth")
    )
    _, bands = _minhash_bands(spark, sf_dir)
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band_id").alias("band_id2"),
        F.col("sig").alias("sig2"),
    )
    cand = (
        bands.join(
            b2,
            (bands.band_id == b2.band_id2)
            & (bands.sig == b2.sig2)
            & (bands.doc_id < b2.doc_b),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
        .withColumn("in_cand", F.lit(1))
    )
    m = cand.join(truth, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_cand", F.lit(0)).alias("c"),
        F.coalesce("in_truth", F.lit(0)).alias("t"),
    )
    return m.agg(
        F.sum("t").cast("long").alias("n_truth"),
        F.sum("c").cast("long").alias("n_candidates"),
        F.sum(F.col("c") * F.col("t")).cast("long").alias("tp"),
        F.sum(F.col("c") * (1 - F.col("t"))).cast("long").alias("fp"),
        F.sum(F.col("t") * (1 - F.col("c"))).cast("long").alias("fn"),
    ).select(
        "n_truth",
        "n_candidates",
        "tp",
        "fp",
        "fn",
        F.expr("CAST(tp * 1000000 DIV NULLIF(n_candidates, 0) AS BIGINT)").alias(
            "precision_e6"
        ),
        F.expr("CAST(tp * 1000000 DIV NULLIF(n_truth, 0) AS BIGINT)").alias(
            "recall_e6"
        ),
    )


# ---------------------------------------------------------------------------
# LSH banding-parameter sensitivity curve — round 7.
# ---------------------------------------------------------------------------

_LSH_SENSITIVITY_ORACLE = f"""
    WITH {_MINHASH_BANDS_CTES}, cfgs AS (
      SELECT unnest([1, 2, 4, 8]) AS r
    ), bands_all AS (
      SELECT c.r, s.doc_id, s.seed // c.r AS band_id,
             string_agg(s.mh, '|' ORDER BY s.seed) AS sig
      FROM sigs s CROSS JOIN cfgs c
      GROUP BY c.r, s.doc_id, s.seed // c.r
    ), cand AS (
      SELECT DISTINCT a.r, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_all a JOIN bands_all b
        ON a.r = b.r AND a.band_id = b.band_id AND a.sig = b.sig
       AND a.doc_id < b.doc_id
    ), tinter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_common
      FROM shingles sa JOIN shingles sb
        ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ), truth AS (
      SELECT doc_a, doc_b
      FROM tinter
      JOIN sizes za ON za.doc_id = doc_a
      JOIN sizes zb ON zb.doc_id = doc_b
      WHERE n_common * 1.0 / (za.n_sh + zb.n_sh - n_common) >= 0.6
    ), truth_x AS (
      SELECT c.r, t.doc_a, t.doc_b FROM cfgs c CROSS JOIN truth t
    ), m AS (
      SELECT coalesce(c.r, t.r) AS r,
             (c.doc_a IS NOT NULL) AS in_cand,
             (t.doc_a IS NOT NULL) AS in_truth
      FROM cand c FULL OUTER JOIN truth_x t
        ON c.r = t.r AND c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT CAST({N_MINHASH} // r AS BIGINT) AS n_bands,
           CAST(r AS BIGINT) AS rows_per_band,
           CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(sum(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN in_cand AND NOT in_truth THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN in_truth AND NOT in_cand THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(sum(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) * 1000000
                // NULLIF(sum(CASE WHEN in_cand THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS precision_e6,
           CAST(sum(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) * 1000000
                // NULLIF(sum(CASE WHEN in_truth THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS recall_e6
    FROM m GROUP BY r
"""


@query("dedup_lsh_band_sensitivity", oracle=_LSH_SENSITIVITY_ORACLE)
def dedup_lsh_band_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of EVERY band layout the signature pool supports
    — the sensitivity curve behind the deployed b×r choice, extending
    dedup_lsh_calibration (one operating point) to the full trade-off
    frontier: r=1 (8 bands of 1: recall-max, precision-min) through
    r=8 (one band of 8: precision-max, recall-min).

    All four configurations slice the SAME N_MINHASH=8 signature pool
    (`_minhash_sigs` — computed once, cached), so the curve isolates
    the banding decision from signature noise: candidates per config
    come from one equi-join on (r, band_id, sig) over a 15-entry-per-
    doc exploded band table, never all-pairs; truth is the exact ≥0.6
    prefix-filter pair set (sub-quadratic), replicated over the 4
    config rows by a broadcast cross join; one full outer join on
    (r, pair) classifies TP/FP/FN per config. Ratios are exact integer
    e6 divisions.

    This is the audit a 100 TB dedup rollout runs BEFORE committing to
    a band layout: the marginal cost over one calibration point is the
    extra band-join fan-out (15/4 ≈ 4× candidate-generation work),
    bounded and shuffle-local — not a new algorithm.
    """
    truth = (
        dedup_prefix_filter_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("in_truth", F.lit(1))
    )
    _, sigs = _minhash_sigs(spark, sf_dir)
    entries = []
    for r in (1, 2, 4, 8):
        for b in range(N_MINHASH // r):
            entries.append(
                F.struct(
                    F.lit(r).alias("r"),
                    F.lit(b).alias("band_id"),
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * r + i}") for i in range(r)]
                    ).alias("sig"),
                )
            )
    bands_all = sigs.select(
        "doc_id", F.explode(F.array(*entries)).alias("bs")
    ).select("doc_id", "bs.r", "bs.band_id", "bs.sig")
    b2 = bands_all.select(
        F.col("doc_id").alias("doc_b"),
        F.col("r").alias("r2"),
        F.col("band_id").alias("band_id2"),
        F.col("sig").alias("sig2"),
    )
    cand = (
        bands_all.join(
            b2,
            (bands_all.r == b2.r2)
            & (bands_all.band_id == b2.band_id2)
            & (bands_all.sig == b2.sig2)
            & (bands_all.doc_id < b2.doc_b),
        )
        .select("r", F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
        .withColumn("in_cand", F.lit(1))
    )
    cfgs = spark.createDataFrame([(r,) for r in (1, 2, 4, 8)], "r int")
    truth_x = truth.crossJoin(F.broadcast(cfgs))
    m = cand.join(truth_x, ["r", "doc_a", "doc_b"], "full_outer").select(
        "r",
        F.coalesce("in_cand", F.lit(0)).alias("c"),
        F.coalesce("in_truth", F.lit(0)).alias("t"),
    )
    return (
        m.groupBy("r")
        .agg(
            F.sum("t").cast("long").alias("n_truth"),
            F.sum("c").cast("long").alias("n_candidates"),
            F.sum(F.col("c") * F.col("t")).cast("long").alias("tp"),
            F.sum(F.col("c") * (1 - F.col("t"))).cast("long").alias("fp"),
            F.sum(F.col("t") * (1 - F.col("c"))).cast("long").alias("fn"),
        )
        .select(
            F.expr(f"CAST({N_MINHASH} DIV r AS BIGINT)").alias("n_bands"),
            F.col("r").cast("long").alias("rows_per_band"),
            "n_truth",
            "n_candidates",
            "tp",
            "fp",
            "fn",
            F.expr(
                "CAST(tp * 1000000 DIV NULLIF(n_candidates, 0) AS BIGINT)"
            ).alias("precision_e6"),
            F.expr("CAST(tp * 1000000 DIV NULLIF(n_truth, 0) AS BIGINT)").alias(
                "recall_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Duplication rate by source — round 7.
# ---------------------------------------------------------------------------

_DUP_RATE_ORACLE = f"""
    WITH {_MINHASH_CTES}, exact AS (
      SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS copies
      FROM documents
    ), near_docs AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION
      SELECT doc_b AS doc_id FROM pairs
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN e.copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup,
           CAST(sum(CASE WHEN e.copies > 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS exact_dup_rate_e6,
           CAST(sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS near_dup_rate_e6
    FROM documents d
    JOIN exact e ON d.doc_id = e.doc_id
    LEFT JOIN near_docs nd ON d.doc_id = nd.doc_id
    GROUP BY d.source
"""


@query("dedup_rate_by_source", oracle=_DUP_RATE_ORACLE)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate dashboard per SOURCE — the number a curation
    review actually argues about ('crawl-B is 18% near-duplicate,
    stop ingesting it'): per source, the share of docs that are exact
    copies (md5 cluster size > 1) and the share touching a VERIFIED
    near-dup pair (the ≥0.6-Jaccard LSH output, not raw candidates).

    Shape: exact side is the md5 hash-groupBy (16-byte keys shuffle,
    bodies never move) re-joined by cluster size; near side reuses the
    flagship LSH pair pipeline's verified pairs, collapsed to a
    distinct endpoint set and LEFT-joined so dup-free sources still
    report zeros. Rates are exact integer e6 divisions. Per-source
    attribution of BOTH dedup families in one result — the rollup that
    decides which ingestion pipelines to fix first at 100 TB.
    """
    # One documents pass hashes the bodies (checkpointed: the cluster
    # sizing and the per-doc join both read it — text never re-scans).
    hashed = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "source", F.md5("text").alias("h"))
        .localCheckpoint(eager=False)
    )
    copies = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("copies"))
    exact = hashed.join(copies, "h")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    near_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_near", F.lit(1))
    )
    return (
        exact.join(near_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_exact_dup"),
            F.sum(F.coalesce("is_near", F.lit(0))).cast("long").alias(
                "n_near_dup"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_dup",
            F.expr("CAST(n_exact_dup * 1000000 DIV n_docs AS BIGINT)").alias(
                "exact_dup_rate_e6"
            ),
            "n_near_dup",
            F.expr("CAST(n_near_dup * 1000000 DIV n_docs AS BIGINT)").alias(
                "near_dup_rate_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Dedup savings report: cluster-size histogram + removable bytes — round 8.
# ---------------------------------------------------------------------------

DEDUP_SAVINGS_ORACLE = f"""
    WITH RECURSIVE {_MINHASH_CTES},
    uedges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, root) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM uedges) t
      UNION
      SELECT e.b, r.root FROM reach r JOIN uedges e ON e.a = r.doc
    ),
    labels AS (
      SELECT doc, min(root) AS canonical FROM reach GROUP BY doc
    ),
    cl_sizes AS (
      SELECT canonical, count(*) AS csize FROM labels GROUP BY canonical
    ),
    cl_hist AS (
      SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters
      FROM cl_sizes GROUP BY csize
    ),
    remagg AS (
      SELECT s.csize,
             CAST(count(*) AS BIGINT) AS n_removable,
             CAST(sum(d.n_chars) AS BIGINT) AS chars_removable
      FROM labels l
      JOIN cl_sizes s ON s.canonical = l.canonical
      JOIN documents d ON d.doc_id = l.doc
      WHERE l.doc <> l.canonical
      GROUP BY s.csize
    )
    SELECT CAST(h.csize AS BIGINT) AS cluster_size,
           h.n_clusters, r.n_removable, r.chars_removable
    FROM cl_hist h JOIN remagg r ON r.csize = h.csize
"""


@query("dedup_savings_by_cluster_size", oracle=DEDUP_SAVINGS_ORACLE)
def dedup_savings_by_cluster_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings forecast: for each near-dup cluster SIZE, how many
    clusters exist, how many documents a keep-one-per-cluster policy
    would remove, and how many characters (bytes, for ASCII-ish
    corpora) that removal frees — the capacity-planning number a
    storage/training-cost review asks for BEFORE anyone runs the
    actual dedup, and the size histogram is the shape diagnostic: a
    fat tail of giant clusters means boilerplate/mirroring, a mass of
    pairs means crawl-overlap.

    Built by composition of two already-verified parts: the MinHash-LSH
    pair graph (dedup_minhash_lsh — banded equi-join, never all-pairs)
    collapsed to components by shared star-contraction machinery
    (graph.star_contraction_edges, O(log n) rounds regardless of
    component diameter). The converged star edge set IS the membership
    table — one row per non-canonical member pointing at the component
    min — so removable docs need no extra pass: members join sizes —
    one row per CLUSTER, deliberately NOT broadcast-forced: cluster
    count grows with the corpus, so Catalyst broadcasts while small
    and sort-merges past the threshold — and `documents` (equi-join on
    doc_id) for char mass. The canonical-keeps policy matches
    dedup_cluster_canonical's min-id convention.

    Scale: everything after the LSH join is bounded by dup-pair count,
    not corpus size; the histogram is size-bounded. Char sums are
    int64-safe to ~9e18 total corpus characters.

    Reference parity: the reference (j0shgrant/gotsdb) has no dedup
    surface (internal/storage/types.go:3); this is [TARGET] curation
    machinery.
    """
    from gotsdb_spark.operators.graph import star_contraction_edges

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    members = star_contraction_edges(pairs)  # (u=member, v=canonical)
    sizes = members.groupBy("v").agg(
        (F.count(F.lit(1)) + F.lit(1)).alias("csize")
    )
    hist = sizes.groupBy("csize").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    remagg = (
        members.join(sizes, "v")
        .join(docs, members.u == docs.doc_id)
        .groupBy("csize")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_removable"),
            F.sum("n_chars").cast("long").alias("chars_removable"),
        )
    )
    return hist.join(remagg, "csize").select(
        F.col("csize").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_removable",
        "chars_removable",
    )
