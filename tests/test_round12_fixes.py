"""Regression pins for the round-12 sf1 findings and fixes.

The sf1 rehearsal's 10x key-shifted copies exposed two determinism
defects (PERF.md round-12 notes): float-summed ADC rank keys tied
duplicate neighbors on association-order noise, and the IVF-assign
oracle's float self-equality join dropped rows. These tests pin the
fixed behavior on purpose-built DUPLICATE-heavy inputs so the defect
class cannot silently return at sf0.001 test cost."""

from __future__ import annotations

import datetime
import math
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from gotsdb_spark.operators.registry import QUERIES
from gotsdb_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


@contextmanager
def _patched(module, frame_by_table):
    orig = module.load_table

    def fake(spark_, name, sf_dir):
        return frame_by_table[name]

    module.load_table = fake
    try:
        yield
    finally:
        module.load_table = orig


def test_pq_adc_ranks_duplicate_vectors_deterministically(spark):
    """Exact duplicate vectors (the sf1 copy shape) must produce
    EXACTLY equal integer ADC distances and rank in vec_id order —
    the fixed contract; the pre-fix float rank keys broke this tie by
    association-order noise."""
    from gotsdb_spark.operators import similarity

    # 24 base vectors, each duplicated once at vec_id + 100 (same
    # embedding), 64 dims; queries are vec_id < 8.
    import random

    rng = random.Random(7)
    rows = []
    for vid in range(24):
        e = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
        rows.append((vid, vid % 10, e))
        rows.append((vid + 100, vid % 10, e))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    )
    with _patched(similarity, {"embeddings": emb}):
        out = QUERIES["ann_pq_adc_topk"](spark, SF).collect()
    by_q = defaultdict(list)
    for r in out:
        by_q[r["q_id"]].append(r)
    assert set(by_q) == set(range(8))
    dup_pair_seen = 0
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank_adc"])
        # ranks are 1..5 with strictly increasing (adc_d2, neighbor_id)
        assert [r["rank_adc"] for r in rs] == list(range(1, 6))
        keys = [(r["adc_d2"], r["neighbor_id"]) for r in rs]
        assert keys == sorted(keys)
        # a duplicate of the query itself (same embedding at q+100) has
        # ADC distance equal to the query's own self-LUT sum and, being
        # an exact tie class, must appear deterministically
        for a, b in zip(rs, rs[1:]):
            if a["adc_d2"] == b["adc_d2"]:
                dup_pair_seen += 1
                assert a["neighbor_id"] < b["neighbor_id"]
    # the duplicated corpus must actually exercise the tie path
    assert dup_pair_seen > 0


def test_ivf_assign_handles_duplicate_vectors(spark):
    """Every vector gets exactly one assignment row even when the
    corpus is duplicate-heavy — the pre-fix oracle dropped rows
    through its float min-equality join; the Spark side must emit one
    row per vec_id with the smallest-label argmin on the e6 grid."""
    from gotsdb_spark.operators import advanced

    import random

    rng = random.Random(11)
    rows = []
    for vid in range(30):
        e = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
        rows.append((vid, vid % 5, e))
        rows.append((vid + 1000, vid % 5, e))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    )
    with _patched(advanced, {"embeddings": emb}):
        out = QUERIES["ann_ivf_assign"](spark, SF).collect()
    assert len(out) == 60
    assigned = {r["vec_id"]: r["assigned_label"] for r in out}
    # duplicates must be assigned identically: same vector, same e6
    # grid, same argmin
    for vid in range(30):
        assert assigned[vid] == assigned[vid + 1000]


def test_eviction_audit_ledger_is_executor_side():
    """Structure pin (the streaming_ab_conversion_live convention):
    the foreachBatch sink must append emitted sessions to a parquet
    ledger executor-side; the ONLY driver-side collect is the distinct
    batch-id projection, bounded by the wave count, and the readout
    loads back from the parquet store."""
    import inspect

    from gotsdb_spark.operators import integration

    src = inspect.getsource(integration.streaming_session_eviction_audit)
    sink = src.split("def ledger", 1)[1].split("_replay(", 1)[0]
    assert ".collect()" not in sink, "the sink must never collect rows"
    assert ".parquet(store)" in sink
    collects = [
        ln for ln in src.splitlines() if ".collect()" in ln
    ]
    # exactly one collect in the whole query: the distinct batch ids
    assert len(collects) == 1 and "distinct" in collects[0]
    assert "spark.read.parquet(store)" in src
