"""Value-level parity for the gate-folded queries (gate_folded.py): the
queries consolidated OUT of the driver's graded sweep (VERDICT r03 #1) keep
the exact same Spark-vs-DuckDB compare here — same normalize, same
column/row/value equality the driver hash-checks.

Also asserts the graded sweep's contract: ≤68 entries, ≥64 oracled, no
overlap with the folded registry, rows-only tail last.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from buildlogparser_spark import gate_folded
from buildlogparser_spark.operators import similarity as sim
from conftest import SF_SMOKE, assert_frames_match, duck_df

FOLDED_NAMES = sorted(gate_folded.queries().keys())


def test_graded_sweep_contract():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    # 68: the 68-entry round-5 registry (61 + the final-session additions
    # preference_pairs/semantic_decontaminate/corpus_drift/weighted_sample,
    # 65 oracled) — at the cap; every addition must keep its oracle
    # ≤~1 s at sf0.01 (the ENOMEM-exposure budget)
    assert len(q) <= 68, f"graded sweep has {len(q)} entries (> 68)"
    assert len(o) >= 64, f"only {len(o)} oracled entries (< 64)"
    assert set(o) <= set(q)
    # folded and graded registries are disjoint — a query lives in exactly one
    assert not set(q) & set(gate_folded.queries())
    # rows-only entries come after every oracled entry (dict order is the
    # sweep order; Python dicts preserve insertion order)
    names = list(q)
    oracled_idx = [i for i, n in enumerate(names) if n in o]
    rows_only_idx = [i for i, n in enumerate(names) if n not in o]
    assert not rows_only_idx or max(oracled_idx) < min(rows_only_idx)


def test_folded_registry_shape():
    q = set(gate_folded.queries())
    o = set(gate_folded.oracle_sql())
    assert o <= q, f"folded oracle without query: {o - q}"


def test_ivf_topk_auto_oracle_literal(spark):
    """The ivf_topk_auto oracle hard-codes the corpus-scaled list count;
    it must be the count the Spark path derives for the same fixture."""
    emb = gate_folded._emb(spark, SF_SMOKE)
    assert gate_folded.IVF_AUTO_CENTROIDS_SMOKE == sim._auto_n_centroids(emb)


@pytest.mark.parametrize("name", FOLDED_NAMES)
def test_folded_query_parity(spark, duck_smoke, name):
    q = gate_folded.queries()[name]
    sql = gate_folded.oracle_sql().get(name)
    spark_df = q(spark, SF_SMOKE)
    if sql is None:
        # folded rows-only: sketches / engine-specific formats — accuracy
        # and contract tests live in their own modules; here prove the
        # query still runs non-empty with a stable schema after the fold
        rows = spark_df.collect()
        assert len(spark_df.columns) > 0
        assert len(rows) > 0, f"{name}: folded rows-only query went empty"
        return
    assert_frames_match(spark_df, duck_df(duck_smoke, sql), name)
