"""Content-addressed snapshot semantics of buildlogparser_spark.materialize —
the flat-memory substitute for .cache() on graded paths."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from buildlogparser_spark import materialize as M
from buildlogparser_spark.operators import dedup as dd
from buildlogparser_spark.operators import similarity as sim
from conftest import SF_SMOKE


def _derived(spark):
    return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_reusable_snapshot_memoizes_same_derivation(spark):
    a = M.materialize(_derived(spark), reuse=True)
    n_dirs, hits = len(M._ALL_DIRS), M.STATS["hits"]
    # an independently built frame with the same derivation is a hit
    b = M.materialize(_derived(spark), reuse=True)
    assert len(M._ALL_DIRS) == n_dirs
    assert M.STATS["hits"] == hits + 1
    assert a.inputFiles() == b.inputFiles()
    assert a.count() == b.count() == 100
    # a different literal is a different snapshot
    M.materialize(_derived(spark).withColumn("v", F.col("v") + 1), reuse=True)
    assert len(M._ALL_DIRS) == n_dirs + 1
    # one-shot snapshots always write a fresh dir
    M.materialize(_derived(spark))
    M.materialize(_derived(spark))
    assert len(M._ALL_DIRS) == n_dirs + 3


def test_snapshot_roundtrip_preserves_data(spark):
    df = spark.range(50).select(
        F.col("id"), F.concat(F.lit("x"), F.col("id").cast("string")).alias("s"))
    back = M.materialize(df, reuse=True)
    assert sorted((r.id, r.s) for r in back.collect()) == \
        sorted((r.id, r.s) for r in df.collect())


def test_stale_app_entries_evicted(spark, tmp_path):
    df = spark.range(10)
    M.materialize(df, reuse=True)
    app = spark.sparkContext.applicationId
    # simulate a snapshot left by a previous Spark session (own dir — the
    # eviction rmtree must not touch live entries)
    stale_dir = str(tmp_path / "stale-snap")
    df.write.parquet(stale_dir)
    M._MEMO[("app-stale", 0, ())] = [(df, stale_dir)]
    M.materialize(spark.range(11), reuse=True)
    assert not [k for k in M._MEMO if k[0] != app]
    assert not os.path.exists(stale_dir)  # evicted snapshot dir removed
    hits = M.STATS["hits"]
    assert M.materialize(df, reuse=True).count() == 10  # live entry intact
    assert M.STATS["hits"] == hits + 1


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fresh(compute):
    """``compute()`` with an empty memo: every snapshot it takes is new."""
    saved = dict(M._MEMO)
    M._MEMO.clear()
    try:
        return _rows(compute())
    finally:
        M._MEMO.clear()
        M._MEMO.update(saved)


def test_different_frames_never_share_ivf_snapshots(spark):
    """Two different embeddings tables through ivf_topk then semantic_dedup
    in one session: each result equals its own fresh computation, and the
    second operator over a table reuses the first one's snapshots."""
    qids = [1, 2, 3, 4, 5]
    full = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    frames = [full, full.filter(F.col("vec_id") % 3 != 0)]
    got = []
    for emb in frames:
        topk = _rows(sim.ivf_topk(emb, qids, 5))
        hits = M.STATS["hits"]
        dedup = _rows(sim.semantic_dedup(emb))
        assert M.STATS["hits"] > hits  # shared k-means + assignment
        got.append((topk, dedup))
    assert got[0] != got[1]
    for emb, (topk, dedup) in zip(frames, got):
        assert topk == _fresh(lambda: sim.ivf_topk(emb, qids, 5))
        assert dedup == _fresh(lambda: sim.semantic_dedup(emb))


def test_overwritten_input_is_not_served_stale(spark, tmp_path):
    """Overwriting a parquet path in place keeps the semantic hash but
    changes the input files: the second call sees the new documents."""
    path = str(tmp_path / "docs.parquet")
    dup = "the quick brown fox jumps over the lazy dog"

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.mode("overwrite").parquet(path)

    def candidates():
        return {(r.doc_a, r.doc_b) for r in
                dd.lsh_candidates(spark.read.parquet(path)).collect()}

    write([(1, dup), (2, dup), (3, "completely unrelated words sit here now")])
    assert candidates() == {(1, 2)}
    write([(1, "another unrelated sentence with its own words"),
           (3, dup), (4, dup)])
    assert candidates() == {(3, 4)}
