"""functions/batching.py: the sorted-group walk behind the KLL, LSH-pair
and kNN mapInPandas kernels — pure-helper properties (group bounds,
complete-group chunks, null and NaN keys) plus end-to-end equality
checks that force multi-batch partitions so the carry path runs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from reactor_window_like_flink_spark.functions.batching import (
    complete_group_chunks,
    group_bounds,
)


def _frame(keys, start=0):
    return pd.DataFrame(
        {
            "band": [k[0] for k in keys],
            "bucket": [k[1] for k in keys],
            "payload": range(start, start + len(keys)),
        }
    )


def test_group_bounds_multi_column():
    pdf = _frame([(1, 1), (1, 1), (1, 2), (2, 2), (2, 2)])
    assert list(group_bounds(pdf, ("band", "bucket"))) == [0, 2, 3, 5]
    # single group == whole frame
    assert list(group_bounds(_frame([(1, 1)] * 4), ("band", "bucket"))) == [0, 4]
    # bucket alone can't split (1,2) from (2,2) — both columns must count
    assert list(group_bounds(pdf, ("bucket",))) == [0, 2, 5]
    assert list(group_bounds(_frame([]), ("band", "bucket"))) == [0]


def test_group_bounds_null_and_nan_keys_are_one_group():
    pdf = pd.DataFrame(
        {
            "s": [None, None, "a", "a", None],
            "x": [np.nan, np.nan, np.nan, 1.0, 1.0],
            "t": pd.to_datetime([None, None, None, None, "2024-01-01"]),
        }
    )
    assert list(group_bounds(pdf, ("s",))) == [0, 2, 4, 5]
    assert list(group_bounds(pdf, ("x",))) == [0, 3, 5]
    assert list(group_bounds(pdf, ("t",))) == [0, 4, 5]
    assert list(group_bounds(pdf, ("s", "x", "t"))) == [0, 2, 3, 4, 5]


def test_null_and_nan_groups_are_held_back_whole():
    # Spark sorts nulls first and NaN last; a null or NaN group that
    # straddles batches must still land whole in one chunk
    keys = [(None, 0.0)] * 3 + [("a", 1.0)] * 2 + [("a", np.nan)] * 4
    full = pd.DataFrame(
        {
            "band": [k[0] for k in keys],
            "bucket": [k[1] for k in keys],
            "payload": range(len(keys)),
        }
    )
    batches = [full.iloc[0:2], full.iloc[2:6], full.iloc[6:8], full.iloc[8:9]]
    chunks = list(complete_group_chunks(iter(batches), ("band", "bucket")))
    groups = [
        tuple(g["payload"])
        for ch in chunks
        for _, g in ch.groupby(["band", "bucket"], dropna=False, sort=False)
    ]
    assert groups == [(0, 1, 2), (3, 4), (5, 6, 7, 8)]


def test_chunks_hold_complete_groups_and_preserve_order():
    # groups: A=5 rows, B=3, C=4, D=2 — sliced into uneven batches so B
    # straddles one boundary and C straddles two
    keys = [(0, 0)] * 5 + [(0, 1)] * 3 + [(1, 0)] * 4 + [(1, 1)] * 2
    full = _frame(keys)
    batches = [full.iloc[0:6], full.iloc[6:7], full.iloc[7:9], full.iloc[9:14]]
    chunks = list(complete_group_chunks(iter(batches), ("band", "bucket")))
    # every group lands whole in exactly one chunk
    seen = {}
    for i, ch in enumerate(chunks):
        for key, grp in ch.groupby(["band", "bucket"], sort=False):
            assert key not in seen, f"group {key} split across chunks"
            seen[key] = grp
    assert set(seen) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    # in-group row order preserved (carry rows precede the next batch's)
    out = pd.concat(chunks, ignore_index=True)
    assert list(out["payload"]) == list(range(14))


def test_empty_and_single_group_streams():
    assert list(complete_group_chunks(iter([]), ("band", "bucket"))) == []
    empty = _frame([])
    assert (
        list(complete_group_chunks(iter([empty]), ("band", "bucket"))) == []
    )
    # one group spanning every batch -> exactly one flushed chunk
    full = _frame([(7, 7)] * 9)
    chunks = list(
        complete_group_chunks(
            iter([full.iloc[0:4], full.iloc[4:8], full.iloc[8:9]]),
            ("band", "bucket"),
        )
    )
    assert len(chunks) == 1 and len(chunks[0]) == 9


def _lsh_pairs(spark, sf_dir):
    from reactor_window_like_flink_spark.llm.dedup import (
        EMB_LSH_BANDS,
        EMB_LSH_BITS,
        lsh_cosine_pairs_fast,
    )

    return lsh_cosine_pairs_fast(
        spark, sf_dir, bands=EMB_LSH_BANDS, bits=EMB_LSH_BITS
    )


def _knn(spark, sf_dir):
    from reactor_window_like_flink_spark.llm.similarity import (
        KNN_LSH_BANDS,
        KNN_LSH_BITS,
        knn_graph,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return knn_graph(emb, bands=KNN_LSH_BANDS, bits=KNN_LSH_BITS)


@pytest.mark.parametrize(
    "build, max_records",
    [
        pytest.param(_lsh_pairs, 7, id="7"),
        pytest.param(_lsh_pairs, 64, id="64"),
        pytest.param(_knn, 7, id="knn-7"),
        pytest.param(_knn, 64, id="knn-64"),
    ],
)
def test_lsh_kernel_equal_under_tiny_arrow_batches(
    spark, sf_dir, build, max_records
):
    """Force multi-batch partitions (maxRecordsPerBatch far below group
    sizes) and assert the LSH pair and kNN kernels emit identical rows —
    the carry path is exercised on real data. Each side builds its own
    DataFrame: a collected one keeps the batch size it was planned with."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    baseline = sorted(tuple(r) for r in build(spark, sf_dir).collect())
    try:
        spark.conf.set(key, str(max_records))
        tiny = sorted(tuple(r) for r in build(spark, sf_dir).collect())
    finally:
        spark.conf.set(key, old)
    assert len(baseline) > 0
    assert tiny == baseline


def test_kll_sketches_equal_under_tiny_arrow_batches(spark, sf_dir):
    """Same forcing for the KLL daily-sketch builder: insertion order is
    the contract (compaction schedule), so carry-order bugs would change
    sketch levels, not just row order."""
    from reactor_window_like_flink_spark.operators.sketches import (
        daily_kll_sketches,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    events = load(spark, sf_dir, "events")
    df = daily_kll_sketches(events)

    def canon(rows):
        return sorted(
            (
                r["event_type"],
                r["day"],
                r["n"],
                tuple(tuple(lvl) for lvl in r["levels"]),
                tuple(r["coins"]),
            )
            for r in rows
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    baseline = canon(df.collect())
    try:
        spark.conf.set(key, "53")
        tiny = canon(df.collect())
    finally:
        spark.conf.set(key, old)
    assert len(baseline) > 0
    assert tiny == baseline
