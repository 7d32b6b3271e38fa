"""Tier-3b: approximate-operator quality gates (SURVEY.md §2.10) —
the approximate scale paths graded against their exact ground truths.
"""

from __future__ import annotations

from tests.conftest import SF_SMALL


def _pairs(df, cols=("doc_a", "doc_b")):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_minhash_recall_and_precision(spark, registry):
    exact = _pairs(registry["dedup_near_shingle"].builder(spark, SF_SMALL))
    approx = _pairs(registry["dedup_near_minhash"].builder(spark, SF_SMALL))
    assert approx <= exact or not exact, (
        "verification step must kill false positives"
    )
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.7, f"MinHash recall {recall:.2f} below bound"


def test_lsh_ann_recall(spark, registry):
    exact = _pairs(
        registry["sim_knn_bruteforce"]
        .builder(spark, SF_SMALL)
        .filter("neighbor_id != query_id"),
        ("query_id", "neighbor_id"),
    )
    approx = _pairs(
        registry["sim_ann_lsh"].builder(spark, SF_SMALL),
        ("query_id", "neighbor_id"),
    )
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"LSH ANN recall {recall:.2f} below bound"


def test_block_matmul_matches_bruteforce(spark, registry):
    """The GEMM tier must find the same neighbor sets; its exact
    2^-40-unit integer scores must agree with the float cosine to the
    quantization bound (r6: the tier is oracle-hashed, so this test
    now pins the QUANTIZED tier against the float tier, not fp noise).
    """
    from shared_solar_data_warehouse_spark.operators.similarity import (
        _GEMM_QSCALE,
    )

    brute = registry["sim_knn_bruteforce"].builder(spark, SF_SMALL).collect()
    block = registry["sim_knn_block_matmul"].builder(spark, SF_SMALL).collect()
    b_pairs = {(r["query_id"], r["neighbor_id"]) for r in brute}
    m_pairs = {(r["query_id"], r["neighbor_id"]) for r in block}
    overlap = len(b_pairs & m_pairs) / len(b_pairs)
    assert overlap >= 0.95, f"block-matmul kNN overlap {overlap:.2f}"
    unit = float(_GEMM_QSCALE) ** 2
    b_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in brute}
    for r in block:
        key = (r["query_id"], r["neighbor_id"])
        if key in b_scores:
            assert abs(r["dot_units"] / unit - b_scores[key]) < 1e-4


def test_approx_count_distinct_bound(spark, registry):
    rows = registry["agg_approx_distinct"].builder(spark, SF_SMALL).collect()
    assert rows and all(r["approx_within_5pct"] for r in rows)


def test_ivf_ann_recall_and_self_hit(spark, registry):
    """IVF probes 4/16 cells; the query's own cell is always probed
    (its nearest centroid), so self@rank-1 must survive; overall
    recall vs exact kNN must clear the nprobe trade-off bound."""
    rows = registry["sim_ann_ivf"].builder(spark, SF_SMALL).collect()
    self_hits = {r["query_id"] for r in rows if r["neighbor_id"] == r["query_id"]}
    assert len(self_hits) == len({r["query_id"] for r in rows})
    exact = _pairs(
        registry["sim_knn_bruteforce"].builder(spark, SF_SMALL),
        ("query_id", "neighbor_id"),
    )
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below bound"


def test_simhash_symmetric_and_bounded(spark, registry):
    rows = registry["dedup_simhash"].builder(spark, SF_SMALL).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= 3


def test_near_embedding_is_distributed_no_driver_collect(spark, registry):
    """Scale guard (VERDICT r01 item 5): the exact near-dup pass must
    not collect the corpus to the driver — candidates come from a
    grouped block-pair GEMM (FlatMapGroupsInPandas in the plan)."""
    import inspect

    src = inspect.getsource(registry["dedup_near_embedding"].builder)
    assert ".collect()" not in src, "corpus collect reintroduced"
    df = registry["dedup_near_embedding"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_cluster_distributed_regime_matches_union_find(
    spark, registry, monkeypatch, tmp_path
):
    """The >2M-edge distributed min-label-propagation fallback of
    dedup_cluster must produce the identical labeling as the driver
    union-find fast path (it is otherwise only reachable at corpus
    scales tests never build).  Each regime runs on its own copy of
    the snapshot, so the memoized label map of one cannot mask the
    other."""
    import shutil

    from shared_solar_data_warehouse_spark.operators import dedup

    fast_sf, dist_sf = (str(tmp_path / n) for n in ("fast", "dist"))
    for sf in (fast_sf, dist_sf):
        shutil.copytree(SF_SMALL, sf, copy_function=shutil.copyfile)
    fast = registry["dedup_cluster"].builder(spark, fast_sf).collect()
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", -1)
    dist = registry["dedup_cluster"].builder(spark, dist_sf).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, dist))
