"""Unit coverage for bench.py's generated benchmark corpora.

The ANN-recall x10 corpus (round-9 verdict #1) is the one upscale whose
VALUES carry a quality gate — recall floors are calibrated against its
jittered replicas — so its generation contract is pinned here:
deterministic bytes across regenerations, base rows (replica 0) exactly
equal to the source corpus, and replicas genuinely perturbed into the
wide-angle band the floors were measured on.
"""

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ensure_recall_dir  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def recall_dir(tmp_path_factory):
    # pin BOTH generated-dir env vars to tmp: ensure_recall_dir calls
    # ensure_deep_dir for the non-embeddings tables, and letting that
    # fall through to the shared $TMPDIR cache would clobber the bench's
    # sf0.1 upscale with this test's sf0.001 one (cache keys differ)
    d = str(tmp_path_factory.mktemp("recall"))
    deep = str(tmp_path_factory.mktemp("deep"))
    os.environ["SPARK_GRAFT_RECALL_DIR"] = d
    os.environ["SPARK_GRAFT_DEEP_DIR"] = deep
    try:
        yield ensure_recall_dir(SF_DIR)
    finally:
        del os.environ["SPARK_GRAFT_RECALL_DIR"]
        del os.environ["SPARK_GRAFT_DEEP_DIR"]


def _vecs(path):
    import duckdb

    return {
        int(r[0]): np.array(r[1], dtype=np.float64)
        for r in duckdb.sql(
            f"SELECT vec_id, embedding FROM '{path}'"
        ).fetchall()
    }


def test_recall_corpus_contract(recall_dir, tmp_path):
    base = _vecs(os.path.join(SF_DIR, "embeddings.parquet"))
    up = _vecs(os.path.join(recall_dir, "embeddings.parquet"))
    assert len(up) == 10 * len(base)
    # replica 0 is the base corpus, bit-exact
    for vid, v in list(base.items())[:50]:
        assert np.array_equal(up[vid], v), vid
    # replicas 1..9 are genuinely perturbed, into the wide-angle band
    # the round-9 floors were measured on (cos ~0.6-0.75), never exact
    cosines = []
    for vid, v in list(base.items())[:50]:
        for r in (1, 5, 9):
            w = up[vid + r * 1000000]
            assert not np.array_equal(w, v), (vid, r)
            cosines.append(
                float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
            )
    mean_cos = float(np.mean(cosines))
    assert 0.55 <= mean_cos <= 0.8, mean_cos
    # deterministic regeneration: same bytes whatever tmp dir it lands in
    d2 = str(tmp_path / "again")
    os.environ["SPARK_GRAFT_RECALL_DIR"] = d2
    try:
        again = ensure_recall_dir(SF_DIR)
    finally:
        os.environ["SPARK_GRAFT_RECALL_DIR"] = recall_dir
    up2 = _vecs(os.path.join(again, "embeddings.parquet"))
    for vid in list(up)[:200]:
        assert np.array_equal(up[vid], up2[vid]), vid


def test_recall_floors_match_bench_legs():
    """Every floor key must be a real registered query and both legs
    must gate the same query set — a renamed query must not silently
    drop out of the recall gate."""
    from bench import ANN_RECALL_FLOORS
    from streamprocess_spark.plans.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    assert set(ANN_RECALL_FLOORS) == {"sf", "deep"}
    assert set(ANN_RECALL_FLOORS["sf"]) == set(ANN_RECALL_FLOORS["deep"])
    for name in ANN_RECALL_FLOORS["sf"]:
        assert name in QUERIES, name
    assert "q48_embedding_topk" in QUERIES


def test_compact_tail_line_is_small_enough():
    """The final stdout line must always fit the 2000-char archived
    tail. Build a worst-case FULL result (every section present, the
    real bench query registry, widest realistic figures, a heavily
    flagged gate) and pass it through bench._compact, so growth in the
    real tail code fails here."""
    from streamprocess_spark.plans.registry import QUERIES, _ensure_loaded

    from bench import (
        _FLAGSHIP_LEGS,
        ANN_RECALL_FLOORS,
        SOAK_QUERIES,
        _compact,
    )

    _ensure_loaded()
    bench_names = [n for n, s in QUERIES.items() if s.bench]

    # worst-case realistic widths: per-query timings are gate-bounded
    # far below 100 s; flagship runs below 1000 s; flagship-leg
    # micro-batch counts are delivery passes (observed 1-2; 3 digits is
    # already x500 headroom), the streaming replay's below 10k (200 ms
    # triggers x 300 s timeout)
    def leg():
        return {"streams": 1000, "input_chunks": 9999999,
                "segments": 999999, "expected_segments": 999999,
                "value": 999.9999, "chunks_per_sec": 99999.9,
                "runs": [999.99, 999.99], "nb": [999, 999]}

    flagship = leg()
    for name in _FLAGSHIP_LEGS:
        flagship[name] = leg()
    result = {
        "metric": "headline_queries_total_runtime",
        "value": 9999.9999,
        "unit": "sec",
        "timing_action": "noop_write",
        "queries": {n: 99.9999 for n in bench_names},
        "sf": 0.001,
        "deep": {"factor": 10, "value": 999.9999,
                 "queries": {n: 99.9999 for n in bench_names}},
        "ann_recall": {
            leg_: {q: {"recall_at_5": 0.9999, "floor": 0.99}
                   for q in floors}
            for leg_, floors in ANN_RECALL_FLOORS.items()},
        "curation": {"n_docs": 9999999, "cells": 99,
                     "admitted_docs": 9999999, "value": 999.9999,
                     "docs_per_sec": 99999.9, "verified": True},
        "flagship": flagship,
        "soak": {"factor_lo": 10, "factor_hi": 100, "max_ratio": 15.0,
                 "queries": {q: {"lo_sec": 999.9999, "hi_sec": 999.9999,
                                 "rows_hi": 9999999, "ratio": 123.45,
                                 "cc_rounds": [99, 99, 99, 99]}
                             for q in SOAK_QUERIES}},
        "streaming": {"input_rows": 9999999, "output_rows": 999999,
                      "value": 999.9999, "rows_per_sec": 999999.9,
                      "runs": [999.99, 999.99], "nb": [9999, 9999]},
        "regression_gate": {
            "flagged": {f"deep:q{i}_some_flagged_query": {}
                        for i in range(99)},
            "retried": {}},
    }
    compact = _compact(result)
    assert set(_FLAGSHIP_LEGS) <= set(compact["flagship"])
    assert compact["n_flagged"] == 99
    assert len(json.dumps(compact)) < 1900, len(json.dumps(compact))
