"""Served IVF-PQ: knn_ivf_pq over a prebuilt index that fits
RESIDENT_INDEX_BYTES answers from a driver-resident copy of the index.
Its rows must equal the distributed plan's row for row on (qid, nid,
cosine, rank); the distributed plan is forced by setting the constant
to 0. Declines (over the cap, null or duplicate ids) keep the
distributed plan, and a replaced codes frame or a new corpus frame
refills the copy."""

from __future__ import annotations

import gc
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pytest

import pyspark.sql.functions as F

from raft_spark.operators import similarity as SIM

N, D = 500, 16


def _frame(spark, ids, X):
    return spark.createDataFrame(pa.table({
        "id": pa.array(np.asarray(ids, dtype=np.int64)),
        "features": pa.array(list(X)),
    }))


@pytest.fixture(scope="module")
def ann(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, (6, D))
    X = centers[rng.integers(0, 6, N)] + 0.3 * rng.normal(size=(N, D))
    corpus = _frame(spark, np.arange(N), X).localCheckpoint(eager=True)
    idx = SIM.build_ivf_pq_index(corpus, n_lists=8, m_subspaces=4,
                                 n_codes=16, kmeans_iters=2)
    idx["codes"] = idx["codes"].localCheckpoint(eager=True)
    # half the queries are corpus rows (self-match exclusion), half new
    Qv = np.vstack([X[:6], centers + 0.3 * rng.normal(size=(6, D))])
    queries = _frame(spark, np.r_[np.arange(6), 1000 + np.arange(6)], Qv)
    return corpus, queries, idx, X


def _rows(df):
    return sorted(tuple(r) for r in
                  df.select("qid", "nid", "cosine", "rank").collect())


def _cap(mp, nbytes):
    """Set the resident cap, with an empty cache so no entry decided
    under another cap is hit (both are restored with ``mp``)."""
    mp.setattr(SIM, "RESIDENT_INDEX_BYTES", nbytes)
    mp.setattr(SIM, "_RESIDENT", SIM._ResidentFrames())


def _distributed(monkeypatch, corpus, queries, idx, **kw):
    with monkeypatch.context() as mp:
        _cap(mp, 0)
        out = SIM.knn_ivf_pq(corpus, queries, index=idx, **kw)
        assert not SIM._plan_is_local_relation(out)
        return _rows(out)


def _served_equals_distributed(monkeypatch, corpus, queries, idx, **kw):
    kw = {"k": 5, "n_probe": 2, **kw}
    got = SIM.knn_ivf_pq(corpus, queries, index=idx, **kw)
    assert SIM._plan_is_local_relation(got)
    rows = _rows(got)
    assert rows == _distributed(monkeypatch, corpus, queries, idx, **kw)
    return rows


def test_unfiltered_matches_distributed(spark, ann, monkeypatch):
    corpus, queries, idx, _ = ann
    SIM.knn_ivf_pq(corpus, queries, k=5, n_probe=2, index=idx)  # fill
    # a warm batch against the same frames collects nothing
    calls = []
    with monkeypatch.context() as mp:
        real = type(corpus).toArrow
        mp.setattr(type(corpus), "toArrow",
                   lambda self: calls.append(1) or real(self))
        warm = SIM.knn_ivf_pq(corpus, queries, k=5, n_probe=2, index=idx)
    assert calls == [] and SIM._plan_is_local_relation(warm)
    rows = _served_equals_distributed(monkeypatch, corpus, queries, idx)
    assert rows == _rows(warm)
    assert len(rows) == 12 * 5
    assert all(q != n for q, n, _, _ in rows)


@pytest.mark.parametrize("mode", ["allow", "deny"])
def test_filtered_matches_distributed(spark, ann, monkeypatch, mode):
    corpus, queries, idx, _ = ann
    # even ids plus a null: the null matches nothing in either join
    fids = spark.createDataFrame(pa.table({
        "fid": pa.array(list(range(0, N, 2)) + [None], pa.int64())}))
    rows = _served_equals_distributed(monkeypatch, corpus, queries, idx,
                                      filter_ids=fids, filter_mode=mode)
    assert rows and all((n % 2 == 0) == (mode == "allow") for _, n, _, _ in rows)


def test_full_probe_matches_distributed(spark, ann, monkeypatch):
    corpus, queries, idx, _ = ann
    _served_equals_distributed(monkeypatch, corpus, queries, idx,
                               n_probe=8, refine_factor=2)


def test_read_index_copy_matches(spark, ann, monkeypatch, tmp_path):
    corpus, queries, idx, _ = ann
    p = str(tmp_path / "ivf_pq")
    SIM.write_ivf_pq_index(idx, p)
    loaded = SIM.read_ivf_pq_index(spark, p)
    rows = _served_equals_distributed(monkeypatch, corpus, queries, loaded)
    assert rows == _rows(SIM.knn_ivf_pq(corpus, queries, k=5, n_probe=2,
                                        index=idx))


def test_declines_null_and_duplicate_ids(spark, ann):
    corpus, queries, idx, X = ann
    codes = idx["codes"]
    null_row = spark.createDataFrame(
        [(None, [0, 0, 0, 0], 0)], "id long, codes array<int>, list_id int")
    bad_codes = [codes.unionByName(codes.limit(1)),
                 codes.unionByName(null_row)]
    for c in bad_codes:
        out = SIM.knn_ivf_pq(corpus, queries, k=5, n_probe=2,
                             index=dict(idx, codes=c))
        assert not SIM._plan_is_local_relation(out)
        out.collect()
    dup_corpus = corpus.unionByName(_frame(spark, [3], X[3:4]))
    out = SIM.knn_ivf_pq(dup_corpus, queries, k=5, n_probe=2, index=idx)
    assert not SIM._plan_is_local_relation(out)


def test_declines_over_cap_without_collecting(spark, ann, monkeypatch):
    corpus, queries, idx, _ = ann
    calls = {"toArrow": 0, "count": 0}
    cls = type(corpus)
    real_arrow, real_count = cls.toArrow, cls.count

    def arrow(self):
        calls["toArrow"] += 1
        return real_arrow(self)

    def count(self):
        calls["count"] += 1
        return real_count(self)

    with monkeypatch.context() as mp:
        _cap(mp, 4096)  # a few rows
        mp.setattr(cls, "toArrow", arrow)
        mp.setattr(cls, "count", count)
        first = SIM.knn_ivf_pq(corpus, queries, k=5, n_probe=2, index=idx)
        assert calls == {"toArrow": 0, "count": 1}  # the codes probe only
        again = SIM.knn_ivf_pq(corpus, queries, k=5, n_probe=2, index=idx)
        assert calls == {"toArrow": 0, "count": 1}  # decline is cached
        assert not SIM._plan_is_local_relation(first)
        assert not SIM._plan_is_local_relation(again)
    assert _rows(first) == _distributed(monkeypatch, corpus, queries, idx,
                                        k=5, n_probe=2)


def test_refills_on_new_codes_or_corpus(spark, ann, monkeypatch):
    corpus, queries, idx, X = ann
    idx = dict(idx)
    before = _served_equals_distributed(monkeypatch, corpus, queries, idx)
    idx["codes"] = idx["codes"].filter(F.col("id") % 3 != 0) \
        .localCheckpoint(eager=True)
    after = _served_equals_distributed(monkeypatch, corpus, queries, idx)
    assert after != before and all(n % 3 != 0 for _, n, _, _ in after)
    # same ids, new vectors: the refine cosines must follow the new frame
    moved = _frame(spark, np.arange(N), X[::-1].copy())
    rows = _served_equals_distributed(monkeypatch, moved, queries, idx)
    assert rows != after


def test_batch_scored_in_chunks_under_the_cap(spark, ann, monkeypatch):
    """The batch's candidate pairs are bounded like the index: under a
    cap that holds the index but not the whole batch at full probe, the
    queries are scored in several chunks, with the same rows."""
    corpus, queries, idx, _ = ann
    chunks = []
    real = SIM._ivf_pq_score_chunk
    kw = {"k": 5, "n_probe": 8}
    with monkeypatch.context() as mp:
        # index: 500 rows × (20 + 4·4 + 8·16) B = 82 KB; one query at
        # full probe ≈ 500 pairs × _PAIR_BYTES ≈ 32 KB
        _cap(mp, 100_000)
        mp.setattr(SIM, "_ivf_pq_score_chunk",
                   lambda *a: chunks.append(len(a[5])) or real(*a))
        got = SIM.knn_ivf_pq(corpus, queries, index=idx, **kw)
    assert SIM._plan_is_local_relation(got)
    assert len(chunks) > 1 and sum(chunks) == 12
    assert _rows(got) == _distributed(monkeypatch, corpus, queries, idx, **kw)


def test_resident_frames_cache_contract(monkeypatch):
    """Weak keys, the byte bound and one fill under concurrent misses."""

    class Frame:
        pass

    monkeypatch.setattr(SIM, "RESIDENT_INDEX_BYTES", 100)
    cache = SIM._ResidentFrames()
    a, b, c = Frame(), Frame(), Frame()
    arr = (np.zeros(5),)  # 40 bytes
    for f in (a, b, c):
        assert cache.get(f, "t", lambda: arr) is arr
    assert cache._bytes == 80 and len(cache._entries) == 2  # a evicted
    assert cache.get(b, "t", lambda: None) is arr  # hit, no refill
    del b
    gc.collect()
    cache.get(c, "t", lambda: arr)
    assert len(cache._entries) == 1 and cache._bytes == 40  # b dropped

    fills = []
    d = Frame()

    def slow_fill():
        fills.append(1)
        time.sleep(0.05)
        return arr

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ts = [threading.Thread(target=cache.get, args=(d, "t", slow_fill))
              for _ in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in ts)
    finally:
        sys.setswitchinterval(prev)
    assert fills == [1]


def test_round6_matches_spark_round(spark):
    """The served refine's rounding is F.round(x, 6) bit for bit,
    including decimal ties (half away from zero) and negative zero."""
    rng = np.random.default_rng(3)
    ties = (rng.integers(-999_999, 999_999, 2000) + 0.5) / 1e6
    x = np.concatenate([ties, np.nextafter(ties, 2), np.nextafter(ties, -2),
                        rng.uniform(-1, 1, 2000), [0.0, -0.0, -1e-9, 5e-7]])
    t = spark.createDataFrame(pa.table({
        "i": pa.array(np.arange(len(x))), "x": pa.array(x),
    })).select("i", F.round("x", 6).alias("r")).toArrow()
    want = t.column("r").to_numpy()[np.argsort(t.column("i").to_numpy())]
    assert (SIM._round6(x).view(np.int64) == want.view(np.int64)).all()
