"""The numpy kernels of the PQ ranking pipeline, without Spark: the
per-partition ADC candidate scan must keep exactly what a global top
PQ_CANDIDATES would keep, however the rows are split into batches, and
the encode and the coarse assignment must break ties the way the DuckDB
oracles' row_number orders do (smallest code id, smallest cent_id)."""

import numpy as np
import pytest

from query_optimizer_spark.functions.similarity import (
    PQ_CANDIDATES,
    PQ_DSUB,
    PQ_K,
    PQ_M,
    _adc,
    _adc_scan,
    _coarse_assign,
    _pq_encode,
)


def _splits(rng, n: int) -> list[np.ndarray]:
    """A random split of range(n) into batches, some of them empty."""
    cuts = np.sort(rng.integers(0, n + 1, size=rng.integers(1, 8)))
    return np.split(rng.permutation(n), cuts)


def _scan_rows(batches, qids, vids, adc, keep) -> list[tuple]:
    keep = np.broadcast_to(keep, adc.shape)

    def score(batch):
        return vids[batch], adc[:, batch], keep[:, batch]

    frames = list(_adc_scan(batches, qids, score))
    assert len(frames) <= 1
    if not frames:
        return []
    out = frames[0]
    return sorted(
        zip(out["query_id"].tolist(), out["neighbor_id"].tolist(),
            out["adc_dist"].tolist())
    )


def _global_rows(qids, vids, adc, keep) -> list[tuple]:
    keep = np.broadcast_to(keep, adc.shape) & (vids[None, :] != qids[:, None])
    rows = []
    for qi, q in enumerate(qids):
        nn, dd = vids[keep[qi]], adc[qi][keep[qi]]
        order = np.lexsort((nn, dd))[:PQ_CANDIDATES]
        rows += [(int(q), int(n), int(d)) for n, d in zip(nn[order], dd[order])]
    return sorted(rows)


@pytest.mark.parametrize("seed", range(6))
def test_adc_scan_equals_global_topk(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(PQ_CANDIDATES // 2, 12 * PQ_CANDIDATES))
    vids = rng.choice(100_000, size=n, replace=False).astype(np.int64)
    # queries are corpus rows (self-matches) plus one id outside it
    qids = np.append(rng.choice(vids, size=4, replace=False), -1)
    # few distinct distances, so the PQ_CANDIDATES cutoff falls in ties
    adc = rng.integers(0, 6, size=(len(qids), n)).astype(np.int64)
    masked = rng.random((len(qids), n)) < 0.6
    for keep in (True, masked):
        want = _global_rows(qids, vids, adc, keep)
        assert all(q != nb for q, nb, _ in want)
        for _ in range(5):
            got = _scan_rows(_splits(rng, n), qids, vids, adc, keep)
            assert got == want


def test_adc_scan_yields_nothing_without_candidates():
    qids = np.array([3, 4], dtype=np.int64)
    vids = np.array([3], dtype=np.int64)
    adc = np.zeros((2, 1), dtype=np.int64)
    only_first = np.array([[True], [False]])
    assert _scan_rows([np.arange(1)], qids, vids, adc, only_first) == []
    assert _scan_rows([np.arange(0)], qids, vids, adc, True) == []


def test_adc_sums_one_lookup_per_subspace():
    rng = np.random.default_rng(7)
    lut = rng.integers(0, 1000, size=(3, PQ_M, PQ_K)).astype(np.int64)
    codes = rng.integers(0, PQ_K, size=(11, PQ_M))
    want = np.array(
        [[sum(lut[q, s, c[s]] for s in range(PQ_M)) for c in codes]
         for q in range(3)]
    )
    assert np.array_equal(_adc(lut, codes), want)


def test_pq_encode_ties_to_smallest_code_id():
    rng = np.random.default_rng(11)
    # values in {-1, 0, 1} and duplicated codewords make equidistant
    # codewords common
    cb = rng.integers(-1, 2, size=(PQ_M, PQ_K, PQ_DSUB)).astype(np.int64)
    cb[:, 9] = cb[:, 2]
    vecs = rng.integers(-1, 2, size=(200, PQ_M * PQ_DSUB)).astype(np.int64)
    vecs[0] = cb[:, 2].reshape(-1)  # nearest codewords 2 and 9 everywhere
    codes = _pq_encode(vecs, cb)
    sub = vecs.reshape(len(vecs), PQ_M, PQ_DSUB)
    ties = 0
    for i in range(len(vecs)):
        for s in range(PQ_M):
            d = ((sub[i, s][None] - cb[s]) ** 2).sum(-1)
            best = np.flatnonzero(d == d.min())
            ties += len(best) > 1
            assert codes[i, s] == best[0], (i, s, best)
    assert ties > 0
    assert (codes[0] == 2).all()


def test_coarse_assign_ties_to_smallest_cent_id():
    rng = np.random.default_rng(13)
    cents = rng.integers(-1, 2, size=(32, 6)).astype(np.int64)
    cents[20] = cents[5]
    cn2 = (cents * cents).sum(-1)
    vecs = rng.integers(-1, 2, size=(300, 6)).astype(np.int64)
    vecs[0] = cents[5]  # nearest centroids 5 and 20
    assign = _coarse_assign(vecs, cents, cn2)
    ties = 0
    for i, v in enumerate(vecs):
        d = ((v[None] - cents) ** 2).sum(-1)
        best = np.flatnonzero(d == d.min())
        ties += len(best) > 1
        assert assign[i] == best[0], (i, best)
    assert ties > 0
    assert assign[0] == 5
