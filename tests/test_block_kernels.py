"""Equality pins for the Arrow block kernels of the vector operators
(fast profile).

``sign_bucket_frame``, ``cell_order_frame`` and ``pq_code_rows`` run as
``mapInArrow`` numpy passes; the LSH / IVF top-k searches,
``ivf_cell_pairs`` and ``blocked_pair_stats`` score grouped or
cogrouped ``applyInArrow`` blocks over flat vector buffers
(``operators/blocks.py``). Each test replays its operator in plain
Python — the dimension-ordered folds, the bucket / probe / cell
definitions and the final ranking over ALL candidates (so the in-block
top-k pruning must also be lossless) — and requires the engine's rows
to equal it exactly, on NULL and ragged vectors, a zero vector, int and
string ids, and a tiny Arrow batch size that splits every kernel's
input into many batches / chunks.
"""

from __future__ import annotations

import itertools
import math
from collections import defaultdict

import numpy as np
import pytest

from fuzzy_item_matching_spark.operators.ivf import (
    cell_order_frame,
    ivf_cell_pairs,
    ivf_cosine_topk,
)
from fuzzy_item_matching_spark.operators.lsh import (
    lsh_cosine_topk,
    lsh_multiprobe_topk,
    random_hyperplanes,
    sign_bucket_frame,
)
from fuzzy_item_matching_spark.operators.pq import pq_code_rows
from fuzzy_item_matching_spark.operators.similarity import blocked_pair_stats

DIM = 8
SEED = 42
K = 2

CASES = pytest.mark.parametrize(
    "id_kind,batch",
    [("long", None), ("string", 3)],
    ids=["long-ids", "string-ids-tiny-batches"],
)


def _rows(id_kind):
    """(id, vec, label): clustered vectors plus a zero vector and NULL
    and ragged vectors the kernels must drop. Unpadded string ids sort
    differently from their integers, so id order is exercised."""
    rng = np.random.default_rng(3)
    centers = rng.normal(0, 1, (4, DIM))
    out = []
    for i in range(1, 61):
        if i % 11 == 0:
            v = None
        elif i % 13 == 0:
            v = rng.normal(0, 1, DIM - 1).tolist()
        elif i == 5:
            v = [0.0] * DIM
        else:
            v = (centers[i % 4] + rng.normal(0, 0.5, DIM)).tolist()
        rid = i if id_kind == "long" else f"v{i}"
        label = None if i % 17 == 0 else i % 3
        out.append((rid, v, label))
    return out


@pytest.fixture
def frame(spark, id_kind, batch):
    rows = _rows(id_kind)
    df = spark.createDataFrame(
        rows, f"vid {id_kind}, emb array<double>, label int"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    if batch is not None:
        spark.conf.set(key, str(batch))
    try:
        yield df, [(r, v, lab) for r, v, lab in rows if v is not None and len(v) == DIM]
    finally:
        spark.conf.set(key, prev)


def _fold(terms) -> float:
    acc = 0.0
    for x in terms:
        acc += x
    return acc


def _dot(a, b) -> float:
    return _fold(a[i] * b[i] for i in range(len(a)))


def _sqdist(a, b) -> float:
    return _fold((a[i] - b[i]) * (a[i] - b[i]) for i in range(len(a)))


def _cos(a, b) -> float:
    denom = math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b))
    return 0.0 if denom == 0.0 else _dot(a, b) / denom


def _topk(cands):
    """Global ranking of (qid, nid, cosine) candidates: per qid the K
    best by (cosine desc, nid asc), with their rank."""
    by_q = defaultdict(set)
    for q, n, c in cands:
        by_q[q].add((n, c))
    return {
        (q, n, c, r + 1)
        for q, nc in by_q.items()
        for r, (n, c) in enumerate(sorted(nc, key=lambda x: (-x[1], x[0]))[:K])
    }


def _search(valid, buckets_of, probes_of):
    """Top-K over every pair (q, n), q != n, where some key in
    probes_of(q) equals a key in buckets_of(n)."""
    index = defaultdict(set)
    for rid, v, _ in valid:
        for key in buckets_of(rid, v):
            index[key].add(rid)
    vec = {rid: v for rid, v, _ in valid}
    cands = set()
    for rid, v, _ in valid:
        for key in probes_of(rid, v):
            for nid in index[key]:
                if nid != rid:
                    cands.add((rid, nid, _cos(v, vec[nid])))
    return _topk(cands)


def _sign_bits(v, planes):
    return "".join("1" if _dot(v, p) >= 0 else "0" for p in planes)


def _probes(v, planes, budget, max_flip):
    """Margin-ranked flip sets (ties by the sorted subset) applied to
    the own bucket's bits."""
    base = _sign_bits(v, planes)
    m = [abs(_dot(v, p)) for p in planes]
    subsets = [
        s
        for r in range(1, max_flip + 1)
        for s in itertools.combinations(range(len(planes)), r)
    ]
    ranked = sorted((_fold(m[j] for j in s), s) for s in subsets)[:budget]
    out = []
    for _, s in ranked:
        bits = list(base)
        for j in s:
            bits[j] = "1" if bits[j] == "0" else "0"
        out.append("".join(bits))
    return out


def _tables(n_tables, bits):
    planes = random_hyperplanes(DIM, n_tables * bits, SEED)
    return [planes[t * bits : (t + 1) * bits] for t in range(n_tables)]


def _collect(df):
    return {tuple(tuple(x) if isinstance(x, list) else x for x in r) for r in df.collect()}


@CASES
def test_sign_bucket_frame_with_probes(frame):
    df, valid = frame
    tables = _tables(2, 4)
    got = _collect(
        sign_bucket_frame(df, "vid", "emb", 2, 4, SEED, DIM, probe_budget=5, max_flip=2)
    )
    want = {
        (rid, t, _sign_bits(v, planes), tuple(v), tuple(_probes(v, planes, 5, 2)))
        for rid, v, _ in valid
        for t, planes in enumerate(tables)
    }
    assert got == want


@CASES
def test_lsh_cosine_topk_with_bucket_cap(frame):
    df, valid = frame
    tables = _tables(3, 2)
    cap = 4
    blocks = defaultdict(list)
    for rid, v, _ in valid:
        for t, planes in enumerate(tables):
            blocks[t, _sign_bits(v, planes)].append((rid, v))
    cands = set()
    for block in blocks.values():
        index = sorted(block, key=lambda r: r[0])[:cap]
        for qid, qv in block:
            cands |= {(qid, nid, _cos(qv, nv)) for nid, nv in index if nid != qid}
    want = _topk(cands)
    # the cap binds: some bucket holds more rows than it keeps
    assert max(len(b) for b in blocks.values()) > cap
    got = _collect(
        lsh_cosine_topk(
            df, "vid", "emb", k=K, n_tables=3, bits_per_table=2, seed=SEED,
            dim=DIM, bucket_cap=cap,
        )
    )
    assert got == want


@CASES
@pytest.mark.parametrize("budget", [5, None], ids=["directed", "every-bit"])
def test_lsh_multiprobe_topk(frame, budget):
    df, valid = frame
    tables = _tables(2, 4)
    n_probe, max_flip = (budget, 2) if budget is not None else (4, 1)

    def own(rid, v):
        return [(t, _sign_bits(v, p)) for t, p in enumerate(tables)]

    def probed(rid, v):
        return own(rid, v) + [
            (t, b) for t, p in enumerate(tables) for b in _probes(v, p, n_probe, max_flip)
        ]

    want = _search(valid, own, probed)
    got = _collect(
        lsh_multiprobe_topk(
            df, "vid", "emb", k=K, n_tables=2, bits_per_table=4, seed=SEED,
            dim=DIM, probe_budget=budget, max_flip=2,
        )
    )
    assert got == want


def _centroids():
    """Four unit centroids plus a copy of one at index 0: every score of
    the copy ties with its twin, the twin wins (ties go to the higher
    cell), so cell 0 is probed but holds no index row — an empty
    cogroup side."""
    rng = np.random.default_rng(5)
    c = rng.normal(0, 1, (4, DIM))
    c = (c / np.linalg.norm(c, axis=1, keepdims=True)).tolist()
    return [c[2], *c]


def _cell_order(v, cents):
    """reverse(array_sort(struct(dot, cell))): score desc, ties cell desc."""
    return [c for _, c in sorted(((_dot(v, x), c) for c, x in enumerate(cents)), reverse=True)]


@CASES
def test_cell_order_frame(frame):
    df, valid = frame
    cents = _centroids()
    got = _collect(cell_order_frame(df, "vid", "emb", cents, keep_vec=True))
    assert got == {(rid, tuple(_cell_order(v, cents)), tuple(v)) for rid, v, _ in valid}


@CASES
def test_ivf_cosine_topk(frame):
    df, valid = frame
    cents = _centroids()
    want = _search(
        valid,
        lambda rid, v: _cell_order(v, cents)[:1],
        lambda rid, v: _cell_order(v, cents)[:2],
    )
    indexed = {_cell_order(v, cents)[0] for _, v, _ in valid}
    probed = {c for _, v, _ in valid for c in _cell_order(v, cents)[:2]}
    assert probed - indexed  # a cell with probes and no index rows
    got = _collect(
        ivf_cosine_topk(df, "vid", "emb", k=K, n_probe=2, centroids=cents)
    )
    assert got == want


@CASES
def test_ivf_cell_pairs(frame):
    df, valid = frame
    cents = _centroids()
    cells = defaultdict(list)
    for rid, v, _ in valid:
        for c in _cell_order(v, cents)[:2]:
            cells[c].append((rid, v))
    want = {}
    for c in sorted(cells, reverse=True):  # the lowest shared cell wins
        for (a, va), (b, vb) in itertools.combinations(sorted(cells[c]), 2):
            cos = _cos(va, vb)
            if cos >= 0.3:
                want[a, b] = (c, cos)
    assert want
    got = _collect(
        ivf_cell_pairs(df, "vid", "emb", min_cosine=0.3, n_probe=2, centroids=cents)
    )
    assert got == {(a, b, c, cos) for (a, b), (c, cos) in want.items()}


@CASES
def test_blocked_pair_stats(frame):
    df, valid = frame
    want = {
        (a, b, _dot(va, vb), _sqdist(va, vb), _cos(va, vb))
        for (a, va, la), (b, vb, lb) in itertools.product(valid, valid)
        if la is not None and la == lb and a < b
    }
    assert want
    assert _collect(blocked_pair_stats(df, "vid", "emb", "label")) == want


@CASES
def test_pq_code_rows(frame):
    df, valid = frame
    rng = np.random.default_rng(9)
    m, ksub, dsub = 2, 3, DIM // 2
    books = rng.normal(0, 1, (m, ksub, dsub)).tolist()
    want = set()
    for rid, v, _ in valid:
        for mi in range(m):
            sub = v[mi * dsub : (mi + 1) * dsub]
            d = [_sqdist(sub, books[mi][j]) for j in range(ksub)]
            want.add((rid, mi, min(range(ksub), key=lambda j: (d[j], j))))
    assert _collect(pq_code_rows(df, "vid", "emb", books)) == want
