"""Equality pin for ``lsh_sqdist_join``'s Arrow kernels (fast profile).

The join's bucketing runs as a ``mapInArrow`` numpy fold and its block
scoring as grouped / cogrouped ``applyInArrow`` kernels over flat vector
buffers. This suite replays the same algorithm in plain Python — the
bucket fold, the ``bucket_cap`` truncation (lowest stored ids per
(table, bucket)), the squared-distance fold and the threshold — and
requires the engine's pairs AND distances to equal it exactly, on dirty
input (NULL and ragged vectors), int and string ids, and a tiny Arrow
batch size that splits every kernel's input into many batches / chunks.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pytest

from fuzzy_item_matching_spark.operators.blocks import _vector_block
from fuzzy_item_matching_spark.operators.lsh import (
    lsh_sqdist_join,
    random_hyperplanes,
)

DIM = 8
TABLES = 4
BUCKET_LENGTH = 2.0
THRESHOLD = 3.0
SEED = 42
CAP = 3


def _rows(rng, centers, n, base, id_kind):
    """Clustered vectors (so buckets collide and overflow the cap), a
    few far outliers (singleton buckets → empty blocks), plus NULL and
    ragged vectors the join must drop."""
    out = []
    for i in range(n):
        if i % 11 == 0:
            v = None
        elif i % 13 == 0:
            v = rng.normal(0, 1, DIM - 1).tolist()
        elif i % 7 == 0:
            v = rng.normal(0, 40, DIM).tolist()
        else:
            v = (centers[i % len(centers)] + rng.normal(0, 0.4, DIM)).tolist()
        # unpadded string ids sort differently from their integers, so
        # the cap's id order and self mode's id_a < id_b are exercised
        rid = base + i if id_kind == "long" else f"v{base + i}"
        out.append((rid, v))
    return out


def _fold(terms) -> float:
    acc = 0.0
    for x in terms:
        acc += x
    return acc


def _buckets(rows, planes):
    """(table, bucket) → [(id, vec)] for the rows a valid-vector guard
    keeps, with the dimension-ordered dot fold."""
    out = defaultdict(list)
    for rid, v in rows:
        if v is None or len(v) != DIM:
            continue
        for t, g in enumerate(planes):
            dot = _fold(v[i] * g[i] for i in range(DIM))
            out[(t, math.floor(dot / BUCKET_LENGTH))].append((rid, v))
    return out


def _sqdist(a, b) -> float:
    return _fold((a[i] - b[i]) * (a[i] - b[i]) for i in range(DIM))


def _replay(left, right, cap):
    planes = random_hyperplanes(DIM, TABLES, SEED)
    lb = _buckets(left, planes)
    pairs = set()
    if right is None:
        for block in lb.values():
            for ia, va in block:
                for ib, vb in block:
                    d2 = _sqdist(va, vb)
                    if ia < ib and d2 <= THRESHOLD:
                        pairs.add((ia, ib, d2))
        return pairs
    rb = _buckets(right, planes)
    for key, block in lb.items():
        stored = sorted(rb.get(key, []))[:cap]
        for ia, va in block:
            for ib, vb in stored:
                d2 = _sqdist(va, vb)
                if d2 <= THRESHOLD:
                    pairs.add((ia, ib, d2))
    return pairs


@pytest.mark.parametrize(
    "id_kind,batch",
    [("long", None), ("string", 3)],
    ids=["long-ids", "string-ids-tiny-batches"],
)
def test_lsh_sqdist_join_equals_python_replay(spark, id_kind, batch):
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 4, (6, DIM))
    left = _rows(rng, centers, 40, 1000, id_kind)
    right = _rows(rng, centers, 120, 0, id_kind)
    schema = f"vid {id_kind}, emb array<double>"
    ldf = spark.createDataFrame(left, schema)
    rdf = spark.createDataFrame(right, schema)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    if batch is not None:
        spark.conf.set(key, str(batch))
    try:
        kw = dict(n_tables=TABLES, bucket_length=BUCKET_LENGTH, seed=SEED, dim=DIM)
        got_pair = {
            tuple(r)
            for r in lsh_sqdist_join(
                ldf, rdf, "vid", "emb", THRESHOLD, bucket_cap=CAP, **kw
            ).collect()
        }
        got_self = {
            tuple(r)
            for r in lsh_sqdist_join(rdf, None, "vid", "emb", THRESHOLD, **kw).collect()
        }
    finally:
        spark.conf.set(key, prev)
    want_pair = _replay(left, right, CAP)
    want_self = _replay(right, None, None)
    # non-trivial: pairs exist and the cap actually dropped some
    assert want_pair and want_self
    assert want_pair != _replay(left, right, None)
    assert got_pair == want_pair
    assert got_self == want_self


def test_vector_block_reads_only_the_slice():
    """A sliced Arrow list column (non-zero offset) and a multi-chunk
    column must read back as exactly their own rows — ``.values`` would
    return the parent's whole buffer."""
    rows = [[float(3 * i + j) for j in range(3)] for i in range(5)]
    arr = pa.array(rows, type=pa.list_(pa.float64()))
    np.testing.assert_array_equal(_vector_block(arr.slice(2, 2), 3), rows[2:4])
    chunked = pa.chunked_array([arr.slice(0, 1), arr.slice(3, 2)])
    np.testing.assert_array_equal(
        _vector_block(chunked, 3), [rows[0], rows[3], rows[4]]
    )
