"""Arrow block kernels shared by every vector operator.

The LSH, IVF, PQ and label-block operators all hand numpy one Arrow
batch or one (co)group at a time. This module is the single home of
what those kernels share:

- the fold-order contract (``_folded_*``): all-pairs sums accumulated
  dimension by dimension, so every lane performs the same left-to-right
  IEEE add sequence as the engine's ``F.aggregate`` expressions and
  DuckDB's ``list_sum`` — blockwise numpy stays bitwise oracle-exact;
- the reader from an Arrow ``list<double>`` column to one ``(n, dim)``
  matrix (``_vector_block``) and the dirty-input guard that makes the
  flat reshape safe (``valid_vectors``);
- builders for typed Arrow output: pair tables gathered with ``take()``
  (ids keep their own Arrow type, also in an empty block), bit-string
  columns and fixed-width list columns;
- the cosine top-k block kernel of the LSH and IVF searches.

Vectors stay flat Arrow list buffers end to end: no kernel builds a
per-row Python object.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _folded_sqdist_block(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs Σ (aᵢ-bᵢ)² for blocks a (na×d), b (nb×d) → (na×nb),
    accumulated DIMENSION BY DIMENSION: each output lane performs the
    identical left-to-right IEEE add sequence as the engine's
    fold-based ``squared_dist`` (and DuckDB's list_sum), so blockwise
    numpy scoring stays BITWISE equal to the SQL oracle — np.sum's
    pairwise summation would not be."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for i in range(a.shape[1]):
        d = a[:, i, None] - b[None, :, i]
        acc += d * d
    return acc


def _folded_dot_block(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs Σ aᵢ·bᵢ with the same fold-order guarantee as
    ``_folded_sqdist_block``."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for i in range(a.shape[1]):
        acc += a[:, i, None] * b[None, :, i]
    return acc


def _folded_dot_block_diag(a: np.ndarray) -> np.ndarray:
    """Per-row Σ xᵢ² with the same fold order (the l2_norm prefix)."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        acc += a[:, i] * a[:, i]
    return acc


def _vector_block(col: pa.Array | pa.ChunkedArray, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix over an Arrow ``list<double>`` column of
    non-NULL dim-long vectors. ``list_flatten`` (not ``.values``)
    honours the list offsets, so a sliced batch reads its own rows
    only; NULL elements become NaN."""
    flat = pc.list_flatten(col)
    return flat.to_numpy(zero_copy_only=False).reshape(-1, dim)


def valid_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Drop NULL / wrong-dimension vectors before an Arrow-batched
    numpy kernel. A flat-buffer reshape over a batch containing a NULL
    or ragged vector either raises — killing the task, and with it the
    job — or silently shifts every later row, where the pure-Catalyst
    expression path would just yield NULL for that row; on real (dirty)
    100 TB inputs one bad row must cost one row, not the query. Rows
    failing the guard simply produce no pairs/neighbors — the same
    observable outcome as a NULL hash that never equi-joins."""
    c = F.col(vec_col)
    return df.filter(c.isNotNull() & (F.size(c) == dim))


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the first non-null row (dirty-input
    safe — ``first()[0]`` alone can hand back None)."""
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if row is None:
        raise ValueError(f"cannot infer dim: no non-null '{vec_col}' rows")
    return len(row[0])


def id_ranks(*cols: pa.Array | pa.ChunkedArray) -> list[np.ndarray]:
    """Dense ascending ranks of the ids in ``cols``, ranked TOGETHER
    (equal ids get equal ranks across columns). Comparing ranks is
    comparing ids — for strings in UTF-8 byte order, Spark's order — so
    kernels order and self-mask ids of any type as plain int arrays."""
    ranks = pc.rank(
        pa.chunked_array(
            [c for col in cols for c in getattr(col, "chunks", [col])],
            type=cols[0].type,
        ).combine_chunks(),
        tiebreaker="dense",
    ).to_numpy()
    return np.split(ranks, np.cumsum([len(c) for c in cols[:-1]]))


def pair_table(
    schema: pa.Schema,
    ids_a: pa.Array | pa.ChunkedArray,
    ia: np.ndarray,
    ids_b: pa.Array | pa.ChunkedArray,
    ib: np.ndarray,
    *values: np.ndarray,
) -> pa.Table:
    """Output block of pairs (ids_a[ia], ids_b[ib], *values). ``take()``
    keeps the ids' own Arrow type (int, string, ...) — also for an
    empty result."""
    return pa.Table.from_arrays(
        [ids_a.take(ia), ids_b.take(ib), *(pa.array(v) for v in values)],
        schema=schema,
    )


def bit_strings(bits: np.ndarray) -> pa.StringArray:
    """One '0'/'1' string per row of an (n, w) 0/1 matrix: the uint8
    characters, read as n fixed-width w-byte strings."""
    chars = np.ascontiguousarray(bits, dtype=np.uint8) + np.uint8(ord("0"))
    n, w = chars.shape
    offsets = np.arange(0, n * w + 1, w, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(chars)
    )


def fixed_lists(values: pa.Array, n: int) -> pa.ListArray:
    """List column of ``n`` rows that split ``values`` into equal runs."""
    offsets = np.arange(n + 1, dtype=np.int32) * (len(values) // n)
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def cosine_block(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs cosine: the folded dot over the outer product of the
    folded norms, one IEEE division per pair (0.0 where a norm is 0) —
    bitwise the engine's ``cosine_similarity`` expression."""
    denom = np.outer(
        np.sqrt(_folded_dot_block_diag(a)), np.sqrt(_folded_dot_block_diag(b))
    )
    return np.divide(
        _folded_dot_block(a, b), denom, out=np.zeros_like(denom), where=denom != 0.0
    )


def cosine_topk_block(
    schema: pa.Schema,
    qids: pa.Array | pa.ChunkedArray,
    vq: np.ndarray,
    nids: pa.Array | pa.ChunkedArray,
    vn: np.ndarray,
    k: int,
) -> pa.Table:
    """(qid, nid, cosine): per query row, its ``k`` best index rows by
    (cosine desc, nid asc) — the global ranking window's order, so a
    global top-k pair is within the top-k of every block holding it and
    pruning in-block is lossless. Pairs of equal ids and non-finite
    cosines are never emitted. One ``lexsort`` over the whole block
    (rows sorted independently) does every query's ranking."""
    cos = cosine_block(vq, vn)
    rq, rn = id_ranks(qids, nids)
    cos[rq[:, None] == rn[None, :]] = -np.inf  # self (and dup-id) pairs
    order = np.lexsort((np.broadcast_to(rn, cos.shape), -cos), axis=-1)[:, :k]
    qi, j = np.nonzero(np.isfinite(np.take_along_axis(cos, order, axis=1)))
    ni = order[qi, j]
    return pair_table(schema, qids, qi, nids, ni, cos[qi, ni])


def topk_schema(id_type: T.DataType) -> T.StructType:
    """(qid, nid, cosine) — the output of ``cosine_topk_block``."""
    return T.StructType(
        [
            T.StructField("qid", id_type),
            T.StructField("nid", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )


def global_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact top-k per qid by (cosine desc, nid asc) over the blocks'
    pruned candidates (at most k per block and query) → (qid, nid,
    cosine, rnk)."""
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "rnk")
    )
