"""Product quantization (PQ) — the third ANN building block next to
sign-LSH (`operators/lsh.py`) and IVF cells (`operators/ivf.py`).

PQ splits each D-dim vector into M subvectors of D/M dims, quantizes
every subvector to its nearest entry in a per-subspace codebook of
``ksub`` centroids, and stores only the M small codes (here 8 codes
for a 64-dim float vector — a 32x compression). Retrieval scores a
candidate against a query with ADC (asymmetric distance computation):
the query stays full-precision, precomputes ONE m x ksub table of
subspace dots, and every candidate is scored with m table LOOKUPS —
no per-pair floating math at all.

Plan-size lesson (measured): embedding the m*ksub codebook as
literal expression trees — either as HOF lambdas per entry or fully
unrolled scalar chains — made ANALYSIS/codegen the bottleneck (10-20s
scale-independent). The codebook is DATA, so it rides the task
closure and assignment is one folded numpy pass per Arrow batch
(``pq_code_rows``, ``mapInArrow``); the ADC lookup table is computed
driver-side in plain Python floats (IEEE doubles, left-associated
exactly like the SQL list_sum fold — bit-equal) for
the broadcast-small query batch only.

Determinism/oracle story: codebooks are the ``ksub`` lowest-id
vectors' subvectors (seedless, stable — the same construction as
``operators/ivf.sample_centroids``), assignment breaks sqdist ties on
the lower code (lexicographic struct min), and the ADC sum across
subspaces accumulates as DECIMAL(38,18) — so codes AND scores are
bit-identical across engines and the whole index is exactly
DuckDB-replicable.

At 100 TB: the codebook is KBs; code assignment is map-only and
linear, m code rows per vector; the PQ-coded corpus is what an IVF
cell list would store, cutting candidate-scan memory 32x. Production
pairs this with the IVF coarse partitioner (`ivf_cosine_topk`); the
query surface verifies ADC against a bounded broadcast query batch so
the quantizer itself is the thing under test.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_item_matching_spark.operators.blocks import (
    _folded_sqdist_block,
    _vector_block,
    valid_vectors,
)


def pq_codebooks(
    df: DataFrame, id_col: str, vec_col: str, m: int, ksub: int
) -> list[list[list[float]]]:
    """codebooks[mi][j] = subvector mi of the j-th lowest-id vector.
    Deterministic and tiny (m * ksub * dsub floats — KBs): collected
    once driver-side, then shipped back as a broadcast frame."""
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(ksub).collect()
    )
    vecs = [[float(x) for x in r[1]] for r in rows]
    if not vecs:
        raise ValueError(
            "pq_codebooks: empty corpus — a PQ index needs at least one "
            "vector to sample codebook entries from"
        )
    dim = len(vecs[0])
    dsub = dim // m
    return [
        [v[mi * dsub : (mi + 1) * dsub] for v in vecs] for mi in range(m)
    ]


def pq_code_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, m, code) rows: each vector's per-subspace argmin-sqdist
    codebook entry, ties -> lower code.

    r14 (guide §4.2/§2.4): assignment runs as ONE Arrow/numpy pass —
    per subspace, the (batch × ksub) sqdist block accumulates in
    subvector-dimension order, reproducing the `squared_dist`
    zip_with/aggregate fold bit-for-bit ((x−y)·(x−y) terms, same
    left-to-right float64 adds), and ``argmin`` takes the FIRST
    minimum = the lexicographic struct-min's lower-code tie break
    (NaN sqdists are mapped to +inf first: Spark orders NaN greatest,
    so a finite entry always wins and an all-NaN row falls to code 0
    — the same outcomes). This replaces the m-way explode ×
    ksub-row broadcast join × struct-min aggregate — the groupBy's
    (id, m) Exchange is GONE; code assignment is map-only at any
    corpus size, emitting exactly the m code rows per vector."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    src = valid_vectors(df, vec_col, m * dsub).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    schema = T.StructType(
        [
            T.StructField("__id", df.schema[id_col].dataType),
            T.StructField("m", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
        ]
    )

    def assign_codes(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            v = _vector_block(b.column(1), m * dsub)
            codes = np.empty((n, m), dtype=np.int32)
            for mi in range(m):
                acc = _folded_sqdist_block(v[:, mi * dsub : (mi + 1) * dsub], cb[mi])
                np.copyto(acc, np.inf, where=np.isnan(acc))
                codes[:, mi] = np.argmin(acc, axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).take(np.repeat(np.arange(n), m)),
                    pa.array(np.tile(np.arange(m, dtype=np.int32), n)),
                    pa.array(codes.reshape(-1)),
                ],
                names=["__id", "m", "code"],
            )

    return src.mapInArrow(assign_codes, schema=schema)


def adc_lut_py(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """The ADC lookup table for one query vector, computed in plain
    Python floats (IEEE doubles, left-associated like the SQL
    list_sum fold and the engine's F.aggregate dot — bit-equal):
    lut[m][j] = dot(query subvector m, codebooks[m][j])."""
    dsub = len(codebooks[0][0])
    lut: list[list[float]] = []
    for mi, cb_m in enumerate(codebooks):
        base = mi * dsub
        row = []
        for c in cb_m:
            acc = 0.0
            for d, cd in enumerate(c):
                acc = acc + float(query_vec[base + d]) * cd
            row.append(acc)
        lut.append(row)
    return lut


def adc_term(lut: Column, m_idx: Column, code: Column) -> Column:
    """One subspace's ADC contribution, by table lookup. The caller
    SUMs these per pair with a DECIMAL(38,18) aggregate so the
    cross-subspace float sum is order-insensitive and exactly
    SQL-replicable (a chained per-row decimal add would progressively
    lose scale under Spark's precision-capping rules; SUM keeps scale
    18)."""
    return F.element_at(F.element_at(lut, m_idx + 1), code + 1)
