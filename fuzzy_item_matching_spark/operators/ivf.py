"""IVF (inverted-file) approximate nearest neighbors — the
centroid-partitioned alternative to sign-LSH bucketing
(`operators/lsh.py`), behind the same candidate-equi-join shape.

Cells are defined by unit centroids sampled deterministically from the
data (lowest ids — seedless and stable; a k-means refinement would
drop in without changing the join shape). Each vector is assigned to
its nearest cell; queries probe their ``n_probe`` nearest cells.
Candidates = (query, neighbor) pairs sharing a probed cell — work
scales with cell occupancy, never n². At 1000×, n_centroids grows
~√n to keep cells balanced, and the centroid table stays a driver-side
literal (KBs).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from fuzzy_item_matching_spark.operators.blocks import (
    _folded_dot_block,
    _infer_dim,
    _vector_block,
    cosine_block,
    cosine_topk_block,
    fixed_lists,
    global_topk,
    id_ranks,
    pair_table,
    topk_schema,
    valid_vectors,
)


def _unit(vec: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / n for x in vec]


def sample_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[list[float]]:
    """Deterministic centroid sample: the ``n_centroids`` rows with the
    smallest ids, L2-normalized driver-side (tiny collect — KBs)."""
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    if not rows:
        raise ValueError(
            "sample_centroids: empty corpus — an IVF index needs at "
            "least one vector to sample centroids from"
        )
    return [_unit([float(x) for x in r[1]]) for r in rows]


def _cell_order_block(v: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Per row, the centroid ids ordered as
    ``reverse(array_sort(array(struct(dot(v, c_i), i) ...)))`` — i.e.
    score DESC, ties cell DESC (the oracles' form). The scores come
    from the dimension-ordered float64 fold (``_folded_dot_block``,
    bit-identical to the expression dot), and a STABLE ascending
    argsort reversed reproduces the struct sort's (score asc, cell
    asc)→reversed order exactly, including NaN-last (Spark orders NaN
    greatest; numpy sorts NaN last; among equal keys both keep
    cell-ascending, so the reversed tail matches)."""
    return np.argsort(_folded_dot_block(v, cents), axis=1, kind="stable")[:, ::-1]


def cell_order_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    keep_vec: bool = False,
) -> DataFrame:
    """(__id, __cells int[], [__v double[]]) — every vector's centroid
    ids in probe order, via ONE Arrow/numpy pass.

    r14 (guide §4.2): the expression form (a struct(dot, cell) array
    → array_sort → reverse) embeds n_centroids × dim literals in the
    plan; at 16×64 that is a ~1k-node expression tree whose ANALYSIS
    and codegen cost is scale-INDEPENDENT (the documented pq.py
    plan-size lesson) on top of the interpreted per-row HOF fold.
    Here the centroid matrix rides the task closure as data, the
    fold is the numpy dimension-ordered pass (bit-identical dots —
    `_folded_dot_block`), and the plan is one narrow projection +
    MapInArrow over flat vector buffers (``__v`` passes through as
    the input column). Map-only: no exchange at any corpus size."""
    cents = np.asarray(centroids, dtype=np.float64)
    dim = cents.shape[1]
    df = valid_vectors(df, vec_col, dim)
    fields = [
        T.StructField("__id", df.schema[id_col].dataType),
        T.StructField("__cells", T.ArrayType(T.IntegerType())),
    ]
    if keep_vec:
        fields.append(T.StructField("__v", T.ArrayType(T.DoubleType())))
    schema = T.StructType(fields)
    names = schema.fieldNames()

    def order_cells(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vecs = b.column(1)
            order = _cell_order_block(_vector_block(vecs, dim), cents)
            cells = fixed_lists(pa.array(order.astype(np.int32).ravel()), n)
            cols = [b.column(0), cells, vecs] if keep_vec else [b.column(0), cells]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    src = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    return src.mapInArrow(order_cells, schema=schema)


REFINE_SAMPLE_CAP = 100_000


def refinement_sample(
    df: DataFrame, id_col: str, cap: int = REFINE_SAMPLE_CAP, seed: int = 42
) -> DataFrame:
    """Bounded CONTENT-KEYED sample for Lloyd refinement. Centroid
    quality needs only a representative subset, so refinement cost must
    not scale with the corpus: at 100 TB, iterating Lloyd over the full
    table means n_centroids×dim dot products per row per pass — the
    one scan profile that can't be amortized. One metadata-cheap
    count() bounds the fraction.

    Keyed (u = f(md5(seed:id)) < cap/n, `functions/sampling.py`)
    rather than ``df.sample``: Spark's sample is seeded per PARTITION,
    so the selected set — and thus the refined centroids and every
    downstream bucket — would change with file layout. The keyed draw
    picks the same rows on any partitioning or engine, which is what
    lets the DuckDB oracle replay the refinement exactly even above
    the cap (r04 verdict: the old plan-seeded sample silently diverged
    from the full-table oracle once n exceeded the cap)."""
    n = df.count()
    if n <= cap:
        return df
    from fuzzy_item_matching_spark.functions.sampling import keyed_sample

    return keyed_sample(df, F.col(id_col), fraction=cap / n, seed=seed)


def refine_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    iterations: int = 2,
    sample_cap: int = REFINE_SAMPLE_CAP,
) -> list[list[float]]:
    """Lloyd iterations for IVF cells: assign each sampled vector to
    its nearest centroid, recompute per-cell means (posexplode + hash
    agg — one pass per iteration over a bounded sample, see
    ``refinement_sample``), renormalize driver-side. Only the
    n_centroids×dim mean table is ever collected (KBs)."""
    df = (
        refinement_sample(df, id_col, cap=sample_cap)
        .select(id_col, vec_col)
        .persist()
    )
    for _ in range(iterations):
        # r14 (guide §4.2): per-pass assignment via the numpy kernel
        # (cell_order_frame top-1) instead of a per-centroid dot
        # expression tree — bit-identical nearest cell, and each Lloyd
        # pass stops re-analyzing a fresh n_centroids×dim literal plan.
        cells = cell_order_frame(
            df, id_col, vec_col, centroids, keep_vec=True
        ).select(F.element_at("__cells", 1).alias("__cell"), "__v")
        assigned = cells.select(
            "__cell", F.posexplode("__v").alias("__pos", "__x")
        )
        # Mean via exact DECIMAL sum cast back to double: float partial
        # sums depend on partition merge order, so avg() would make the
        # refined centroids (and every downstream bucket) run-dependent.
        # The decimal sum is order-insensitive and exact → centroids are
        # deterministic at any parallelism AND replicable in SQL.
        means = (
            assigned.groupBy("__cell", "__pos")
            .agg(
                (
                    F.sum(F.col("__x").cast("decimal(38,18)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("__m")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:  # index access: Row attrs reject dunder names
            by_cell.setdefault(r["__cell"], {})[r["__pos"]] = r["__m"]
        dim = len(centroids[0])
        centroids = [
            _unit([by_cell[c].get(p, 0.0) for p in range(dim)])
            if c in by_cell
            else centroids[c]  # empty cell keeps its old centroid
            for c in range(len(centroids))
        ]
    df.unpersist()
    return centroids


def ivf_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 3,
    centroids: list[list[float]] | None = None,
    refine_iters: int = 2,
    sample_cap: int = REFINE_SAMPLE_CAP,
) -> DataFrame:
    """Approximate cosine top-k per vector via IVF cells.

    Index side: each vector lands in its single nearest cell. Query
    side: each vector probes its ``n_probe`` nearest cells. The
    candidate join key is the cell id; exact cosine ranks candidates.
    Recall misses only neighbors whose cell the query didn't probe —
    graded vs brute force in tests.
    """
    dim = len(centroids[0]) if centroids else _infer_dim(df, vec_col)
    # the flat reshape in score_cell needs dim-long rows; one bad row
    # must cost one row, not the task (see operators/blocks.py)
    df = valid_vectors(df, vec_col, dim)
    if centroids is None:
        centroids = sample_centroids(df, id_col, vec_col, n_centroids)
        if refine_iters:
            centroids = refine_centroids(
                df, id_col, vec_col, centroids, refine_iters,
                sample_cap=sample_cap,
            )

    # r14 (guide §4.2): cell scoring moved from a per-centroid dot
    # expression tree (n_centroids×dim plan literals + interpreted HOF
    # folds, analysis cost scale-independent) to the one-pass numpy
    # kernel — same bit-identical dots, map-only.
    scored = cell_order_frame(
        df, id_col, vec_col, centroids, keep_vec=True
    ).persist()  # cell scoring = n_centroids dots per row; feeds both sides

    index = scored.select(
        F.col("__id").alias("nid"),
        F.col("__v").alias("__vn"),
        F.element_at("__cells", 1).alias("__cell"),
    )
    probes = scored.select(
        F.col("__id").alias("qid"),
        F.col("__v").alias("__vq"),
        F.explode(F.slice("__cells", 1, n_probe)).alias("__cell"),
    )

    # Blockwise scoring per cell (the FAISS-IVF shape): instead of a
    # candidate equi-join that expands to |probes-in-cell| ×
    # |index-in-cell| rows each paying an interpreted per-pair
    # array-dot (measured 16s for 2M pairs at sf0.1), cogroup ships
    # each cell's probe/index vectors ONCE over Arrow and scores the
    # block with one folded numpy pass (``cosine_topk_block``). Per-cell
    # top-k bounds the output to k·n_probe candidates per query; the
    # exact global top-k window is then tiny. Scale notes: both sides
    # shuffle by cell id exactly once (same volume as the equi-join's
    # shuffle WITHOUT the pair expansion); a cell block must fit one
    # task's memory, so n_centroids grows ~√n to bound occupancy.
    out_schema = topk_schema(df.schema[id_col].dataType)
    out_arrow = to_arrow_schema(out_schema)

    def score_cell(probe: pa.Table, index: pa.Table) -> pa.Table:
        if probe.num_rows == 0 or index.num_rows == 0:
            return out_arrow.empty_table()
        return cosine_topk_block(
            out_arrow,
            probe.column("qid"),
            _vector_block(probe.column("__vq"), dim),
            index.column("nid"),
            _vector_block(index.column("__vn"), dim),
            k,
        )

    cand = (
        probes.groupBy("__cell")
        .cogroup(index.groupBy("__cell"))
        .applyInArrow(score_cell, schema=out_schema)
    )
    # Each index vector lives in exactly one cell → (qid, nid) pairs are
    # unique across cells; global exact top-k over ≤ k·n_probe
    # candidates per query.
    return global_topk(cand, k)


def assign_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """(__id, __cell) — each vector assigned to its single nearest
    centroid (max dot, ties to the higher cell id — the same
    reverse-array_sort order as ``ivf_cosine_topk``). One numpy pass
    (`cell_order_frame`, r14), no shuffle."""
    return cell_order_frame(df, id_col, vec_col, centroids).select(
        "__id", F.element_at("__cells", 1).alias("__cell")
    )


def ivf_cell_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.4,
    n_centroids: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
    refine_iters: int = 1,
    sample_cap: int = REFINE_SAMPLE_CAP,
) -> DataFrame:
    """SemDeDup-shape scalable embedding near-dup candidate generator:
    cluster the corpus into IVF cells, place every vector in its
    ``n_probe`` nearest cells (multi-probe — the same recall lever as
    ``ivf_cosine_topk``'s query-side probing), then emit WITHIN-CELL
    cosine pairs ≥ ``min_cosine`` (id_a < id_b), deduplicated to the
    lowest shared cell. Candidate volume is Σ|cell-list|²/2 — bounded
    by occupancy, never n² — the scale path that replaces
    ``dedup_embedding_exact_pairs``'s all-pairs oracle form.

    Per-cell blocks are scored with one Arrow round-trip and a
    dimension-folded numpy block dot (bitwise equal to the F.aggregate
    / DuckDB list_sum fold — see operators/blocks.py); per-pair cosine is
    independent of block membership, so the cross-block duplicates the
    final (id_a, id_b) groupBy collapses carry identical bits and the
    whole output is exactly oracle-replayable. Shuffles: one
    groupBy(cell) + one groupBy(pair) over the already-thresholded
    survivors. At 1000× the corpus, n_centroids grows ~√n so a cell
    block stays one task's memory (the ``ivf_cosine_topk`` contract).

    Recall caveat (documented, tested): pairs whose probed cell lists
    are disjoint are missed — the classic SemDeDup trade. On the
    weakly-clustered test embeddings, n_probe=2 finds 40/59 of the
    exact ≥0.4 pairs from 24% of the n² candidate volume
    (tests/test_dedup.py grades the subset + recall floor).
    """
    dim = len(centroids[0]) if centroids else _infer_dim(df, vec_col)
    df = valid_vectors(df, vec_col, dim)
    if centroids is None:
        centroids = sample_centroids(df, id_col, vec_col, n_centroids)
        if refine_iters:
            centroids = refine_centroids(
                df, id_col, vec_col, centroids, refine_iters,
                sample_cap=sample_cap,
            )

    # r14 (guide §4.2): probe-cell assignment via the numpy kernel —
    # see cell_order_frame; bit-identical order, map-only.
    probes = cell_order_frame(
        df, id_col, vec_col, centroids, keep_vec=True
    ).select(
        "__id",
        "__v",
        F.explode(F.slice("__cells", 1, n_probe)).alias("__cell"),
    )
    out_schema = T.StructType(
        [
            T.StructField("id_a", df.schema[id_col].dataType),
            T.StructField("id_b", df.schema[id_col].dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    out_arrow = to_arrow_schema(out_schema)

    def cell_pairs(key: tuple, tbl: pa.Table) -> pa.Table:
        if tbl.num_rows < 2:
            return out_arrow.empty_table()
        ids = tbl.column("__id")
        # ascending ids → upper triangle ⇒ id_a < id_b
        (rank,) = id_ranks(ids)
        order = np.argsort(rank, kind="stable")
        v = _vector_block(tbl.column("__v"), dim)[order]
        cos = cosine_block(v, v)
        ia, ib = np.triu_indices(len(order), k=1)
        keep = cos[ia, ib] >= min_cosine
        ia, ib = ia[keep], ib[keep]
        return pair_table(
            out_arrow,
            ids,
            order[ia],
            ids,
            order[ib],
            np.full(len(ia), key[0].as_py(), dtype=np.int32),
            cos[ia, ib],
        )

    raw = probes.groupBy("__cell").applyInArrow(cell_pairs, schema=out_schema)
    # A pair sharing several probed cells repeats with IDENTICAL cosine
    # bits (per-pair fold is block-independent); keep the lowest cell.
    # min(cosine) == the value — used over first() for determinism.
    return raw.groupBy("id_a", "id_b").agg(
        F.min("cell").alias("cell"), F.min("cosine").alias("cosine")
    )
