"""Bucketed random-projection LSH — engine-native approxSimilarityJoin.

The reference's V2/J4 (`02_Build Training Pairs.py:62-69, 92-106`;
`03_Train & Deploy Model.py:506-538`) uses
``BucketedRandomProjectionLSH(bucketLength, numHashTables)``:
hash_i(v) = floor(dot(v, g_i) / bucketLength) for seeded unit gaussian
vectors g_i; two rows are candidates iff they collide in ≥1 table, and
the join keeps candidates with true distance ≤ threshold.

This module is the same algorithm as explicit DataFrame ops:
hyperplanes are tiny seeded constants shipped with the task closure (a
few KB), bucketing is one dimension-ordered numpy fold per Arrow batch
(``mapInArrow``), and each (table, bucket) block is verified by a
grouped / cogrouped ``applyInArrow`` kernel over flat vector buffers
(``operators/blocks.py``). Recall < 1 by construction; precision = 1
after the exact distance filter.
Correctness contract (SURVEY §7.3): LSH pairs ⊆ exact pairs, recall
reported vs `exact_sqdist_join` — never hash-equality.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.functions.vector import dot
from fuzzy_item_matching_spark.operators.blocks import (
    _folded_dot_block,
    _folded_sqdist_block,
    _infer_dim,
    _vector_block,
    bit_strings,
    cosine_topk_block,
    fixed_lists,
    global_topk,
    id_ranks,
    pair_table,
    topk_schema,
    valid_vectors,
)


def random_hyperplanes(dim: int, n_tables: int, seed: int = 42) -> list[list[float]]:
    """Seeded unit gaussian projection vectors (one per hash table) —
    the engine-native equivalent of MLlib's seeded randUnitVectors."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_tables, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    return [[float(x) for x in p] for p in planes]


def brp_hashes(
    vec: Column | str, planes: list[list[float]], bucket_length: float = 1.0
) -> Column:
    """array of bucket ids, one per hash table:
    floor(dot(v, g_i) / bucketLength)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.array(
        *[
            F.floor(
                dot(v, F.array(*[F.lit(x) for x in plane])) / F.lit(bucket_length)
            ).cast("long")
            for plane in planes
        ]
    )


def sign_bucket_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int,
    bits_per_table: int,
    seed: int,
    dim: int,
    probe_budget: int | None = None,
    max_flip: int = 3,
) -> DataFrame:
    """(__id, __tbl, __bkt, __v) sign-LSH bucket frame via ONE folded
    numpy pass per Arrow batch (``mapInArrow``; the column-expression
    form is an interpreted per-element fold, measured 7-10 s alone at
    sf0.1). Fold order matches the expression/oracle exactly
    (_folded_dot_block). Bucket strings are built for the whole batch
    at once from the sign-bit matrix, and each table's output batch
    reuses the input vector column as is. Shared by lsh_cosine_topk and
    the multiprobe variant.

    ``probe_budget=T`` adds a ``__probes`` array<string> column: the
    T neighbor buckets obtained by flipping the perturbation SETS
    (size 1..max_flip) with the smallest total hyperplane margin
    Σ|dot(v, plane)| — ties broken by the subset's bit tuple,
    ascending — i.e. the query-directed probing sequence of Lv et al.
    (VLDB 2007): a bit's flip probability for a true near neighbor
    falls with its margin, so low-margin sets are where missed
    neighbors live. The margins fall out of the same folded dot pass
    that computes the signs, so directing is free at bucketing time.
    Each probe is the own bucket's bits XOR the ranked subset's flip
    mask. The own bucket is NOT in ``__probes``."""
    df = valid_vectors(df, vec_col, dim)  # the flat reshape needs dim-long rows
    planes = random_hyperplanes(dim, n_tables * bits_per_table, seed)
    planes_arr = np.asarray(planes, dtype=np.float64)  # (tables·bits, dim)

    id_type = df.schema[id_col].dataType
    fields = [
        T.StructField("__id", id_type),
        T.StructField("__tbl", T.IntegerType()),
        T.StructField("__bkt", T.StringType()),
        T.StructField("__v", T.ArrayType(T.DoubleType())),
    ]
    if probe_budget is not None:
        fields.append(T.StructField("__probes", T.ArrayType(T.StringType())))
    bucket_schema = T.StructType(fields)
    names = bucket_schema.fieldNames()
    # lexicographically sorted subsets == the (score, j1, j2, j3)
    # tie-break the SQL oracle replays with NULLS FIRST ranking
    subsets = sorted(
        s
        for r in range(1, max_flip + 1)
        for s in itertools.combinations(range(bits_per_table), r)
    )
    flip_masks = np.zeros((len(subsets), bits_per_table), dtype=np.uint8)
    for si, s in enumerate(subsets):
        flip_masks[si, list(s)] = 1

    def bucketize(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids, vecs = b.column(0), b.column(1)
            acc = _folded_dot_block(_vector_block(vecs, dim), planes_arr)
            bits = (acc >= 0).astype(np.uint8)
            for t in range(n_tables):
                sl = slice(t * bits_per_table, (t + 1) * bits_per_table)
                cols = [
                    ids,
                    pa.array(np.full(n, t, dtype=np.int32)),
                    bit_strings(bits[:, sl]),
                    vecs,
                ]
                if probe_budget is not None:
                    m = np.abs(acc[:, sl])
                    # left-to-right addition per subset — the exact
                    # fold the oracle's a.m + b.m + c.m replays
                    scores = np.empty((n, len(subsets)))
                    for si, s in enumerate(subsets):
                        scores[:, si] = m[:, s[0]]
                        for j in s[1:]:
                            scores[:, si] += m[:, j]
                    # columns are in subset-tuple order, so a stable
                    # argsort realizes the (score, tuple) tie-break
                    order = np.argsort(scores, axis=1, kind="stable")[
                        :, :probe_budget
                    ]
                    probes = bits[:, None, sl] ^ flip_masks[order]
                    cols.append(
                        fixed_lists(
                            bit_strings(probes.reshape(-1, bits_per_table)), n
                        )
                    )
                yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).mapInArrow(bucketize, schema=bucket_schema)


def lsh_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_tables: int = 16,
    bits_per_table: int = 4,
    seed: int = 42,
    dim: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k per vector — the ANN scale path
    (brute-force twin: queries/vectors.vec_knn_bruteforce).

    Candidates come from sign-LSH bucket collisions (any table); each
    bucket block is scored with one numpy pass (dimension-ordered
    accumulation + one IEEE division per pair → bitwise equal to the
    fold-based expression and the SQL oracle) and pruned to k per
    query within the bucket — any global top-k pair is within the
    top-k of every bucket containing it (same total order), so the
    pruning is lossless. Duplicate pairs from multi-table collisions
    carry identical cosines → distinct collapses them; an exact
    row_number window over the tiny survivor set (≤ k·n_tables per
    query) finishes. Work scales with collision counts (tunable via
    bits_per_table), never n². Recall < 1 by construction; graded in
    tests/ vs brute force.

    ``bucket_cap``: with a FIXED bucket geometry (2^bits buckets per
    table) occupancy grows linearly with the corpus and the per-bucket
    self-score goes quadratic — the ×25 harness measured the
    graph-ANN build at 35.8× for 25× data. The cap is the
    lsh_sqdist_join posting-list truncation applied to self-join
    mode: ONLY the bucket_cap lowest-id rows per (table, bucket) are
    indexable as NEIGHBORS, while every row still queries — per-query
    work bounds at n_tables·bucket_cap regardless of density. The
    returned k best among indexable mates; rows past the cap in an
    overfull bucket are simply not returnable from that bucket (they
    still earn their own out-edges). Compute bounds at occupancy·cap
    per bucket; pair the cap with MORE BITS when group memory, not
    compute, is the binding constraint.
    """
    if dim is None:
        dim = _infer_dim(df, vec_col)
    buckets = sign_bucket_frame(
        df, id_col, vec_col, n_tables, bits_per_table, seed, dim
    )
    out_schema = topk_schema(df.schema[id_col].dataType)
    out_arrow = to_arrow_schema(out_schema)

    def score_bucket(tbl: pa.Table) -> pa.Table:
        if tbl.num_rows < 2:
            return out_arrow.empty_table()
        v = _vector_block(tbl.column("__v"), dim)
        ids = tbl.column("__id")
        keep = np.arange(tbl.num_rows)
        if bucket_cap is not None and tbl.num_rows > bucket_cap:
            # index side = the bucket_cap lowest ids (deterministic
            # posting-list truncation); query side = every row
            (rank,) = id_ranks(ids)
            keep = np.sort(np.argsort(rank, kind="stable")[:bucket_cap])
        return cosine_topk_block(out_arrow, ids, v, ids.take(keep), v[keep], k)

    cand = (
        buckets.groupBy("__tbl", "__bkt")
        .applyInArrow(score_bucket, schema=out_schema)
        .distinct()
    )
    return global_topk(cand, k)


def lsh_multiprobe_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_tables: int = 4,
    bits_per_table: int = 6,
    seed: int = 42,
    dim: int | None = None,
    probe_budget: int | None = None,
    max_flip: int = 3,
) -> DataFrame:
    """Multi-probe sign-LSH cosine top-k (Lv et al., VLDB 2007): each
    query probes its OWN bucket plus neighbor buckets in each table,
    so one table does the recall work of ~bits tables. The index
    stays n_tables small (vs lsh_cosine_topk's 16 for similar
    recall): at 100 TB the index frame is the replicated/broadcast
    state, and multiprobe shifts cost from INDEX SIZE (memory, build
    shuffle) to QUERY FAN-OUT (cheap map-side row expansion), which
    is the right trade when queries stream against a resident index.

    ``probe_budget=None`` flips every single bit (bits+1 probes per
    table — the exhaustive-1-flip baseline): the directed path with
    ``probe_budget=bits_per_table, max_flip=1``, whose ranked single
    flips are exactly every bit.
    ``probe_budget=T`` is Lv et al.'s actual contribution,
    QUERY-DIRECTED probing: rank the perturbation SETS of up to
    ``max_flip`` bits by total hyperplane margin Σ|dot(v, plane)| —
    P[a bit differs for a true neighbor] falls with its margin, so
    low-margin sets carry nearly all the residual recall — and probe
    only the best T. Measured on the sf0.01 embeddings at 2×6 bits:
    T=13 directed probes beat 4-table exhaustive 1-flip recall
    (0.713 vs 0.679) with HALF the index (2 tables), equal probe
    rows per query.

    Verification is BLOCKWISE: probes and index rows cogroup on
    (table, bucket) and each block is scored with one folded numpy
    pass (dimension-ordered accumulation + one IEEE division per pair
    → bitwise equal to the fold expression and the SQL oracle), pruned
    to k per query in-block (lossless: a global top-k pair is within
    the top-k of every block containing it) — the
    lsh_cosine_topk/lsh_sqdist_join discipline, vs a per-pair
    interpreted cosine fold. Candidates still come only from
    (table, bucket) collisions; never n².
    """
    if dim is None:
        dim = _infer_dim(df, vec_col)
    if probe_budget is None:
        probe_budget, max_flip = bits_per_table, 1
    framed = sign_bucket_frame(
        df, id_col, vec_col, n_tables, bits_per_table, seed, dim,
        probe_budget=probe_budget, max_flip=max_flip,
    ).persist()
    index = framed.select("__tbl", "__bkt", "__id", "__v")
    qside = framed.select(
        F.col("__id").alias("__qid"),
        "__tbl",
        F.explode(
            F.concat(F.array(F.col("__bkt")), F.col("__probes"))
        ).alias("__bkt"),
        "__v",
    )
    out_schema = topk_schema(df.schema[id_col].dataType)
    out_arrow = to_arrow_schema(out_schema)

    def score_block(q: pa.Table, i: pa.Table) -> pa.Table:
        if q.num_rows == 0 or i.num_rows == 0:
            return out_arrow.empty_table()
        return cosine_topk_block(
            out_arrow,
            q.column("__qid"),
            _vector_block(q.column("__v"), dim),
            i.column("__id"),
            _vector_block(i.column("__v"), dim),
            k,
        )

    scored = (
        qside.groupBy("__tbl", "__bkt")
        .cogroup(index.groupBy("__tbl", "__bkt"))
        .applyInArrow(score_block, schema=out_schema)
        .distinct()  # cross-block duplicates carry identical cosines
    )
    return global_topk(scored, k)


def lsh_sqdist_join(
    left: DataFrame,
    right: DataFrame | None,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_tables: int = 10,
    bucket_length: float = 1.0,
    seed: int = 42,
    dim: int | None = None,
    dist_col: str = "sqdist",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate squared-distance join (J4). ``right=None`` → self-join
    dedup mode (unordered pairs, id_a < id_b).

    ``bucket_cap`` (pair mode only): keep at most this many RIGHT-side
    rows per (table, bucket) — the bucket_cap lowest ids, a
    deterministic index truncation. On a densifying corpus the bucket
    join's candidate volume grows with Σ |left_b|·|right_b| — per
    ARRIVING item it grows linearly with corpus density, with no upper
    bound (the ×25 scaling run measured the uncapped serving flow
    going quadratic). A capped index bounds comparisons per arrival at
    n_tables·bucket_cap regardless of corpus size — the posting-list
    truncation every production vector index applies; recall beyond
    the cap requires finer bucket geometry (smaller bucket_length /
    more tables), which is an index-tuning decision, not a join-shape
    one.

    Plan: bucket ids (one dimension-ordered numpy fold per Arrow batch,
    ``mapInArrow``) → one row per (table_idx, bucket) carrying the
    vector → grouped (self) / cogrouped (pair) ``applyInArrow`` scoring
    each bucket block with ONE numpy pass over the block's flat vector
    buffer (dimension-ordered accumulation → bitwise equal to the
    fold-based expression and the SQL oracle) → threshold filter inside
    the block → distinct surviving pairs. Vectors stay Arrow list
    buffers end to end: no per-row Python object is ever built.

    Why blockwise instead of the ids-only equi-join + vector re-join:
    candidate pairs vastly outnumber surviving pairs, and the pair-level
    distance expression is an interpreted per-element fold (measured
    16s for 2M candidates at sf0.1 vs ~2s blockwise). Shuffle trade:
    vectors cross the exchange n_tables× (n·tables·dim·8B) instead of
    candidate-id pairs (cand·16B) — blockwise shuffles less whenever
    cand > 2·n·tables·dim/
    (pair bytes/8), i.e. whenever collisions are non-trivial, and the
    filtered output (not the candidate set) is all that's left after.
    Bucket skew: a block must fit one task (bucket_length controls
    occupancy); beyond that, AQE can't split an Arrow group — shrink
    bucket_length or add tables.
    """
    if dim is None:
        dim = _infer_dim(left, vec_col)
    # the flat-buffer reshape needs every vector non-NULL and exactly dim long
    left = valid_vectors(left, vec_col, dim)
    if right is not None:
        right = valid_vectors(right, vec_col, dim)
    planes = random_hyperplanes(dim, n_tables, seed)
    planes_arr = np.asarray(planes, dtype=np.float64)  # (tables, dim)

    def buckets(df: DataFrame, out_id: str) -> DataFrame:
        # The n_tables per-row dots run as ONE dimension-ordered numpy
        # fold per Arrow batch instead of the interpreted per-element
        # expression fold. The fold order is the expression dot's
        # left-to-right accumulation exactly, and floor(acc/bucket_length)
        # on float64 matches Spark's Divide+floor — bit-identical bucket
        # ids. Each table's output batch reuses the input vector column
        # as is, so replicating a vector per table costs no Python work.
        id_type = df.schema[out_id].dataType
        schema = T.StructType(
            [
                T.StructField(out_id, id_type),
                T.StructField("__tbl", T.IntegerType()),
                T.StructField("__bkt", T.LongType()),
                T.StructField("__v", T.ArrayType(T.DoubleType())),
            ]
        )

        def bucketize(batches):
            for b in batches:
                n = b.num_rows
                if n == 0:
                    continue
                ids, vecs = b.column(0), b.column(1)
                acc = _folded_dot_block(_vector_block(vecs, dim), planes_arr)
                bkt = np.floor(acc / bucket_length).astype(np.int64)
                for t in range(n_tables):
                    yield pa.RecordBatch.from_arrays(
                        [
                            ids,
                            pa.array(np.full(n, t, dtype=np.int32)),
                            pa.array(bkt[:, t]),
                            vecs,
                        ],
                        names=[out_id, "__tbl", "__bkt", "__v"],
                    )

        return df.select(out_id, "__v").mapInArrow(bucketize, schema=schema)

    self_mode = right is None
    id_type = left.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField(dist_col, T.DoubleType()),
        ]
    )
    out_arrow = to_arrow_schema(out_schema)
    la = left.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    ba = buckets(la, "id_a")

    if self_mode:

        def score_self(tbl: pa.Table) -> pa.Table:
            if tbl.num_rows < 2:
                return out_arrow.empty_table()
            v = _vector_block(tbl.column("__v"), dim)
            ids = tbl.column("id_a")
            idn = ids.to_numpy()
            d2 = _folded_sqdist_block(v, v)
            ia, ib = np.nonzero((idn[:, None] < idn[None, :]) & (d2 <= threshold))
            return pair_table(out_arrow, ids, ia, ids, ib, d2[ia, ib])

        scored = ba.groupBy("__tbl", "__bkt").applyInArrow(
            score_self, schema=out_schema
        )
    else:
        rb = buckets(
            right.select(
                F.col(id_col).alias("id_b"),
                F.col(vec_col).cast("array<double>").alias("__v"),
            ),
            "id_b",
        )
        if bucket_cap is not None:
            wb = Window.partitionBy("__tbl", "__bkt").orderBy("id_b")
            rb = (
                rb.withColumn("__brn", F.row_number().over(wb))
                .filter(F.col("__brn") <= bucket_cap)
                .drop("__brn")
            )

        def score_pair(a: pa.Table, b: pa.Table) -> pa.Table:
            if a.num_rows == 0 or b.num_rows == 0:
                return out_arrow.empty_table()
            d2 = _folded_sqdist_block(
                _vector_block(a.column("__v"), dim), _vector_block(b.column("__v"), dim)
            )
            ia, ib = np.nonzero(d2 <= threshold)
            return pair_table(
                out_arrow, a.column("id_a"), ia, b.column("id_b"), ib, d2[ia, ib]
            )

        scored = (
            ba.groupBy("__tbl", "__bkt")
            .cogroup(rb.groupBy("__tbl", "__bkt"))
            .applyInArrow(score_pair, schema=out_schema)
        )
    # a pair colliding in several tables is scored per table with an
    # identical distance → distinct collapses the duplicates
    return scored.distinct()
