"""The two perfbench workloads.

Each workload loads its generated inputs through the engine's public
layers and runs one unit of work per ``run_unit`` call: a whole match
job (catalog_match) or one arriving batch (incremental_serve). With
tracing off the unit is the plan a user would write; with tracing on
each layer call is wrapped in a span and forced at its boundary, so
fused stages are split into their layers. Counts the harness adds to a
span either come from the count that forces the boundary or are taken
after the span has closed, so the span's jobs are the layer's own.

``check`` validates a unit's outputs against the generator's ground
truth and returns the list of failures; ``quality`` aggregates recall
and precision over the units checked so far.
"""

from __future__ import annotations

import inspect
import math
import os
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.functions.text import (
    char_ngrams_of_words,
    regex_tokenize,
    remove_stopwords,
)
from fuzzy_item_matching_spark.functions.vector import squared_dist
from fuzzy_item_matching_spark.operators.boosting import GB_ETA, gboost_fit
from fuzzy_item_matching_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signature,
    word_shingles,
)
from fuzzy_item_matching_spark.operators.features import tfidf_features
from fuzzy_item_matching_spark.operators.lsh import brp_hashes, lsh_sqdist_join, random_hyperplanes
from fuzzy_item_matching_spark.operators.merge import merge_upsert
from fuzzy_item_matching_spark.operators.similarity import (
    featurize_text,
    fuzzy_match_pairs,
    sparse_cosine_join,
)
from fuzzy_item_matching_spark.operators.versioned import VersionedTable
from fuzzy_item_matching_spark.queries.serving import _cap_candidates, make_match_score_udf
from fuzzy_item_matching_spark.tables import load_table

from gen import NEW_ID_BASE, Generated
from tracing import Tracer

# the defaults fuzzy_match_pairs passes to featurize_text, read from the
# engine so that the traced path below cannot drift from it
_FMP = inspect.signature(fuzzy_match_pairs).parameters
NGRAM_N = _FMP["ngram_n"].default
NUM_FEATURES = _FMP["num_features"].default
MAX_DF_RATIO = _FMP["max_df_ratio"].default
BINARY = inspect.signature(featurize_text).parameters["binary"].default


def _text_terms(text: str) -> F.Column:
    """functions.text half of featurize_text: tokenize, drop stopwords,
    char n-grams, feature-hash."""
    grams = char_ngrams_of_words(remove_stopwords(regex_tokenize(F.col(text))), n=NGRAM_N)
    if NUM_FEATURES is None:
        return grams
    return F.transform(grams, lambda g: F.pmod(F.hash(g), F.lit(NUM_FEATURES)).cast("string"))


def traced_fuzzy_match_pairs(
    tr: Tracer, left: DataFrame, right: DataFrame, id_col: str, text_col: str, min_sim: float
) -> DataFrame:
    """fuzzy_match_pairs in cross mode, called as its parts so that the
    text functions, the features and the cosine join each get a span.
    Its counts are taken after each span has closed."""
    tagged = left.select(F.lit("L").alias("__side"), id_col, text_col).unionByName(
        right.select(F.lit("R").alias("__side"), id_col, text_col)
    )
    id_cols = ["__side", id_col]
    with tr.span("functions.text") as text:
        terms = tr.force(tagged.select(*id_cols, _text_terms(text_col).alias("__grams")))
    with tr.span("operators.features") as features:
        feats = tr.force(
            tfidf_features(terms, id_cols, "__grams", binary=BINARY, max_df_ratio=MAX_DF_RATIO)
        )
    fa = feats.filter(F.col("__side") == "L").withColumnRenamed(id_col, "id_a")
    fb = feats.filter(F.col("__side") == "R").withColumnRenamed(id_col, "id_b")
    with tr.span("operators.similarity") as sim:
        pairs = tr.force(sparse_cosine_join(fa, fb, "id_a", "id_b", min_sim=min_sim), sim, "pairs_out")
    if tr.enabled:
        text["terms_out"] = terms.agg(F.sum(F.size("__grams"))).first()[0] or 0
        features["rows_out"] = feats.filter(F.col("weight") != 0.0).count()
        df = feats.groupBy("term").agg(
            F.sum((F.col("__side") == "L").cast("long")).alias("l"),
            F.sum((F.col("__side") == "R").cast("long")).alias("r"),
        )
        sim["partials"] = df.agg(F.sum(F.col("l") * F.col("r"))).first()[0] or 0
    return pairs


def _average_precision(scores: np.ndarray, labels: np.ndarray) -> float:
    """Step-wise average precision over distinct score thresholds (ties
    share a threshold), as sklearn's average_precision_score."""
    n_pos = int(labels.sum())
    if n_pos == 0:
        return 0.0
    order = np.argsort(-scores, kind="mergesort")
    s, y = scores[order], labels[order]
    last = np.r_[np.nonzero(np.diff(s))[0], len(s) - 1]  # end of each tie run
    tp = np.cumsum(y)[last]
    precision = tp / (last + 1)
    recall = tp / n_pos
    return float(np.sum(np.diff(np.r_[0.0, recall]) * precision))


class Workload:
    name = ""

    def __init__(self, gen: Generated, tmp: str) -> None:
        self.gen = gen
        self.tmp = tmp
        self.out_dir = os.path.join(tmp, "out")
        self.units = 0

    def setup(self, spark: SparkSession) -> None:
        """Load or register the workload's stored state."""

    def run_unit(self, spark: SparkSession, tr: Tracer) -> dict:
        raise NotImplementedError

    def check(self, spark: SparkSession, out: dict) -> list[str]:
        raise NotImplementedError

    def after_unit(self, spark: SparkSession) -> None:
        """Untimed clean-up between units."""
        spark.catalog.clearCache()

    def quality(self) -> dict:
        raise NotImplementedError

    def units_left(self) -> bool:
        return True

    def final_errors(self) -> list[str]:
        """Checks over the whole run, after its last unit."""
        return []

    def bytes_written(self, out: dict) -> int:
        return _dir_bytes(out["path"])


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---------------------------------------------------------------------------


class CatalogMatch(Workload):
    """NB1 featurize + NB2 candidate pairs and labels + NB3 boosted fit and
    scoring over two generated catalogs.

    Candidates come from two blocking schemes: the TF-IDF cosine join of
    fuzzy_match_pairs (cross mode) and MinHash LSH over the names' word
    sets. Each scheme's similarity is a model feature."""

    name = "catalog_match"
    MIN_SIM = 0.4
    MIN_JACCARD = 0.5
    N_HASHES = 32
    BANDS = 16
    ROUNDS = 1
    FEATURES = ["cosine", "jaccard", "price_diff", "len_diff"]
    RECALL_FLOOR = 0.9
    AP_FLOOR = 0.5

    def __init__(self, gen: Generated, tmp: str) -> None:
        super().__init__(gen, tmp)
        self.items = gen.params["n_a"] + gen.params["n_b"]
        self.recall: list[float] = []
        self.ap: list[float] = []

    def run_unit(self, spark, tr):
        path = os.path.join(self.out_dir, f"match_{self.units}")
        self.units += 1
        d = self.gen.data_dir
        with tr.span("tables.scan") as s:
            a = tr.force(load_table(spark, d, "catalog_a"), s, "rows_read")
            b = tr.force(load_table(spark, d, "catalog_b"), s, "rows_read")
            golden = tr.force(load_table(spark, d, "golden_matches"), s, "rows_read")
        if tr.enabled:
            pairs = traced_fuzzy_match_pairs(tr, a, b, "id", "name", self.MIN_SIM)
        else:
            pairs = fuzzy_match_pairs(a, b, "id", "name", min_sim=self.MIN_SIM)

        names = a.select("id", "name").unionByName(b.select("id", "name"))
        with tr.span("operators.dedup.minhash") as s:
            mh = (
                minhash_lsh_pairs(
                    names, "id", regex_tokenize("name"), n=1, n_hashes=self.N_HASHES,
                    bands=self.BANDS, min_jaccard=self.MIN_JACCARD,
                )  # a-side ids are all below b-side ids: cross pairs are (a, b)
                .join(a.select(F.col("id").alias("id_a")), "id_a", "left_semi")
                .join(b.select(F.col("id").alias("id_b")), "id_b", "left_semi")
                .persist()  # read by the candidate union and the output check
            )
            tr.force(mh, s, "verified_pairs")
        if tr.enabled:
            s["candidates"] = _minhash_candidates(names, "id", "name", 1, self.N_HASHES, self.BANDS)

        def side(df: DataFrame, tag: str) -> DataFrame:
            price = F.regexp_replace("price", r"\$", "").cast("double")
            return df.select(
                F.col("id").alias(f"id_{tag}"),
                price.alias(f"p_{tag}"),
                F.size(regex_tokenize("name")).alias(f"n_{tag}"),
            )

        with tr.span("pairs.label"):
            gold = golden.select(
                F.col("idA").alias("id_a"), F.col("idB").alias("id_b"), F.lit(1).alias("gold")
            )
            labeled = (
                pairs.join(mh, ["id_a", "id_b"], "full")
                .join(side(a, "a"), "id_a")
                .join(side(b, "b"), "id_b")
                .join(gold, ["id_a", "id_b"], "left")
                .select(
                    "id_a", "id_b",
                    F.coalesce("cosine", F.lit(0.0)).alias("cosine"),
                    F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
                    F.coalesce(
                        F.abs(F.col("p_a") - F.col("p_b")) / F.greatest("p_a", "p_b"), F.lit(1.0)
                    ).alias("price_diff"),
                    F.abs(F.col("n_a") - F.col("n_b")).cast("double").alias("len_diff"),
                    F.coalesce("gold", F.lit(0)).alias("label"),
                )
                .persist()  # read by the fit's passes and by scoring
            )
            tr.force(labeled)
        with tr.span("operators.boosting"):
            model = gboost_fit(labeled, self.FEATURES, rounds=self.ROUNDS).collect()
        with tr.span("pairs.score_write"):
            score = F.lit(0.0)
            for m in model:
                score = score + F.lit(GB_ETA) * F.when(
                    F.col(m["feature"]) <= F.lit(m["thr"]), F.lit(m["w_le"])
                ).otherwise(F.lit(m["w_gt"]))
            labeled.withColumn("score", score).write.mode("overwrite").parquet(path)
        return {"path": path, "mh": mh}

    def check(self, spark, out):
        t = self.gen.truth
        rows = spark.read.parquet(out["path"]).collect()
        errs = []
        bad_ids = sum(1 for r in rows if r.id_a not in t["a_ids"] or r.id_b not in t["b_ids"])
        if bad_ids:
            errs.append(f"{bad_ids} pairs with id_a not from A or id_b not from B")
        low = sum(1 for r in rows if not (r.cosine >= self.MIN_SIM or r.jaccard >= self.MIN_JACCARD))
        if low:
            errs.append(f"{low} pairs found by neither blocking scheme's threshold")
        low = 0
        for r in out["mh"].collect():
            wa, wb = _word_set(t["names"][r.id_a]), _word_set(t["names"][r.id_b])
            if len(wa & wb) / len(wa | wb) < self.MIN_JACCARD:
                low += 1
        if low:
            errs.append(f"{low} MinHash pairs with exact Jaccard below {self.MIN_JACCARD}")
        keys = {(r.id_a, r.id_b) for r in rows}
        if len(keys) != len(rows):
            errs.append(f"{len(rows) - len(keys)} duplicate pairs")
        wrong_label = sum(1 for r in rows if r.label != ((r.id_a, r.id_b) in t["golden"]))
        if wrong_label:
            errs.append(f"{wrong_label} pairs labeled against the golden mapping wrongly")
        recall = len(keys & t["golden"]) / len(t["golden"])
        ap = _average_precision(
            np.array([r.score for r in rows], dtype=float),
            np.array([r.label for r in rows], dtype=float),
        )
        if recall < self.RECALL_FLOOR:
            errs.append(f"match recall {recall:.4f} below floor {self.RECALL_FLOOR}")
        if ap < self.AP_FLOOR:
            errs.append(f"average precision {ap:.4f} below floor {self.AP_FLOOR}")
        self.recall.append(recall)
        self.ap.append(ap)
        out["items"] = self.items
        return errs

    def quality(self):
        return {"recall": float(np.median(self.recall)), "precision": float(np.median(self.ap))}


def _word_set(text: str) -> set[str]:
    return {t for t in re.split(r"[^\w\d]", text.lower()) if t}


def _minhash_candidates(
    docs: DataFrame, id_col: str, text_col: str, n: int, n_hashes: int, bands: int
) -> int:
    """Distinct id pairs colliding on at least one band of the MinHash
    signature minhash_lsh_pairs bands (before its size filter and its
    exact-Jaccard verification)."""
    r = n_hashes // bands
    sh = docs.select(
        F.col(id_col).alias("id"), word_shingles(regex_tokenize(text_col), n).alias("sh")
    ).filter(F.size("sh") > 0)
    sig = sh.select("id", minhash_signature(F.col("sh"), n_hashes, 42).alias("sig"))
    keys = [
        F.hash(F.lit(b), *[F.element_at("sig", b * r + i + 1) for i in range(r)]).cast("string")
        for b in range(bands)
    ]
    banded = sig.select("id", F.posexplode(F.array(*keys)).alias("band", "h"))
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(y, ["band", "h"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select("x.id", "y.id")
        .distinct()
        .count()
    )


# ---------------------------------------------------------------------------


class IncrementalServe(Workload):
    """NB3 'new products' path: LSH candidates of a batch against the
    stored snapshot, pair features, pandas-UDF score, top-k, then MERGE
    and commit a new snapshot."""

    name = "incremental_serve"
    THRESHOLD = 4.0  # squared distance
    N_TABLES = 10
    BUCKET_LENGTH = 1.0
    BUCKET_CAP = 256
    TOP_K = 5
    RECALL_FLOOR = 0.85

    def __init__(self, gen: Generated, tmp: str) -> None:
        super().__init__(gen, tmp)
        self.setups = 0
        self.hits = 0
        self.top1 = 0
        self.copies = 0

    def setup(self, spark):
        self.setups += 1
        self.vt = VersionedTable(spark, os.path.join(self.tmp, f"table_{self.setups}"))
        self.vt.write_version(spark.read.parquet(os.path.join(self.gen.data_dir, "stored.parquet")))
        spark.udf.register("match_score", make_match_score_udf())
        t = self.gen.truth
        self.state = dict(zip(t["stored_ids"].tolist(), t["stored"]))
        self.units = 0

    def run_unit(self, spark, tr):
        b = self.units
        self.units += 1
        truth = self.gen.truth["batches"][b]
        before = _dir_bytes(self.vt.path)
        with tr.span("operators.versioned.read") as read:
            stored = tr.force(self.vt.read(), read, "rows")
        with tr.span("tables.scan") as s:
            batch = tr.force(
                spark.read.parquet(os.path.join(self.gen.data_dir, f"batch_{b:03d}.parquet")),
                s, "rows_read",
            )
        new = batch.join(stored.select("vec_id"), "vec_id", "left_anti")
        emb = F.col("emb")
        with tr.span("operators.lsh") as s:
            pairs = tr.force(
                lsh_sqdist_join(
                    new, stored, "vec_id", "emb", threshold=self.THRESHOLD,
                    n_tables=self.N_TABLES, bucket_length=self.BUCKET_LENGTH, seed=42,
                    dim=self.gen.params["dim"], bucket_cap=self.BUCKET_CAP,
                ),
                s, "pairs_out",
            )
            cand = tr.force(_cap_candidates(pairs))
        if tr.enabled:
            s["candidates"] = self._lsh_candidates(new, stored)
            s["index_rows_hashed"] = read["rows"] * self.N_TABLES
        with tr.span("serving.score") as s:
            a = new.select(F.col("vec_id").alias("id_a"), emb.alias("__ea"))
            bb = stored.select(F.col("vec_id").alias("id_b"), emb.alias("__eb"))
            sl = F.slice
            feats = cand.join(a, "id_a").join(bb, "id_b").select(
                "id_a", "id_b",
                squared_dist(sl("__ea", 1, 64), sl("__eb", 1, 64)).alias("full_sqd"),
                squared_dist(sl("__ea", 1, 32), sl("__eb", 1, 32)).alias("head_sqd"),
                squared_dist(sl("__ea", 33, 32), sl("__eb", 33, 32)).alias("tail_sqd"),
            )
            scored = tr.force(
                feats.withColumn("score", F.expr("match_score(full_sqd, head_sqd, tail_sqd)")),
                s, "rows",
            )
            w = Window.partitionBy("id_a").orderBy(F.desc("score"), F.asc("id_b"))
            topk = (
                scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.TOP_K)
                .collect()
            )
        with tr.span("operators.merge") as s:
            merged = tr.force(merge_upsert(stored, batch, keys=["vec_id"]), s, "rows_rewritten")
        if tr.enabled:
            s["rows_rewritten_per_item"] = s["rows_rewritten"] / len(truth["ids"])
        with tr.span("operators.versioned.write") as s:
            self.vt.write_version(merged)
        written = _dir_bytes(self.vt.path) - before
        s["bytes_written"] = written
        return {"batch": b, "topk": topk, "written": written, "items": len(truth["ids"])}

    def _lsh_candidates(self, new: DataFrame, stored: DataFrame) -> int:
        """Σ over (table, bucket) of |new_b|·min(|stored_b|, cap), from the
        same hash family lsh_sqdist_join uses."""
        planes = random_hyperplanes(self.gen.params["dim"], self.N_TABLES, 42)

        def occupancy(df: DataFrame, col: str) -> DataFrame:
            return (
                df.select(F.posexplode(brp_hashes("emb", planes, self.BUCKET_LENGTH)).alias("t", "bkt"))
                .groupBy("t", "bkt")
                .agg(F.count(F.lit(1)).alias(col))
            )

        n = occupancy(new, "n").join(occupancy(stored, "s"), ["t", "bkt"])
        return n.agg(F.sum(F.col("n") * F.least("s", F.lit(self.BUCKET_CAP)))).first()[0] or 0

    def units_left(self) -> bool:
        return self.units < len(self.gen.truth["batches"])

    def bytes_written(self, out):
        return out["written"]

    def check(self, spark, out):
        truth = self.gen.truth["batches"][out["batch"]]
        arriving = dict(zip(truth["ids"].tolist(), truth["vecs"]))
        errs = []
        per_item: dict[int, list] = {}
        bad = 0
        for r in out["topk"]:
            a = arriving.get(r.id_a)
            bvec = self.state.get(r.id_b)
            if a is None or bvec is None or r.id_a < NEW_ID_BASE:
                errs.append(f"pair ({r.id_a}, {r.id_b}) is not (arriving new item, stored item)")
                continue
            d = (a - bvec) ** 2
            d1, d2, d3 = float(d.sum()), float(d[:32].sum()), float(d[32:].sum())
            expect = 1.0 / (1.0 + d1 + d2 + d3)
            if not math.isclose(r.score, expect, rel_tol=1e-9, abs_tol=1e-12):
                bad += 1
            per_item.setdefault(r.id_a, []).append((r.rank, r.id_b))
        if bad:
            errs.append(f"{bad} top-k scores differ from 1/(1+d1+d2+d3) recomputed in numpy")
        over = sum(1 for v in per_item.values() if len(v) > self.TOP_K)
        if over:
            errs.append(f"{over} items with more than {self.TOP_K} results")
        for nid, src in zip(truth["new_ids"].tolist(), truth["src_ids"].tolist()):
            got = sorted(per_item.get(nid, []))
            self.copies += 1
            self.hits += any(i == src for _, i in got)
            self.top1 += bool(got) and got[0][1] == src
        self.state.update(arriving)  # the batch is now committed
        return errs

    def quality(self):
        recall = self.hits / self.copies if self.copies else 0.0
        return {"recall": recall, "precision": self.top1 / self.copies if self.copies else 0.0}

    def final_errors(self) -> list[str]:
        recall = self.quality()["recall"]
        if recall < self.RECALL_FLOOR:
            return [f"serve recall {recall:.4f} below floor {self.RECALL_FLOOR}"]
        return []


WORKLOADS = {w.name: w for w in (CatalogMatch, IncrementalServe)}
