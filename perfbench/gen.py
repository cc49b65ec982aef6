"""Seeded input generator for the perfbench workloads.

Runs in the harness process before Spark starts, with numpy and pyarrow
only. Each workload gets a directory of parquet files (what the engine
reads) plus an in-memory ground truth (what the checks use). The same
seed gives byte-identical parquet; the size and skew parameters are
returned with the data so the run output can record them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

CATALOG_PARAMS = {
    "n_a": 500,  # rows of catalog_a
    "n_b": 500,  # rows of catalog_b
    "vocab": 4000,  # shared name/description vocabulary
    "vocab_skew": 0.6,  # zipf exponent of word frequencies (mild)
    "name_words": [3, 6],  # words per name after the brand
    "match_share": 0.8,  # share of catalog_a rows with a golden match
    "one_to_n_share": 0.03,  # share of matched rows with a second B copy
    "confusable_share": 0.15,  # B rows that are a different product named
    # like an A row (one word replaced): the hard negatives
    "null_desc_share": 0.1,
    "null_price_share": 0.05,
    "price_jitter": 0.15,  # matched prices differ by at most this share
    "brands": 50,
}

SERVE_PARAMS = {
    "stored": 15000,  # vectors in the initial snapshot
    "dim": 64,
    "clusters": 600,
    "center_scale": 8.0,  # per-dimension std of cluster centers
    "item_noise": 0.15,  # per-dimension std of items around their center
    "copy_noise": 0.05,  # per-dimension std of an arriving copy
    "update_noise": 0.02,  # per-dimension drift of a re-ingested item
    "batch": 150,  # arriving items per batch
    "update_share": 0.3,  # re-ingested share of a batch; rest are new
    "batches": 24,  # batches generated (a run stops when its time is up)
}

NEW_ID_BASE = 10_000_000  # ids of arriving new serve items
B_ID_BASE = 1_000_000  # catalog_b ids, disjoint from catalog_a


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct random lowercase words of 4-9 letters."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        lens = rng.integers(4, 10, size=n)
        for ln in lens:
            w = "".join(LETTERS[rng.integers(0, 26, size=ln)])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return np.array(out)


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write(table: dict, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.table(table, schema=schema), path, compression="snappy")


@dataclass
class Generated:
    """Parquet inputs written under ``data_dir`` plus the ground truth."""

    data_dir: str
    params: dict
    truth: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# catalog_match: two catalogs and a golden mapping (FIXTURES.md §1-3)


def _perturb(rng: np.random.Generator, words: list[str], vocab: np.ndarray) -> list[str]:
    """One of: a typo in one word, two adjacent words swapped, an extra
    token inserted."""
    w = list(words)
    kind = rng.integers(0, 3)
    if kind == 0:
        i = int(rng.integers(1, len(w)))  # keep the brand intact
        word = list(w[i])
        j = int(rng.integers(0, len(word)))
        word[j] = LETTERS[rng.integers(0, 26)]
        w[i] = "".join(word)
    elif kind == 1:
        i = int(rng.integers(1, len(w) - 1))
        w[i], w[i + 1] = w[i + 1], w[i]
    else:
        w.insert(int(rng.integers(1, len(w) + 1)), str(vocab[rng.integers(0, len(vocab))]))
    return w


def gen_catalog(seed: int, out_dir: str, **overrides) -> Generated:
    p = {**CATALOG_PARAMS, **overrides}
    rng = np.random.default_rng([seed, 1])
    vocab = _words(rng, p["vocab"])
    brands = _words(rng, p["brands"])
    probs = _zipf_p(len(vocab), p["vocab_skew"])
    lo, hi = p["name_words"]

    def name() -> list[str]:
        k = int(rng.integers(lo, hi + 1))
        return [str(brands[rng.integers(0, len(brands))])] + list(
            rng.choice(vocab, size=k, p=probs)
        )

    def desc() -> str | None:
        if rng.random() < p["null_desc_share"]:
            return None
        return " ".join(rng.choice(vocab, size=int(rng.integers(0, 31)), p=probs))

    def price(base: float | None = None) -> str | None:
        if rng.random() < p["null_price_share"]:
            return None
        if base is None:
            v = float(np.exp(rng.uniform(np.log(5.0), np.log(2000.0))))
        else:
            v = base * (1.0 + rng.uniform(-p["price_jitter"], p["price_jitter"]))
        return f"${v:.2f}"

    n_a, n_b = p["n_a"], p["n_b"]
    a_names = [name() for _ in range(n_a)]
    a_price_val = np.exp(rng.uniform(np.log(5.0), np.log(2000.0), size=n_a))
    a_price = [
        None if rng.random() < p["null_price_share"] else f"${v:.2f}" for v in a_price_val
    ]
    a_desc = [desc() for _ in range(n_a)]

    matched = rng.permutation(n_a)[: int(p["match_share"] * n_a)]
    extra = matched[: int(p["one_to_n_share"] * len(matched))]
    b_rows: list[tuple] = []  # (name, desc, price, src_a_index or -1)
    for ai in list(matched) + list(extra):
        b_rows.append(
            (_perturb(rng, a_names[ai], vocab), desc(), price(float(a_price_val[ai])), int(ai))
        )
    for ai in rng.integers(0, n_a, size=int(p["confusable_share"] * n_b)):
        w = list(a_names[ai])
        w[int(rng.integers(1, len(w)))] = str(vocab[rng.integers(0, len(vocab))])
        b_rows.append((w, desc(), price(), -1))
    while len(b_rows) < n_b:
        b_rows.append((name(), desc(), price(), -1))
    order = rng.permutation(len(b_rows))
    b_rows = [b_rows[i] for i in order]

    a_ids = np.arange(1, n_a + 1, dtype=np.int64)
    b_ids = np.arange(B_ID_BASE + 1, B_ID_BASE + 1 + len(b_rows), dtype=np.int64)
    golden = sorted(
        (int(a_ids[src]), int(bid)) for bid, (_, _, _, src) in zip(b_ids, b_rows) if src >= 0
    )

    os.makedirs(out_dir, exist_ok=True)
    cat_schema = pa.schema(
        [("id", pa.int64()), ("name", pa.string()), ("description", pa.string()),
         ("price", pa.string())]
    )
    _write(
        {"id": a_ids, "name": [" ".join(n) for n in a_names], "description": a_desc,
         "price": a_price},
        os.path.join(out_dir, "catalog_a.parquet"), cat_schema,
    )
    _write(
        {"id": b_ids, "name": [" ".join(r[0]) for r in b_rows],
         "description": [r[1] for r in b_rows], "price": [r[2] for r in b_rows],
         "manufacturer": [str(brands[i]) for i in rng.integers(0, len(brands), size=len(b_rows))]},
        os.path.join(out_dir, "catalog_b.parquet"),
        cat_schema.append(pa.field("manufacturer", pa.string())),
    )
    _write(
        {"idA": [g[0] for g in golden], "idB": [g[1] for g in golden]},
        os.path.join(out_dir, "golden_matches.parquet"),
        pa.schema([("idA", pa.int64()), ("idB", pa.int64())]),
    )
    truth = {
        "a_ids": set(a_ids.tolist()),
        "b_ids": set(b_ids.tolist()),
        "golden": set(golden),
        "names": {
            **{int(i): " ".join(n) for i, n in zip(a_ids, a_names)},
            **{int(i): " ".join(r[0]) for i, r in zip(b_ids, b_rows)},
        },
    }
    return Generated(out_dir, {**p, "golden_pairs": len(golden)}, truth)


# ---------------------------------------------------------------------------
# incremental_serve: a stored snapshot of clustered vectors and a stream
# of arriving batches (updates of stored items + noisy copies as new items)


def gen_serve(seed: int, out_dir: str, **overrides) -> Generated:
    p = {**SERVE_PARAMS, **overrides}
    rng = np.random.default_rng([seed, 2])
    dim, n = p["dim"], p["stored"]
    centers = rng.normal(0.0, p["center_scale"], size=(p["clusters"], dim))
    stored = centers[rng.integers(0, p["clusters"], size=n)] + rng.normal(
        0.0, p["item_noise"], size=(n, dim)
    )
    stored_ids = np.arange(1, n + 1, dtype=np.int64)

    n_upd = int(round(p["batch"] * p["update_share"]))
    n_new = p["batch"] - n_upd
    if n_new * p["batches"] > n:
        raise ValueError("serve: more arriving copies than stored sources")
    # every copy has a distinct source, so a source's nearest neighbour
    # is never an earlier copy of itself
    sources = rng.permutation(n)[: n_new * p["batches"]].reshape(p["batches"], n_new)

    os.makedirs(out_dir, exist_ok=True)
    vec_schema = pa.schema([("vec_id", pa.int64()), ("emb", pa.list_(pa.float64()))])
    _write({"vec_id": stored_ids, "emb": list(stored)},
           os.path.join(out_dir, "stored.parquet"), vec_schema)

    batches = []
    next_id = NEW_ID_BASE + 1
    for b in range(p["batches"]):
        upd_idx = rng.choice(n, size=n_upd, replace=False)
        upd_vec = stored[upd_idx] + rng.normal(0.0, p["update_noise"], size=(n_upd, dim))
        src = sources[b]
        new_vec = stored[src] + rng.normal(0.0, p["copy_noise"], size=(n_new, dim))
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        ids = np.concatenate([stored_ids[upd_idx], new_ids])
        vecs = np.concatenate([upd_vec, new_vec])
        _write({"vec_id": ids, "emb": list(vecs)},
               os.path.join(out_dir, f"batch_{b:03d}.parquet"), vec_schema)
        batches.append(
            {"ids": ids, "vecs": vecs, "new_ids": new_ids, "src_ids": stored_ids[src]}
        )
    truth = {"stored_ids": stored_ids, "stored": stored, "batches": batches}
    return Generated(out_dir, {**p, "batch_new": n_new, "batch_updates": n_upd}, truth)


GENERATORS = {
    "catalog_match": gen_catalog,
    "incremental_serve": gen_serve,
}
