"""Round-15 optimization equality pins (guide §1: prove equivalence
when a query's internals are restructured).

Each test pins a round-15 plan change against a straight re-derivation
of the same quantity at sf0.001 — cheap, and kept in the FAST pytest
profile by design (tests/slow_tests.txt excludes current-round pins).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fuzzy_item_matching_spark.queries import load_all
from fuzzy_item_matching_spark.tables import load_table
from tests.conftest import SF_SMOKE

_REG = load_all()


def test_funnel_ingest_count_rides_exact_aggregate(spark):
    """dedup_funnel_counts r15: stage-1 n_docs comes from Σ group
    sizes over the exact-dedup aggregate instead of a second scan of
    the doubled ingest — must equal exactly 2 × |documents|."""
    rows = {
        r["name"]: r["n_docs"]
        for r in _REG["dedup_funnel_counts"].fn(spark, SF_SMOKE).collect()
    }
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert rows["ingest"] == 2 * n_docs
    # funnel monotonicity: every stage keeps at most the previous one
    assert (
        rows["ingest"] >= rows["exact_dedup"] >= rows["near_dedup"]
        >= rows["min_length"]
    )


def test_event_funnel_counts_match_unpersisted_recompute(spark):
    """rel_event_funnel r15: v/c persisted (3 events scans, was 6).
    Counts must equal a direct per-stage recomputation."""
    out = _REG["rel_event_funnel"].fn(spark, SF_SMOKE).collect()[0]
    e = load_table(spark, SF_SMOKE, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id").filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id").filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    assert out["n_view"] == v.count()
    assert out["n_click"] == c.count()
    assert out["n_purchase"] == p.count()


def test_hits_scores_persist_preserves_ranking(spark):
    """rel_hits_scores r15: the persisted edge list must yield the
    same top-k as the unpersisted plan (authority sums are exact
    BIGINTs, so equality is exact)."""
    got = [
        (r["p_partkey"], r["authority"], r["degree"])
        for r in _REG["rel_hits_scores"].fn(spark, SF_SMOKE).collect()
    ]
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a1 = e.groupBy("p").agg(F.count(F.lit(1)).alias("a"))
    h1 = e.join(a1, "p").groupBy("c").agg(F.sum("a").alias("h"))
    a2 = (
        e.join(h1, "c").groupBy("p")
        .agg(F.sum("h").alias("a"), F.count(F.lit(1)).alias("degree"))
    )
    want = [
        (r["p"], r["a"], r["degree"])
        for r in a2.orderBy(F.desc("a"), "p").limit(len(got)).collect()
    ]
    assert got == want


def test_stolcke_bigrams_match_positions_join(spark):
    """ts_stolcke_prune r15: the row-local zip-with-tail bigram build
    must produce the exact (h, w, c_hw) multiset of the old
    (doc_id, pos) positions self-join."""
    from fuzzy_item_matching_spark.functions.text import regex_tokenize

    d = load_table(spark, SF_SMOKE, "documents")
    tkp = d.select(
        "doc_id", F.posexplode(regex_tokenize("text")).alias("pos", "t")
    )
    a = tkp.select("doc_id", "pos", F.col("t").alias("h"))
    b = tkp.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("t").alias("w")
    )
    old = (
        a.join(b, ["doc_id", "pos"])
        .groupBy("h", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_hw"))
    )
    t = F.col("__t")
    new = (
        d.select(regex_tokenize("text").alias("__t"))
        .select(
            F.explode(
                F.zip_with(
                    F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                    F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                    lambda x, y: F.struct(x.alias("h"), y.alias("w")),
                )
            ).alias("p")
        )
        .select("p.h", "p.w")
        .groupBy("h", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_hw"))
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_coverage_greedy_matches_replay_over_positions_postings(spark):
    """ts_coverage_greedy r15: row-local bigram postings and a covered
    set derived by semi-join of the picked ids. Must equal a driver-side
    greedy replay over the old (doc_id, pos) self-join postings: same
    picks, same marginal gains, and covered_terms equal to the size of
    the replayed covered set."""
    from fuzzy_item_matching_spark.functions.text import regex_tokenize
    from fuzzy_item_matching_spark.queries.textstats import _COV_ROUNDS

    got = [
        (r["round"], r["doc_id"], r["gain"], r["covered_terms"])
        for r in _REG["ts_coverage_greedy"].fn(spark, SF_SMOKE).collect()
    ]
    d = load_table(spark, SF_SMOKE, "documents")
    tkp = d.select(
        "doc_id", F.posexplode(regex_tokenize("text")).alias("pos", "t")
    )
    a = tkp.select("doc_id", "pos", F.col("t").alias("h"))
    b = tkp.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("t").alias("w")
    )
    post: dict[int, set[str]] = {}
    for r in (
        a.join(b, ["doc_id", "pos"])
        .select("doc_id", F.concat_ws(" ", "h", "w").alias("term"))
        .distinct()
        .collect()
    ):
        post.setdefault(r["doc_id"], set()).add(r["term"])
    covered: set[str] = set()
    want = []
    for rnd in range(1, _COV_ROUNDS + 1):
        gains = {doc: len(terms - covered) for doc, terms in post.items()}
        doc = min((k for k, g in gains.items() if g > 0), key=lambda k: (-gains[k], k))
        covered |= post[doc]
        want.append((rnd, doc, gains[doc], len(covered)))
    assert sorted(got) == want


def test_corpus_clean_slim_anti_join_matches_oracle(spark):
    """pipe_corpus_clean r15: n_pieces is computed on the survivors
    BEFORE the near-dup anti-join. The composed DuckDB oracle keeps the
    old order (anti-join first, then n_pieces from the surviving rows'
    text), so equality at sf0.001 pins the reordering."""
    import os

    import duckdb

    from fuzzy_item_matching_spark.tables import TABLE_NAMES, table_path
    from tests.conftest import assert_matches_oracle

    q = _REG["pipe_corpus_clean"]
    con = duckdb.connect()
    try:
        for name in TABLE_NAMES:
            path = table_path(SF_SMOKE, name)
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        assert_matches_oracle(q.fn(spark, SF_SMOKE), con, q.oracle)
    finally:
        con.close()
