"""Tests for the round-4b operators: PageRank, decayed sums, seasonal
anomaly, term-label PMI, prefix-filter Jaccard join, all-pairs cosine,
weighted sampling."""

import hashlib
import math

import pyspark.sql.functions as F
import pytest

from semantic_index_spark.operators import dedup as D
from semantic_index_spark.operators import graph as G
from semantic_index_spark.operators import skew as SK
from semantic_index_spark.operators import text_analysis as TA
from semantic_index_spark.operators import timeseries as TS
from semantic_index_spark.plans.explain import formatted_plan
from semantic_index_spark.session import load_table


# ------------------------------------------------------------- pagerank


def test_pagerank_is_probability_distribution(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["src", "dst"]
    )
    ranks = {r["node"]: r["rank"] for r in G.pagerank(edges, iterations=5).collect()}
    assert set(ranks) == {"a", "b", "c"}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_uniform_on_symmetric_ring(spark):
    # a symmetric ring is a doubly-stochastic walk: uniform is stationary,
    # so every iterate stays exactly uniform
    n = 5
    ring = [(str(i), str((i + 1) % n)) for i in range(n)]
    ring += [(d, s) for s, d in ring]
    ranks = G.pagerank(
        spark.createDataFrame(ring, ["src", "dst"]), iterations=3
    ).collect()
    for r in ranks:
        assert abs(r["rank"] - 1.0 / n) < 1e-12


def test_pagerank_hub_outranks_leaves(spark):
    # symmetric star: the hub accumulates every leaf's mass but spreads
    # its own over 6 leaves, so it strictly outranks each of them
    edges = [(f"leaf{i}", "hub") for i in range(6)] + [
        ("hub", f"leaf{i}") for i in range(6)
    ]
    ranks = {
        r["node"]: r["rank"]
        for r in G.pagerank(
            spark.createDataFrame(edges, ["src", "dst"]), iterations=4
        ).collect()
    }
    assert ranks["hub"] > max(v for k, v in ranks.items() if k != "hub")


def test_pagerank_dangling_mass_conserved(spark):
    # "b" has no out-edges: without the dangling fix its mass would leak
    # and the ranks would no longer sum to 1
    edges = spark.createDataFrame([("a", "b"), ("c", "a")], ["src", "dst"])
    ranks = G.pagerank(edges, iterations=4).collect()
    assert abs(sum(r["rank"] for r in ranks) - 1.0) < 1e-9


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("c", "d")]
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n, d = len(nodes), 0.85
    out = {v: sum(1 for s, _ in edges if s == v) for v in nodes}
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        nxt = np.full(n, (1 - d) / n)
        dang = sum(r[idx[v]] for v in nodes if out[v] == 0)
        nxt += d * dang / n
        for s, t in edges:
            nxt[idx[t]] += d * r[idx[s]] / out[s]
        r = nxt
    got = {
        row["node"]: row["rank"]
        for row in G.pagerank(
            spark.createDataFrame(edges, ["src", "dst"]), iterations=3
        ).collect()
    }
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v


# ---------------------------------------------------- time-decayed sums


def test_time_decayed_sum_hand_computed(spark):
    rows = [
        # group g: anchor is the max ts (t=86400*2 s); ages 0, 1, 2 days
        ("g", "2024-01-03 00:00:00", 10.0),
        ("g", "2024-01-02 00:00:00", 10.0),
        ("g", "2024-01-01 00:00:00", 10.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = TS.time_decayed_sum(df, "ts", "value", "k", half_life_days=1.0).collect()
    expect = 10.0 * (1 + 0.5 + 0.25)
    assert len(out) == 1
    assert abs(out[0]["decayed_sum"] - expect) < 1e-6
    assert out[0]["n_events"] == 3


def test_time_decayed_sum_recent_beats_large_old(spark):
    rows = [
        ("new", "2024-06-30 00:00:00", 100.0),
        ("old", "2024-01-01 00:00:00", 1000.0),
        # anchor row so both groups share the same "now"
        ("new", "2024-07-01 00:00:00", 0.0),
        ("old", "2024-07-01 00:00:00", 0.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        r["k"]: r["decayed_sum"]
        for r in TS.time_decayed_sum(df, "ts", "value", "k", 7.0).collect()
    }
    assert got["new"] > got["old"]


# -------------------------------------------------- seasonal anomaly


def test_seasonal_anomaly_flags_injected_spike(spark):
    rows = []
    # 10 days × hour 3: one event each — except day 9 gets 50 (the spike)
    for day in range(1, 11):
        n = 50 if day == 9 else 1
        for i in range(n):
            rows.append(("t", f"2024-01-{day:02d} 03:00:{i % 60:02d}"))
    df = spark.createDataFrame(rows, ["event_type", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = TS.seasonal_anomaly(df, "ts", "event_type", k=2.0).collect()
    flagged = {(r["bucket_date"].day, r["is_anomaly"]) for r in out}
    assert (9, True) in flagged
    assert all(day == 9 or not fl for day, fl in flagged)


def test_seasonal_anomaly_constant_slot_flags_nothing(spark):
    rows = [("t", f"2024-01-{d:02d} 05:00:00") for d in range(1, 8)]
    df = spark.createDataFrame(rows, ["event_type", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = TS.seasonal_anomaly(df, "ts", "event_type", k=2.0).collect()
    assert out and all(not r["is_anomaly"] for r in out)
    assert all(r["zscore"] is None for r in out)  # stddev = 0 → NULL z


# -------------------------------------------------- term-label PMI


def test_term_label_pmi_exclusive_term_positive(spark):
    # "bonjour" appears only in fr docs (2 of 4 docs are fr):
    # pmi = ln(n_tl·N / (n_t·n_l)) = ln(2·4/(2·2)) = ln 2
    docs = spark.createDataFrame(
        [
            (1, "bonjour le monde", "fr"),
            (2, "bonjour encore le", "fr"),
            (3, "hello the world", "en"),
            (4, "hello the again", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = {
        (r["label"], r["tok"]): r["pmi"]
        for r in TA.term_label_pmi(docs, min_count=1).collect()
    }
    assert abs(out[("fr", "bonjour")] - math.log(2)) < 1e-6
    # "le" also fr-only with the same counts
    assert abs(out[("fr", "le")] - math.log(2)) < 1e-6


def test_term_label_pmi_presence_not_frequency(spark):
    # a term repeated 100× in one doc still counts once (doc presence)
    docs = spark.createDataFrame(
        [(1, "spam " * 100, "en"), (2, "ham and eggs", "en")],
        ["doc_id", "text", "lang"],
    )
    out = {r["tok"]: r["n_tl"] for r in TA.term_label_pmi(docs, min_count=1).collect()}
    assert out["spam"] == 1


# ------------------------------------- prefix-filtered Jaccard join


def _brute_jaccard_pairs(spark, docs, threshold):
    """Literal O(N²) definition via crossJoin — ground truth."""
    t = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+")).alias("toks"),
    )
    a = t.select(F.col("id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("id").alias("id_b"), F.col("toks").alias("tb"))
    return {
        (r["id_a"], r["id_b"]): r["j"]
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("i", F.size(F.array_intersect("ta", "tb")))
        .withColumn(
            "j",
            F.round(
                F.col("i") / (F.size("ta") + F.size("tb") - F.col("i")), 6
            ),
        )
        .filter(F.col("j") >= threshold)
        .collect()
    }


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_jaccard_prefix_join_lossless_vs_brute_force(spark, sf_dir, threshold):
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_prefix_join(docs, threshold=threshold).collect()
    }
    want = _brute_jaccard_pairs(spark, docs, threshold)
    assert got == want  # prefix filtering must lose NOTHING


def test_jaccard_prefix_join_no_nested_loop(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(D.jaccard_prefix_join(docs, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------- all-pairs TF-IDF cosine


def test_cosine_allpairs_identical_docs_score_one(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),
            (3, "delta epsilon zeta eta"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.cosine_allpairs_tfidf(docs, threshold=0.1).collect()
    }
    assert out == {(1, 2): 1.0}  # identical unit vectors; 3 shares nothing


def test_cosine_allpairs_max_df_drops_hot_terms(spark):
    # "the" in every doc → df=3 > max_df=2 → excluded from the space, so
    # docs sharing ONLY "the" produce no pair
    docs = spark.createDataFrame(
        [(1, "the cat"), (2, "the dog"), (3, "the cat")],
        ["doc_id", "text"],
    )
    out = D.cosine_allpairs_tfidf(docs, threshold=0.01, max_df=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 3)}


# --------------------------------------------------- weighted sample


def _py_md5_bigint(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "n_chars").collect()
    keys = {
        r["doc_id"]: (( _py_md5_bigint(f"ws:{r['doc_id']}") + 1) / float(1 << 60))
        ** (1.0 / r["n_chars"])
        for r in rows
        if r["n_chars"] and r["n_chars"] > 0
    }
    want = {k for k, _ in sorted(keys.items(), key=lambda kv: (-kv[1], kv[0]))[:10]}
    got = {r["doc_id"] for r in SK.weighted_sample(docs, "doc_id", "n_chars", 10).collect()}
    assert got == want


def test_weighted_sample_deterministic_and_filters_nonpositive(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -5.0), (4, 2.0), (5, None)],
        ["id", "w"],
    )
    a = {r["id"] for r in SK.weighted_sample(df, "id", "w", 3).collect()}
    b = {r["id"] for r in SK.weighted_sample(df, "id", "w", 3).collect()}
    assert a == b == {1, 4}  # only positive-weight rows can win


def test_weighted_sample_plan_is_topk_no_shuffle(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(SK.weighted_sample(docs, "doc_id", "n_chars", 10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


# ----------------------------------------------------- triangle count


def test_triangle_count_k4_and_ring(spark):
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    got = G.triangle_count(spark.createDataFrame(k4, ["src", "dst"])).collect()
    assert got[0]["n_triangles"] == 4  # K4 has C(4,3) triangles
    ring = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    got = G.triangle_count(spark.createDataFrame(ring, ["src", "dst"])).collect()
    assert got[0]["n_triangles"] == 0


def test_triangle_count_canonicalizes_dupes_loops_reversals(spark):
    # one triangle given as a mess: duplicates, both orientations, a loop
    edges = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
        ("a", "c"), ("a", "c"), ("a", "a"),
    ]
    got = G.triangle_count(spark.createDataFrame(edges, ["src", "dst"])).collect()
    assert got[0]["n_triangles"] == 1


def test_triangle_count_hub_graph_matches_formula(spark):
    # hub connected to 6 leaves that form a path: triangles = path edges
    edges = [("h", f"v{i}") for i in range(6)]
    edges += [(f"v{i}", f"v{i+1}") for i in range(5)]
    got = G.triangle_count(spark.createDataFrame(edges, ["src", "dst"])).collect()
    assert got[0]["n_triangles"] == 5


# --------------------------------------------------- association lift


def test_association_lift_hand_example(spark):
    from semantic_index_spark.operators import mining as MN

    rows = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
        (4, "z"),
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {
        (r["item_a"], r["item_b"]): (r["n_ab"], r["lift"])
        for r in MN.association_lift(df, "basket", "item", min_support=1).collect()
    }
    # x,y together 2× of 4 baskets; x in 3, y in 2 → lift = 2*4/(3*2)
    assert out[("x", "y")] == (2, round(2 * 4 / (3 * 2), 6))
    # x,z together 1×; x in 3, z in 2 → lift = 1*4/(3*2) < 1 (anti-affine)
    assert out[("x", "z")] == (1, round(4 / 6, 6))


def test_association_lift_presence_not_multiplicity(spark):
    from semantic_index_spark.operators import mining as MN

    rows = [(1, "x"), (1, "x"), (1, "y"), (2, "x"), (2, "y")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = MN.association_lift(df, "basket", "item", min_support=1).collect()
    assert {(r["item_a"], r["item_b"], r["n_ab"]) for r in out} == {("x", "y", 2)}


def test_association_lift_max_basket_caps_megabaskets(spark):
    from semantic_index_spark.operators import mining as MN

    rows = [(1, "x"), (1, "y")] + [(9, f"i{k}") for k in range(50)]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = MN.association_lift(df, "basket", "item", min_support=1, max_basket=10).collect()
    # the 50-item basket is dropped entirely; only the small basket's pair
    # remains, and N counts surviving baskets (1)
    assert {(r["item_a"], r["item_b"]) for r in out} == {("x", "y")}
    assert out[0]["lift"] == 1.0


# --------------------------------------------------- blocked linkage


def test_blocked_linkage_finds_near_names_within_block_only(spark):
    rows = [
        (1, "Customer#001", "US"),
        (2, "Customer#002", "US"),   # dist 1 from #001, same block
        (3, "Customer#001", "DE"),   # identical name, DIFFERENT block
        (4, "Acme Corporation", "US"),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "region"])
    out = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in D.blocked_linkage(df, "id", "name", ["region"], max_dist=2).collect()
    }
    assert out == {(1, 2): 1}  # cross-block identical pair never compared


def test_blocked_linkage_length_band_prunes(spark):
    # names whose lengths differ by > max_dist can't pass — and must not
    # even reach the levenshtein (asserted indirectly: result is empty)
    rows = [(1, "ab", "X"), (2, "abcdefgh", "X")]
    df = spark.createDataFrame(rows, ["id", "name", "region"])
    assert D.blocked_linkage(df, "id", "name", ["region"], max_dist=2).count() == 0


# ------------------------------------------------ recursive calendar


def test_calendar_spine_dense_grid_with_zeros(spark, sf_dir):
    from semantic_index_spark.operators import relational as R

    rows = R.calendar_spine(spark, sf_dir).collect()
    days = {r["bucket_date"] for r in rows}
    types = {r["event_type"] for r in rows}
    # dense: every (day, type) cell present exactly once
    assert len(rows) == len(days) * len(types)
    # the spine is contiguous (no missing days between min and max)
    assert (max(days) - min(days)).days + 1 == len(days)
    # rare-event filter manufactures real zero cells at test scale
    assert any(r["n"] == 0 for r in rows)


# ------------------------------------------------- greedy k-center


def test_greedy_kcenter_matches_numpy_reference(spark, sf_dir):
    import numpy as np
    from semantic_index_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    got = [
        (r["pick_order"], r["vec_id"], r["coverage_radius"])
        for r in S.greedy_kcenter(emb, k=6).orderBy("pick_order").collect()
    ]
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    picks = [(0, int(ids[0]), 0.0)]
    d = np.linalg.norm(X - X[0], axis=1)
    for r in range(1, 6):
        # argmax with min-id tiebreak (ids sorted ascending → first hit)
        j = int(np.argmax(d))
        best = d[j]
        if best <= 0:
            break
        picks.append((r, int(ids[j]), round(float(best), 6)))
        d = np.minimum(d, np.linalg.norm(X - X[j], axis=1))
    assert [(o, i) for o, i, _ in got] == [(o, i) for o, i, _ in picks]
    for (_, _, a), (_, _, b) in zip(got, picks):
        assert abs(a - b) < 1e-5


def test_greedy_kcenter_radius_monotone_and_diverse(spark, sf_dir):
    from semantic_index_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    rows = S.greedy_kcenter(emb, k=8).orderBy("pick_order").collect()
    assert len({r["vec_id"] for r in rows}) == len(rows)  # no repeats
    radii = [r["coverage_radius"] for r in rows[1:]]
    # greedy invariant: each pick was the farthest point, so radii shrink
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_greedy_kcenter_stops_when_covered(spark):
    from semantic_index_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = S.greedy_kcenter(df, k=3).collect()
    # only 2 distinct locations: the third pick would have radius 0 and
    # must not be emitted
    assert len(rows) == 2


# ------------------------------------------- simhash pigeonhole pairs


def test_simhash_hamming_pairs_lossless_vs_brute_force(spark, sf_dir):
    """Pigeonhole block pruning must equal brute-force Hamming filtering —
    zero false negatives by the pigeonhole principle."""
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_hamming_pairs(docs, bits=32, max_hamming=3).collect()
    }
    sig = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, bits=32).collect()}
    ids = sorted(sig)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want


def test_simhash_hamming_pairs_zero_distance_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "x y z w q r s t")],
        ["doc_id", "text"],
    )
    out = D.simhash_hamming_pairs(docs, bits=32, max_hamming=2).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in out} == {(1, 2, 0)}


# ---------------------------------------------------------- privacy


def test_k_anonymity_flags_small_groups_only(spark):
    from semantic_index_spark.operators import privacy as PV

    rows = [(1, "A", "x")] * 5 + [(2, "B", "y")] * 2
    df = spark.createDataFrame(
        [(i, a, b) for i, (_, a, b) in enumerate(rows)], ["id", "qa", "qb"]
    )
    out = PV.k_anonymity_audit(df, ["qa", "qb"], k=5).collect()
    assert [(r["qa"], r["qb"], r["group_size"]) for r in out] == [("B", "y", 2)]


def test_dp_noisy_counts_matches_python_reference_and_clamps(spark):
    from semantic_index_spark.operators import privacy as PV

    df = spark.createDataFrame(
        [("a",)] * 100 + [("b",)] * 1, ["k"]
    )
    eps = 0.5
    got = {r["k"]: r["noisy_count"] for r in PV.dp_noisy_counts(df, "k", eps).collect()}
    for key, true_n in [("a", 100), ("b", 1)]:
        want = max(0, round(true_n + PV._py_laplace_noise(key, eps)))
        assert got[key] == want
        assert got[key] >= 0


# ------------------------------------------------------------- stats


def test_survival_curve_km_hand_example(spark):
    from semantic_index_spark.operators import stats as ST

    # 4 users: lifetimes 0, 1, 1, 30 days; the 30-day user's last event
    # IS the horizon (censored); the others died long before horizon-7.
    rows = []
    for uid, (start, end) in enumerate(
        [("2024-01-01", "2024-01-01"), ("2024-01-01", "2024-01-02"),
         ("2024-01-02", "2024-01-03"), ("2024-01-01", "2024-01-31")]
    ):
        rows += [(uid, f"{start} 00:00:00"), (uid, f"{end} 00:00:00")]
    ev = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        r["t_days"]: (r["n_at_risk"], r["n_deaths"], r["survival"])
        for r in ST.survival_curve(ev, censor_days=7.0).collect()
    }
    # KM: t=0: 4 at risk, 1 death -> S=0.75; t=1: 3 at risk, 2 deaths ->
    # S=0.75*(1/3)=0.25; t=30: 1 at risk, 0 deaths (censored) -> S=0.25
    assert got[0] == (4, 1, 0.75)
    assert got[1] == (3, 2, 0.25)
    assert got[30] == (1, 0, 0.25)


def test_survival_curve_terminal_event_drops_to_zero(spark):
    """When every at-risk user dies at the final death time (d == n),
    1 − d/n = 0: a plain log(0) is NULL in Spark and the window SUM would
    skip it, silently holding survival at its prior value. The operator
    must emit exactly 0.0 instead."""
    from semantic_index_spark.operators import stats as ST

    # 3 users: lifetimes 0, 1, 1; the longest-lived users DIE (their last
    # activity is far before horizon-7). Horizon comes from a 4th user
    # whose two events are the same day at the end (lifetime 0, censored).
    rows = []
    for uid, (start, end) in enumerate(
        [("2024-01-01", "2024-01-01"), ("2024-01-01", "2024-01-02"),
         ("2024-01-02", "2024-01-03"), ("2024-02-01", "2024-02-01")]
    ):
        rows += [(uid, f"{start} 00:00:00"), (uid, f"{end} 00:00:00")]
    ev = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        r["t_days"]: (r["n_at_risk"], r["n_deaths"], r["survival"])
        for r in ST.survival_curve(ev, censor_days=7.0).collect()
    }
    # t=0: 4 at risk, 1 death (uid0; uid3 censored) -> S=0.75
    # t=1: 2 at risk, 2 deaths -> terminal: S must be exactly 0.0
    assert got[0] == (4, 1, 0.75)
    assert got[1] == (2, 2, 0.0)


def test_ab_test_aa_shape_near_zero_z(spark, sf_dir):
    from semantic_index_spark.operators import stats as ST

    ev = load_table(spark, sf_dir, "events")
    row = ST.ab_test_zscore(ev).collect()[0]
    # hash-split arms of one population: an A/A test — z must be small.
    # Degenerate pooled conversion (0 or 1 — tiny fixtures where every
    # user converts) makes se=0 and z NULL by design.
    assert row["n_a"] > 0 and row["n_b"] > 0
    if row["zscore"] is not None:
        assert abs(row["zscore"]) < 3.0
    else:
        assert row["conv_a"] in (0.0, 1.0) and row["conv_b"] in (0.0, 1.0)
    assert abs(row["lift"]) < 0.5


def test_concentration_uniform_vs_skewed(spark):
    from semantic_index_spark.operators import stats as ST

    uniform = spark.createDataFrame(
        [(i % 4,) for i in range(400)], ["g"]
    )
    u = ST.concentration_index(uniform, "g").collect()[0]
    assert abs(u["hhi"] - 0.25) < 1e-9  # 4 equal groups
    assert abs(u["gini"]) < 1e-9
    skewed = spark.createDataFrame(
        [(0,)] * 97 + [(1,)] * 1 + [(2,)] * 1 + [(3,)] * 1, ["g"]
    )
    s = ST.concentration_index(skewed, "g").collect()[0]
    assert s["hhi"] > 0.9
    assert s["gini"] > 0.7


def test_logreg_gd_matches_numpy_and_learns_signal(spark):
    import numpy as np
    from semantic_index_spark.operators import stats as ST

    # y depends on x1 strongly, x2 not at all
    rng_rows = [
        (float(i % 10) / 10.0, float((i * 7) % 10) / 10.0, 1.0 if i % 10 >= 5 else 0.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(rng_rows, "x1 double, x2 double, y double")
    got = {
        r["feature"]: r["weight"]
        for r in ST.logistic_regression_gd(df, ["x1", "x2"], "y", steps=3, lr=1.0).collect()
    }
    X = np.array([[1.0, a, b] for a, b, _ in rng_rows])
    y = np.array([c for _, _, c in rng_rows])
    w = np.zeros(3)
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w = w - (X.T @ (p - y)) / len(y)
    assert abs(got["__intercept__"] - round(w[0], 6)) < 1e-5
    assert abs(got["x1"] - round(w[1], 6)) < 1e-5
    assert abs(got["x2"] - round(w[2], 6)) < 1e-5
    assert got["x1"] > abs(got["x2"])  # the signal feature dominates


def test_bootstrap_ci_brackets_mean_and_narrows_with_n(spark):
    from semantic_index_spark.operators import stats as ST

    small = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(200)], "k long, v double"
    )
    big = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(5000)], "k long, v double"
    )
    s = ST.poisson_bootstrap_ci(small, "v", "k").collect()[0]
    b = ST.poisson_bootstrap_ci(big, "v", "k").collect()[0]
    for r in (s, b):
        assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
        assert r["n_replicas"] == 32
    # CI width scales ~1/sqrt(n): the 25x-bigger sample must be tighter
    assert (b["ci_hi"] - b["ci_lo"]) < (s["ci_hi"] - s["ci_lo"])


def test_mmr_rerank_diversifies_duplicate_hits(spark):
    from semantic_index_spark.operators import similarity as S

    # three near-identical top hits + one orthogonal direction: pure
    # relevance would return the clones 1-2-3; with cosine-coherent MMR
    # the orthogonal hit (diversity penalty ~0) displaces a clone
    rows = [
        (1, [1.0, 0.0]), (2, [0.999, 0.001]), (3, [0.998, 0.002]),
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = [r["vec_id"] for r in S.mmr_rerank(df, [0.9, 0.44], k=3, lam=0.5).collect()]
    assert out[0] == 3          # the cosine argmax (clone tilted toward q)
    assert 4 in out[:3]          # the diverse hit displaces a clone
    assert set(out) != {1, 2, 3}


def test_mmr_rerank_lambda_one_is_pure_relevance(spark, sf_dir):
    from semantic_index_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id = 7").collect()[0]["embedding"]
    mmr = [r["vec_id"] for r in S.mmr_rerank(emb, list(q), k=5, lam=1.0).collect()]
    topk = [r["vec_id"] for r in S.topk(emb, list(q), k=5, metric="cosine").collect()]
    assert mmr == topk


def test_chi_square_independent_columns_small_statistic(spark):
    from semantic_index_spark.operators import stats as ST

    # perfectly independent: b = f(i) cycles independently of a
    rows = [(f"a{i % 2}", f"b{i % 3}") for i in range(600)]
    df = spark.createDataFrame(rows, ["x", "y"])
    r = ST.chi_square_independence(df, "x", "y").collect()[0]
    assert r["n"] == 600 and r["dof"] == 2
    assert r["chi2"] < 1e-6  # exactly balanced table -> 0


def test_chi_square_dependent_columns_large_statistic(spark):
    from semantic_index_spark.operators import stats as ST

    rows = [("a", "p")] * 100 + [("b", "q")] * 100
    df = spark.createDataFrame(rows, ["x", "y"])
    r = ST.chi_square_independence(df, "x", "y").collect()[0]
    assert r["chi2"] > 150  # perfect association ~ n

def test_benford_organic_products_pass_uniform_fails(spark):
    from semantic_index_spark.operators import stats as ST

    # products of uniforms are log-ish -> near Benford; pure uniforms miss
    import random

    rng = random.Random(7)
    organic = [(rng.uniform(1, 10) * rng.uniform(1, 10) * rng.uniform(1, 10),)
               for _ in range(4000)]
    uniform = [(float(rng.uniform(1, 10)),) for _ in range(4000)]
    chi_org = sum(
        r["chi2_term"]
        for r in ST.benford_audit(
            spark.createDataFrame(organic, ["v"]), "v"
        ).collect()
    )
    chi_uni = sum(
        r["chi2_term"]
        for r in ST.benford_audit(
            spark.createDataFrame(uniform, ["v"]), "v"
        ).collect()
    )
    assert chi_org < chi_uni  # the audit separates organic from uniform
    assert chi_uni > 100


def test_winsorized_mean_resists_extremes(spark):
    # one corrupt 1e9 reading: plain mean explodes, winsorized barely moves
    rows = [("g", float(v)) for v in range(100)] + [("g", 1e9)]
    df = spark.createDataFrame(rows, ["k", "v"])
    r = TS.winsorized_stats(df, "v", "k", 0.05, 0.95).collect()[0]
    assert r["n"] == 101  # clipping keeps the row count (unlike trimming)
    assert r["winsorized_mean"] < 100
    plain = df.groupBy("k").agg(F.avg("v")).collect()[0][1]
    assert plain > 1e6


# ------------------------------------------------- round-5 additions


def test_segment_dedup_keeps_first_occurrence_only(spark):
    from semantic_index_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (0, "a b c x y z"),          # segments: "a b c", "x y z"
            (1, "a b c q r s"),          # "a b c" duplicated -> dropped here
            (2, "unique words only here now yes"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_segs"], r["n_kept"])
        for r in D.segment_dedup(docs, n=3, min_count=2).collect()
    }
    assert out[0] == (2, 2)  # first occurrence of "a b c" survives
    assert out[1] == (2, 1)  # its duplicate is dropped
    assert out[2] == (2, 2)


def test_segment_dedup_fully_duplicated_doc_empties(spark):
    import hashlib

    from semantic_index_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in D.segment_dedup(docs, n=3).collect()}
    assert rows[0]["n_kept"] == 1
    assert rows[1]["n_kept"] == 0
    assert rows[1]["kept_md5"] == hashlib.md5(b"").hexdigest()


def test_rrf_fuse_hand_example(spark):
    from semantic_index_spark.operators import similarity as S

    r1 = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "vec_id long, rank int"
    )
    r2 = spark.createDataFrame(
        [(20, 1), (10, 2), (40, 3)], "vec_id long, rank int"
    )
    got = {
        r["vec_id"]: (r["rrf_score"], r["n_lists"])
        for r in S.rrf_fuse([r1, r2], k_rrf=60).collect()
    }
    assert got[10] == (round(1 / 61 + 1 / 62, 6), 2)
    assert got[20] == (round(1 / 62 + 1 / 61, 6), 2)
    assert got[30] == (round(1 / 63, 6), 1)
    assert got[40] == (round(1 / 63, 6), 1)
    # consensus candidates outrank single-list ones
    order = [
        r["vec_id"]
        for r in S.rrf_fuse([r1, r2], k_rrf=60).collect()
    ]
    assert set(order[:2]) == {10, 20}


def test_zipf_fit_flat_distribution_has_zero_slope(spark):
    from semantic_index_spark.operators import text_analysis as TA

    # every token equally frequent -> ln(freq) constant -> slope exactly 0
    docs = spark.createDataFrame(
        [(0, "aa bb cc dd", "x"), (1, "aa bb cc dd", "x")],
        "doc_id long, text string, lang string",
    )
    row = TA.zipf_fit(docs).collect()[0]
    assert row["n_types"] == 4
    assert row["zipf_slope"] == 0.0
    assert row["zipf_r"] is None  # zero variance in ln(freq): r undefined


def test_zipf_fit_skewed_distribution_negative_slope(spark, sf_dir):
    from semantic_index_spark.operators import text_analysis as TA

    docs = load_table(spark, sf_dir, "documents")
    rows = TA.zipf_fit(docs).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r["zipf_slope"] < 0  # any natural-ish corpus decays
        assert -1.0 <= r["zipf_r"] <= 0.0  # negative correlation


def test_observed_profile_matches_direct_aggregate(spark):
    from semantic_index_spark.operators import pipeline as P

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 2.505), (4, None)], "id long, v double"
    )
    row = P.observed_profile(df, "v").collect()[0]
    assert row["n_rows"] == 4
    assert row["n_null"] == 2
    assert row["sum_value"] == 12.51  # HALF_UP at 2 decimals


def test_khop_frontier_hand_graph(spark):
    """Path a->b->c->d plus a shortcut a->c: hop = SHORTEST distance (c is
    hop 1 via the shortcut, never re-reported at hop 2); d is hop 2; e is
    unreachable and absent."""
    from semantic_index_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("a",)], ["node"])
    got = {r["node"]: r["hop"] for r in G.khop_frontier(edges, seeds, k=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_khop_frontier_stops_when_frontier_empties(spark):
    from semantic_index_spark.operators import graph as G

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["node"])
    got = G.khop_frontier(edges, seeds, k=10).collect()
    assert {(r["node"], r["hop"]) for r in got} == {("a", 0), ("b", 1)}


def test_randomized_looking_queries_are_run_deterministic(spark, sf_dir):
    """The md5-derived 'randomness' contract: every sampling / noise /
    bootstrap query must produce BIT-IDENTICAL results on a re-run in the
    same session — retries, speculative re-execution, and cross-engine
    oracles all depend on it."""
    import __spark_entry__ as entry

    sf = sf_dir
    qs = entry.queries()
    for name in (
        "weighted_sample",
        "dp_noisy_counts",
        "bootstrap_ci",
        "hash_split",
        "stratified_sample",
        "ab_test_zscore",
    ):
        a = sorted(map(tuple, qs[name](spark, sf).collect()))
        b = sorted(map(tuple, qs[name](spark, sf).collect()))
        assert a == b, name


def test_cusum_flags_sustained_shift_not_single_spike(spark):
    """CUSUM's reason to exist: a level shift that is individually small
    (each day under any per-day z threshold) accumulates past h, while a
    stable series never alerts."""
    rows = []
    # stable series: 20 days of 10 events
    for d in range(1, 21):
        rows += [("stable", f"2024-01-{d:02d} 00:00:{i:02d}") for i in range(10)]
    # shifted series: 10 days of 10, then 10 days of 14 (small sustained up-shift)
    for d in range(1, 21):
        n = 10 if d <= 10 else 14
        rows += [("shift", f"2024-01-{d:02d} 00:00:{i:02d}") for i in range(n)]
    ev = spark.createDataFrame(rows, ["event_type", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = TS.cusum_alerts(ev, by="event_type", k=0.5, h=4.0).collect()
    by = {}
    for r in out:
        by.setdefault(r["event_type"], []).append((r["day"], r["cusum"], r["alert"]))
    assert not any(a for _, _, a in by["stable"])
    shift_alerts = [d for d, _, a in sorted(by["shift"]) if a]
    assert shift_alerts, "sustained shift must eventually alert"
    # alerts only appear after the shift begins (day index 10 of 20)
    first_alert_rank = sorted(d for d, _, _ in by["shift"]).index(shift_alerts[0])
    assert first_alert_rank >= 10


def test_pit_join_attaches_version_in_force(spark):
    """PIT correctness: a fact BETWEEN two versions must get the earlier
    one (never leakage from the future); a fact before the first version
    gets NULL; same-instant facts see the version starting at that
    instant."""
    from semantic_index_spark.operators import timeseries as TS2

    hist = spark.createDataFrame(
        [
            (1, "bronze", "2024-01-01 00:00:00", "2024-01-10 00:00:00", False),
            (1, "gold", "2024-01-10 00:00:00", None, True),
        ],
        "user_id long, status string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "user_id",
        "status",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
        "is_current",
    )
    facts = spark.createDataFrame(
        [
            (1, 100, "2023-12-31 23:00:00"),  # before history -> NULL
            (1, 101, "2024-01-05 12:00:00"),  # mid bronze
            (1, 102, "2024-01-10 00:00:00"),  # exactly at the transition -> gold
            (1, 103, "2024-02-01 00:00:00"),  # current version
        ],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["event_id"]: r["status_pit"]
        for r in TS2.pit_join(facts, hist, key="user_id", attrs=["status"]).collect()
    }
    assert got == {100: None, 101: "bronze", 102: "gold", 103: "gold"}


def test_mann_whitney_hand_example_and_aa_shape(spark):
    """Hand case: A={1,2}, B={3,4} (complete separation): U_A = 0,
    mu_U = 2, sigma_U = sqrt(n_a*n_b*(N+1)/12) = sqrt(5/3) = 1.29099 ->
    z = -1.549193 (normal approx, no ties). All-tied values must yield
    NULL z, never a crash."""
    from semantic_index_spark.operators import stats as ST2

    df = spark.createDataFrame(
        [(1.0, "A"), (2.0, "A"), (3.0, "B"), (4.0, "B")], "v double, _arm string"
    )
    row = ST2.mann_whitney_z(df, "v").collect()[0]
    assert (row["n_a"], row["n_b"]) == (2, 2)
    assert row["u_stat"] == 0.0
    assert abs(row["zscore"] + 1.549193) < 1e-5
    # all-tied values: variance degenerates -> NULL z, never a crash
    tied = spark.createDataFrame(
        [(5.0, "A"), (5.0, "B"), (5.0, "A")], "v double, _arm string"
    )
    trow = ST2.mann_whitney_z(tied, "v").collect()[0]
    assert trow["zscore"] is None


def test_label_propagation_two_cliques(spark):
    from semantic_index_spark.operators import graph as G

    # K4 components converge to one label per component; after round 1
    # every node holds the min of its neighbors, after round 2 the
    # component's min label is the majority everywhere
    import itertools

    k4a = list(itertools.combinations(["a", "b", "c", "d"], 2))
    k4b = list(itertools.combinations(["w", "x", "y", "z"], 2))
    e = spark.createDataFrame(k4a + k4b, "src string, dst string")
    edges = e.union(e.selectExpr("dst AS src", "src AS dst"))
    got = {r["node"]: r["label"] for r in G.label_propagation(edges, iters=2).collect()}
    assert {got[n] for n in "abcd"} == {"a"}
    assert {got[n] for n in "wxyz"} == {"w"}
    # deterministic: a second run yields the identical labeling
    again = {r["node"]: r["label"] for r in G.label_propagation(edges, iters=2).collect()}
    assert again == got


def test_label_propagation_isolated_node_keeps_label(spark):
    from semantic_index_spark.operators import graph as G

    # directed edge into q only: p has no in-neighbors and keeps itself
    e = spark.createDataFrame([("p", "q")], "src string, dst string")
    got = {r["node"]: r["label"] for r in G.label_propagation(e, iters=2).collect()}
    assert got["p"] == "p" and got["q"] == "p"


def test_ols2_closed_form_matches_numpy(spark):
    import numpy as np

    from semantic_index_spark.operators import stats as ST

    rng = np.random.RandomState(7)
    x1 = rng.randint(0, 50, 500)
    x2 = rng.randint(0, 10, 500)
    y = (3 + 2 * x1 - 5 * x2 + rng.randint(-4, 5, 500)).astype(int)
    df = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(y, x1, x2)],
        "y bigint, x1 bigint, x2 bigint",
    )
    got = {r["term"]: r["coef"] for r in ST.ols2_closed_form(df, "y", "x1", "x2").collect()}
    X = np.column_stack([np.ones_like(x1), x1, x2]).astype(float)
    ref, *_ = np.linalg.lstsq(X, y.astype(float), rcond=None)
    assert abs(got["intercept"] - ref[0]) < 1e-4
    assert abs(got["x1"] - ref[1]) < 1e-4
    assert abs(got["x2"] - ref[2]) < 1e-4


def test_position_attribution_credit_split(spark):
    from semantic_index_spark.operators import timeseries as TS

    # one session: ad -> email -> search -> purchase  => 40/20/40
    # second user: single touch then purchase => 100%
    rows = [
        (1, 1, "2024-01-01 10:00:00", "ad"),
        (1, 2, "2024-01-01 10:05:00", "email"),
        (1, 3, "2024-01-01 10:10:00", "search"),
        (1, 4, "2024-01-01 10:15:00", "purchase"),
        (2, 5, "2024-01-01 11:00:00", "email"),
        (2, 6, "2024-01-01 11:01:00", "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts string, event_type string"
    ).selectExpr("user_id", "event_id", "cast(ts AS timestamp) AS ts", "event_type")
    got = {
        r["channel"]: (r["credit_micros"], r["n_touches"])
        for r in TS.position_attribution(ev, conversion="purchase").collect()
    }
    assert got["ad"] == (400000, 1)
    assert got["search"] == (400000, 1)
    # email: middle of user 1 (200000) + solo touch of user 2 (1000000)
    assert got["email"] == (1200000, 2)


def test_shortest_paths_weighted_relaxation(spark):
    from semantic_index_spark.operators import graph as G

    # a->b direct cost 10, a->c->b cost 3+4=7: round 2 must relax to 7
    e = spark.createDataFrame(
        [("a", "b", 10), ("a", "c", 3), ("c", "b", 4)], "src string, dst string, w bigint"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in G.shortest_paths(e, seeds, rounds=2).collect()}
    assert got == {"a": 0, "b": 7, "c": 3}
    # one round only reaches the direct edges
    got1 = {r["node"]: r["dist"] for r in G.shortest_paths(e, seeds, rounds=1).collect()}
    assert got1 == {"a": 0, "b": 10, "c": 3}


def test_audience_overlap_exact_counts(spark):
    from semantic_index_spark.operators import mining as MN

    # X = {1, 2, 3, 64}, Y = {2, 64, 200}: overlap {2, 64} spans two words
    rows = [("X", 1), ("X", 2), ("X", 3), ("X", 64), ("Y", 2), ("Y", 64), ("Y", 200)]
    df = spark.createDataFrame(rows, "g string, uid bigint")
    got = MN.audience_overlap(df, "g", "uid").collect()
    assert len(got) == 1
    r = got[0]
    assert (r["group_a"], r["group_b"], r["n_a"], r["n_b"], r["n_overlap"]) == ("X", "Y", 4, 3, 2)
    assert abs(r["jaccard"] - 2 / 5) < 1e-9


def test_audience_overlap_bit63_boundary(spark):
    from semantic_index_spark.operators import mining as MN

    # id 63 uses the sign bit; id 127 the sign bit of word 1
    rows = [("A", 63), ("A", 127), ("B", 63), ("B", 127), ("B", 5)]
    df = spark.createDataFrame(rows, "g string, uid bigint")
    r = MN.audience_overlap(df, "g", "uid").collect()[0]
    assert (r["n_a"], r["n_b"], r["n_overlap"]) == (2, 3, 2)


def test_modularity_perfect_split_positive(spark):
    import itertools

    from semantic_index_spark.operators import graph as G

    k4a = list(itertools.combinations(["a", "b", "c", "d"], 2))
    k4b = list(itertools.combinations(["w", "x", "y", "z"], 2))
    e = spark.createDataFrame(k4a + k4b, "src string, dst string")
    edges = e.union(e.selectExpr("dst AS src", "src AS dst"))
    labels = G.label_propagation(edges, iters=2)
    rows = G.modularity(edges, labels).collect()
    # two communities of 4; all edges intra: Q = sum = 2*(12/24 - (12/24)^2) = 0.5
    assert len(rows) == 2
    q = sum(r["contribution"] for r in rows)
    assert abs(q - 0.5) < 1e-6
    for r in rows:
        assert r["n_nodes"] == 4 and r["intra_edges"] == 12 and r["degree_sum"] == 12


# ---------------------------------------------------------------- adamic-adar


def test_adamic_adar_hand_computed(spark):
    # path graph a-b-c plus a-d, c-d: pairs sharing >=2 neighbors
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "d"), ("c", "d")], ["src", "dst"]
    )
    out = G.adamic_adar(edges, min_common=1).collect()
    by_pair = {(r["u"], r["w"]): r for r in out}
    # a and c share neighbors b (deg 2) and d (deg 2): AA = 2/ln2
    ac = by_pair[("a", "c")]
    assert ac["common"] == 2
    expected = 2 * math.floor(1e6 / math.log(2) + 0.5)
    assert ac["aa_micro"] == expected
    # b and d share a and c: symmetric score
    assert by_pair[("b", "d")]["aa_micro"] == expected
    # connected pairs never appear
    assert ("a", "b") not in by_pair


def test_adamic_adar_hub_cutoff_drops_mega_center(spark):
    # star center h with degree 5 > cap 4 spreads nothing
    rows = [("h", f"x{i}") for i in range(5)] + [("x0", "x1")]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    out = G.adamic_adar(edges, max_degree=4, min_common=1).collect()
    # all leaf pairs share only the capped hub -> no scored pairs except
    # wedges through x0/x1 (degree 2 each)
    for r in out:
        assert r["u"] in {"h", "x0", "x1"} or r["w"] in {"h", "x0", "x1"}


def test_adamic_adar_min_common_filters(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "d"), ("c", "d")], ["src", "dst"]
    )
    out = G.adamic_adar(edges, min_common=3).collect()
    assert out == []


# ------------------------------------------------------------------- streaks


def test_activity_streaks_hand_computed(spark):
    rows = [
        ("u1", "2026-01-01 05:00:00"),
        ("u1", "2026-01-02 06:00:00"),
        ("u1", "2026-01-02 07:00:00"),  # same day, dedups
        ("u1", "2026-01-05 08:00:00"),
        ("u2", "2026-01-10 01:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["user"]: r for r in TS.activity_streaks(df).collect()}
    u1 = out["u1"]
    assert u1["n_active_days"] == 3
    assert u1["n_streaks"] == 2
    assert u1["longest_streak"] == 2
    assert str(u1["last_active_day"]) == "2026-01-05"
    assert out["u2"]["longest_streak"] == 1


def test_activity_streaks_single_long_run(spark):
    rows = [("u", f"2026-02-{d:02d} 12:00:00") for d in range(1, 11)]
    df = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    r = TS.activity_streaks(df).collect()[0]
    assert r["n_streaks"] == 1 and r["longest_streak"] == 10


# ----------------------------------------------------------------------- acf


def test_autocorrelation_perfect_alternation(spark):
    # daily counts alternate 1,3,1,3,... -> lag-1 ACF = -1, lag-2 = +1
    rows = []
    for d in range(1, 13):
        n = 1 if d % 2 else 3
        rows += [("t", f"2026-03-{d:02d} 00:00:00")] * n
    df = spark.createDataFrame(rows, ["event_type", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["lag"]: r["acf"] for r in TS.autocorrelation(df, max_lag=2).collect()}
    assert out[1] < -0.8
    assert out[2] > 0.8


def test_autocorrelation_constant_series_zero_denominator(spark):
    rows = [("t", f"2026-03-{d:02d} 00:00:00") for d in range(1, 8)]
    df = spark.createDataFrame(rows, ["event_type", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = TS.autocorrelation(df, max_lag=1).collect()
    assert out[0]["acf"] == 0.0


# ------------------------------------------------------------------ motifs


def _motif_edges(spark):
    # 1->2->3 with 1->3 closing (transitive triangle); 1->4 dangling;
    # 4->5, 5->6 chain with NO 4->6 edge (open wedge)
    rows = [(1, 2, 10.0), (2, 3, 20.0), (1, 3, 30.0), (1, 4, 40.0), (4, 5, 50.0), (5, 6, 60.0)]
    return spark.createDataFrame(rows, "src bigint, dst bigint, weight double")


def test_motif_transitive_triangle(spark):
    e = _motif_edges(spark)
    got = G.find_motifs(e, "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)").collect()
    assert [(r["a"], r["b"], r["c"]) for r in got] == [(1, 2, 3)]


def test_motif_negation_open_wedge(spark):
    e = _motif_edges(spark)
    got = G.find_motifs(e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)").collect()
    assert sorted((r["a"], r["b"], r["c"]) for r in got) == [(1, 4, 5), (4, 5, 6)]


def test_motif_named_edge_and_vertex_attrs(spark):
    e = _motif_edges(spark)
    v = spark.createDataFrame([(i, f"n{i}") for i in range(1, 7)], "id bigint, name string")
    got = G.find_motifs(e, "(a)-[e]->(b)", vertices=v).collect()
    r = next(x for x in got if x["a"] == 2)
    assert r["e"]["weight"] == 20.0 and r["a_attrs"]["name"] == "n2"
    assert len(got) == 6


def test_motif_anonymous_middle_vertex(spark):
    e = _motif_edges(spark)
    # (a)->(x)->(b) with x anonymous: NOT returned, but it is ONE shared
    # vertex, so it must be written with a name... anonymous vertices are
    # per-term fresh, so the two-hop pattern needs the explicit middle:
    got = G.find_motifs(e, "(a)-[]->(m); (m)-[]->(b)").select("a", "b").collect()
    assert sorted((r["a"], r["b"]) for r in got) == [(1, 3), (1, 5), (4, 6)]


def test_motif_max_degree_parity_below_cap(spark):
    # max total degree in _motif_edges is 3 (vertex 1: out 3) — with the
    # cap above that, capped and uncapped runs must be identical for both
    # wedge and negated patterns
    e = _motif_edges(spark)
    for pat in (
        "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)",
        "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)",
    ):
        base = sorted(map(tuple, G.find_motifs(e, pat).collect()))
        capped = sorted(map(tuple, G.find_motifs(e, pat, max_degree=3).collect()))
        assert capped == base


def test_motif_max_degree_drops_hub_subgraph(spark):
    # vertex 1 has total degree 3; cap=2 removes ALL edges incident to it,
    # leaving only the 4->5->6 open wedge
    e = _motif_edges(spark)
    got = G.find_motifs(e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)", max_degree=2).collect()
    assert sorted((r["a"], r["b"], r["c"]) for r in got) == [(4, 5, 6)]
    # the triangle at 1-2-3 requires the hub, so it disappears entirely
    assert G.find_motifs(e, "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)", max_degree=2).count() == 0
    with pytest.raises(ValueError, match="max_degree"):
        G.find_motifs(e, "(a)-[]->(b)", max_degree=0)


def test_motif_compile_errors(spark):
    e = _motif_edges(spark)
    # two anonymous vertices are DIFFERENT fresh names -> disconnected
    with pytest.raises(ValueError, match="disconnected"):
        G.find_motifs(e, "(a)-[]->(); ()-[]->(b)")
    with pytest.raises(ValueError, match="cannot parse"):
        G.find_motifs(e, "(a)->(b)")
    with pytest.raises(ValueError, match="self-loop"):
        G.find_motifs(e, "(a)-[]->(a)")
    with pytest.raises(ValueError, match="unbound"):
        G.find_motifs(e, "(a)-[]->(b); !(a)-[]->(z)")
    with pytest.raises(ValueError, match="positive"):
        G.find_motifs(e, "!(a)-[]->(b)")
    with pytest.raises(ValueError, match="cannot name an edge"):
        G.find_motifs(e, "(a)-[]->(b); !(b)-[x]->(a)")


# ---------------------------------------------------------------------------
# k-core decomposition (r8)
# ---------------------------------------------------------------------------


def _kcore_graph(spark):
    # a 4-clique {1,2,3,4} with a pendant path 4-5-6 and an isolated edge
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = clique + [(4, 5), (5, 6), (10, 11)]
    return spark.createDataFrame(edges, "src bigint, dst bigint")


def test_k_core_peels_to_the_clique(spark):
    e = _kcore_graph(spark)
    # 3-core = exactly the 4-clique, every member at degree 3: the pendant
    # path dies in round 1 EXCEPT node 4's edge — node 5 needs the cascade
    # (after 6 drops, 5 has degree 1) — so the fixpoint needs >1 round
    got = {r["node"]: r["degree"] for r in G.k_core(e, 3, iters=4).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # 1-core keeps every non-isolated vertex with its full degree
    one = {r["node"]: r["degree"] for r in G.k_core(e, 1, iters=4).collect()}
    assert set(one) == {1, 2, 3, 4, 5, 6, 10, 11}
    assert one[4] == 4 and one[5] == 2 and one[10] == 1
    # an impossible k peels everything: empty result, stable schema
    none = G.k_core(e, 99, iters=4)
    assert none.count() == 0 and none.columns == ["node", "degree"]


def test_k_core_fixed_iters_converge_and_normalize(spark):
    e = _kcore_graph(spark)
    # fixpoint: one extra round changes nothing (the oracle-unroll contract)
    a = sorted(map(tuple, G.k_core(e, 3, iters=4).collect()))
    b = sorted(map(tuple, G.k_core(e, 3, iters=5).collect()))
    assert a == b
    # reversed duplicates and self-loops normalize away
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    got = {r["node"]: r["degree"] for r in G.k_core(messy, 2, iters=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}  # the triangle, each at degree 2
    with pytest.raises(ValueError):
        G.k_core(e, 0)


def test_personalized_pagerank_localizes_mass_and_conserves(spark):
    # path graph 1-2-3-4-5 (symmetrized): mass teleports to node 1, so
    # rank must decay monotonically with distance from the seed
    e = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5)]],
        "src bigint, dst bigint",
    )
    sym = e.union(e.selectExpr("dst as src", "src as dst"))
    # moderate damping so the degree-1 seed retains the top rank (at high
    # damping a path seed correctly pushes most mass to its neighbor)
    r = {row["node"]: row["rank"]
         for row in G.personalized_pagerank(sym, [1], iterations=4,
                                            damping=0.5).collect()}
    assert r[1] > r[2] > r[3] > r[4] > r[5] >= 0.0
    # probability distribution: seeds are graph nodes, so sum == 1
    assert abs(sum(r.values()) - 1.0) < 1e-9
    # two seeds split the teleport; symmetry makes their ranks equal
    r2 = {row["node"]: row["rank"]
          for row in G.personalized_pagerank(sym, [1, 5], iterations=4,
                                             damping=0.5).collect()}
    assert abs(r2[1] - r2[5]) < 1e-12 and abs(r2[2] - r2[4]) < 1e-12
    assert abs(sum(r2.values()) - 1.0) < 1e-9
    with pytest.raises(ValueError):
        G.personalized_pagerank(sym, [])


def test_personalized_pagerank_dangling_reteleports_to_seeds(spark):
    # directed 1->2, 2 dangling: its mass must re-teleport to the seed,
    # never vanish — sum stays 1 with every seed in-graph
    e = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    r = {row["node"]: row["rank"]
         for row in G.personalized_pagerank(e, [1], iterations=3).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-9
    # the walk flows 1 -> 2 and 2's dangling mass returns via the seed
    # teleport, so both stay positive and nothing leaks
    assert r[1] > 0 and r[2] > 0


def test_deterministic_walks_match_hand_computed_argmin(spark):
    import hashlib

    from semantic_index_spark.operators import graph as G

    e = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)], "src bigint, dst bigint")
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in G.deterministic_walks(e, length=2).collect()
    }

    # replay the choice rule in plain Python: undirected neighbor sets,
    # argmin of md5(seed:walk:step:here:cand) || '|' || cand
    nbrs = {1: [2, 3], 2: [1, 3], 3: [1, 2, 4], 4: [3]}
    for w in (1, 2, 3, 4):
        here = w
        assert got[(w, 0)] == w
        for t in (1, 2):
            key = lambda u: (
                hashlib.md5(f"walk:{w}:{t}:{here}:{u}".encode()).hexdigest()
                + "|"
                + str(u)
            )
            here = min(nbrs[here], key=key)
            assert got[(w, t)] == here


def test_deterministic_walks_sinks_and_seed(spark):
    from semantic_index_spark.operators import graph as G

    # directed: 4 is a sink — its walk emits only step 0, and any walk
    # reaching it ends there (the emitted prefix survives)
    e = spark.createDataFrame([(1, 4), (2, 1)], "src bigint, dst bigint")
    got = sorted(
        map(
            tuple,
            G.deterministic_walks(e, length=3, both_directions=False).collect(),
        )
    )
    assert got == [
        (1, 0, 1), (1, 1, 4),
        (2, 0, 2), (2, 1, 1), (2, 2, 4),
        (4, 0, 4),
    ]
    # reproducible: same seed identical, different seed may diverge but
    # keeps the walk invariants (starts at walk_id, consecutive steps)
    full = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    a = sorted(map(tuple, G.deterministic_walks(full, length=3).collect()))
    b = sorted(map(tuple, G.deterministic_walks(full, length=3).collect()))
    assert a == b
    c = sorted(map(tuple, G.deterministic_walks(full, length=3, seed="other").collect()))
    assert len(c) == len(a) and {x[:2] for x in c} == {x[:2] for x in a}
    assert c != a  # a different seed re-rolls at least one choice here
