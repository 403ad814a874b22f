"""KG schema-quality mining: inverse predicates + AMIE 2-hop rules,
plus the skip-gram pair builder and event transition matrix added in
the same batch — each checked against a hand-computed python twin on
small frames, plus plan-shape assertions (no cartesian products; the
skip-gram path is join-free)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from deepie_spark.operators.kgquality import predicate_inverses, rule_mine_2hop
from deepie_spark.operators.skipgram import skipgram_pairs


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_predicate_inverses_basic(spark):
    # parent_of and child_of are exact inverses; likes is one-directional
    rows = [
        ("a", "parent_of", "b"),
        ("b", "child_of", "a"),
        ("a", "parent_of", "c"),
        ("c", "child_of", "a"),
        ("a", "likes", "b"),
        ("a", "likes", "b"),  # duplicate triple must not double-count
        ("x", "likes", "x"),  # self-loop excluded up front
    ]
    out = {
        (r.pred_a, r.pred_b): r
        for r in predicate_inverses(_triples(spark, rows)).collect()
    }
    r = out[("child_of", "parent_of")]
    assert r.n_inverse == 2 and r.n_a == 2 and r.n_b == 2
    assert r.inv_score == 1.0
    assert ("likes", "likes") not in out
    assert ("likes", "parent_of") not in out


def test_predicate_inverses_symmetric_counts_once(spark):
    # symmetric predicate: each unordered pair contributes ONE row
    rows = [
        ("a", "spouse", "b"),
        ("b", "spouse", "a"),
        ("c", "spouse", "d"),
        ("d", "spouse", "c"),
        ("e", "spouse", "f"),  # unreciprocated
    ]
    [r] = predicate_inverses(_triples(spark, rows)).collect()
    assert (r.pred_a, r.pred_b) == ("spouse", "spouse")
    assert r.n_inverse == 2 and r.n_a == 5
    assert r.inv_score == pytest.approx(0.4)


def test_rule_mine_2hop_confidence(spark):
    # body: p(s,x) ∧ q(x,o) — 2 body pairs, 1 confirmed by head r
    rows = [
        ("s1", "p", "m1"),
        ("m1", "q", "o1"),
        ("s2", "p", "m2"),
        ("m2", "q", "o2"),
        ("s1", "r", "o1"),
    ]
    out = {
        (r.body_p, r.body_q, r.head_r): r
        for r in rule_mine_2hop(_triples(spark, rows)).collect()
    }
    r = out[("p", "q", "r")]
    assert r.support == 1 and r.n_body == 2
    assert r.confidence == pytest.approx(0.5)


def test_rule_mine_2hop_hub_guard_drops_hub_paths(spark):
    rows = [("s%d" % i, "p", "hub") for i in range(5)] + [
        ("hub", "q", "o%d" % i) for i in range(5)
    ] + [("s0", "p", "m"), ("m", "q", "t"), ("s0", "r", "t")]
    unguarded = rule_mine_2hop(_triples(spark, rows), max_mid_degree=None)
    n_un = {
        (r.body_p, r.body_q): r.n_body for r in unguarded.collect()
    }[("p", "q")]
    assert n_un == 26  # 5×5 through the hub + 1 through m
    guarded = rule_mine_2hop(_triples(spark, rows), max_mid_degree=3)
    n_g = {
        (r.body_p, r.body_q): r.n_body for r in guarded.collect()
    }[("p", "q")]
    assert n_g == 1  # only the path through m survives


def test_skipgram_pairs_matches_python_twin(spark):
    texts = [
        ("the quick brown fox jumps",),
        ("the the the",),
        ("one",),  # single token: no pairs
        ("",),
    ]
    df = spark.createDataFrame(texts, "text string")
    w = 2
    expected: Counter = Counter()
    for (t,) in texts:
        toks = t.split()
        for i in range(len(toks)):
            for j in range(max(0, i - w), min(len(toks), i + w + 1)):
                if j != i:
                    expected[(toks[i], toks[j])] += 1
    got = {
        (r.center, r.context): r.n
        for r in skipgram_pairs(df, window=w).collect()
    }
    assert got == dict(expected)


def test_skipgram_window_validation(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError):
        skipgram_pairs(df, window=0)


def test_event_transitions_matches_pandas_twin(spark, sf_dir):
    import os

    from __spark_entry__ import q_event_transitions

    out = q_event_transitions(spark, sf_dir).collect()
    got = {(r.prev_type, r.next_type): r.n for r in out}

    pdf = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    expected: Counter = Counter()
    for _, grp in pdf.groupby("user_id"):
        types = grp["event_type"].tolist()
        for prev, nxt in zip(types, types[1:]):
            expected[(prev, nxt)] += 1
    assert got == dict(expected)
    # row-conditional probabilities sum to 1 per prev_type
    sums: Counter = Counter()
    for r in out:
        sums[r.prev_type] += r.prob
    for v in sums.values():
        assert v == pytest.approx(1.0, abs=1e-5)


def test_plan_shapes(spark):
    rows = [("a", "p", "b"), ("b", "q", "a")]
    t = _triples(spark, rows)
    for df in (predicate_inverses(t), rule_mine_2hop(t)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    docs = spark.createDataFrame([("a b c",)], "text string")
    sg_plan = (
        skipgram_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    )
    # map-only expansion: the only shuffle is the final count agg
    assert "Join" not in sg_plan


def _typed_triples(spark, rows):
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string,"
        " subj_type string, obj_type string",
    )


def test_predicate_domain_range_modal_types(spark):
    from deepie_spark.operators.kgquality import predicate_domain_range

    rows = [
        ("a", "works_at", "x", "PER", "ORG"),
        ("b", "works_at", "y", "PER", "ORG"),
        ("c", "works_at", "z", "GPE", "ORG"),
        ("c", "works_at", "z", "GPE", "ORG"),  # dup triple: counted once
        ("l", "works_at", "l", "PER", "ORG"),  # self-loop excluded
    ]
    [r] = predicate_domain_range(_typed_triples(spark, rows)).collect()
    assert r.pred == "works_at" and r.n_triples == 3
    assert (r.domain_type, r.domain_n) == ("PER", 2)
    assert r.domain_cov == pytest.approx(2 / 3, abs=1e-6)
    assert (r.range_type, r.range_n) == ("ORG", 3)
    assert r.range_cov == 1.0


def test_predicate_domain_range_tie_breaks_lexically(spark):
    from deepie_spark.operators.kgquality import predicate_domain_range

    rows = [
        ("a", "p", "x", "PER", "ORG"),
        ("b", "p", "y", "GPE", "ORG"),
    ]
    [r] = predicate_domain_range(_typed_triples(spark, rows)).collect()
    # 1-1 tie between GPE and PER: smallest type string wins (matches
    # the oracle's ORDER BY n DESC, type)
    assert r.domain_type == "GPE" and r.domain_n == 1


def test_skipgram_pmi_hand_computed(spark):
    import math

    from deepie_spark.operators.skipgram import skipgram_pmi

    pairs = spark.createDataFrame(
        [("a", "b", 4), ("b", "a", 4), ("a", "c", 1), ("c", "a", 1)],
        "center string, context string, n long",
    )
    out = {(r.center, r.context): r for r in
           skipgram_pmi(pairs, min_count=1).collect()}
    r = out[("a", "b")]
    assert (r.n, r.n_center, r.n_context) == (4, 5, 4)
    expect = round(
        math.log(4) + math.log(10) - math.log(5) - math.log(4), 6
    )
    assert r.pmi == expect
    # min_count filters pairs but NOT the marginals
    out2 = {(r.center, r.context): r for r in
            skipgram_pmi(pairs, min_count=2).collect()}
    assert ("a", "c") not in out2 and out2[("a", "b")].n_center == 5


def test_walk_skipgram_pairs_twin(spark):
    from deepie_spark.operators.skipgram import walk_skipgram_pairs

    walks = [
        ("wa", 0, "a"), ("wa", 1, "b"), ("wa", 2, "c"), ("wa", 3, "a"),
        ("wb", 0, "x"), ("wb", 1, "y"),
        ("wc", 0, "z"),  # stopped walk: no pairs
    ]
    df = spark.createDataFrame(walks, "walk string, step long, node string")
    want = {}
    by_walk = {}
    for wk, st, nd in walks:
        by_walk.setdefault(wk, []).append((st, nd))
    for seq in by_walk.values():
        seq = [n for _, n in sorted(seq)]
        for i, c in enumerate(seq):
            for j in range(max(0, i - 2), min(len(seq), i + 3)):
                if j != i:
                    k = (c, seq[j])
                    want[k] = want.get(k, 0) + 1
    got = {(r.center, r.context): r.n
           for r in walk_skipgram_pairs(df, window=2).collect()}
    assert got == want
    got2 = {(r.center, r.context): r.n
            for r in walk_skipgram_pairs(df.repartition(5), 2).collect()}
    assert got2 == got


def test_walk_skipgram_window_validation(spark):
    import pytest

    from deepie_spark.operators.skipgram import walk_skipgram_pairs

    df = spark.createDataFrame([("w", 0, "a")],
                               "walk string, step long, node string")
    with pytest.raises(ValueError):
        walk_skipgram_pairs(df, window=0)


def test_event_trigrams_matches_pandas_twin(spark, sf_dir):
    import os

    from __spark_entry__ import q_event_trigrams

    out = q_event_trigrams(spark, sf_dir).collect()
    got = {(r.t1, r.t2, r.t3): r.n for r in out}

    pdf = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    expected: Counter = Counter()
    for _, grp in pdf.groupby("user_id"):
        types = grp["event_type"].tolist()
        for a, b, c in zip(types, types[1:], types[2:]):
            expected[(a, b, c)] += 1
    assert got == dict(expected)
    sums: Counter = Counter()
    for r in out:
        sums[(r.t1, r.t2)] += r.prob
    for v in sums.values():
        assert v == pytest.approx(1.0, abs=1e-5)


def test_fd_profile_hand_counts(spark):
    from deepie_spark.operators.kgquality import fd_profile

    rows = [
        ("k1", "a"), ("k1", "a"), ("k2", "a"), ("k2", "b"),
        ("k3", "c"), ("k3", "c"), ("k3", "d"), ("k3", "e"),
    ]
    df = spark.createDataFrame(rows, ["lhs", "rhs"])
    got = {
        r.fd: (r.n_keys, r.n_violating, r.max_branching, r.conformance)
        for r in fd_profile(df, [("lhs", "rhs"), ("rhs", "lhs")]).collect()
    }
    # lhs→rhs: k1 ok, k2 (2 rhs) and k3 (3 rhs) violate
    assert got["lhs->rhs"] == (3, 2, 3, round(1 / 3, 6))
    # rhs→lhs: a maps to {k1,k2} → violating; b,c,d,e fine
    assert got["rhs->lhs"] == (5, 1, 2, round(4 / 5, 6))


def test_fd_profile_rejects_empty(spark):
    from deepie_spark.operators.kgquality import fd_profile

    df = spark.createDataFrame([("a", "b")], ["x", "y"])
    with pytest.raises(ValueError):
        fd_profile(df, [])


def test_umass_coherence_perfect_vs_disjoint(spark):
    """Tokens co-occurring in every doc give terms ln((N+1)/N) > 0;
    never-co-occurring head tokens give ln(1/D(w_lo)) < 0."""
    import math

    from deepie_spark.operators.skipgram import umass_coherence

    # 4 docs, tokens a,b in all docs; c only in doc 0, d only in doc 1
    rows = []
    for d in range(4):
        rows += [(d, "a"), (d, "b")]
    rows += [(0, "c"), (1, "d")]
    occ = spark.createDataFrame(rows, "doc_id long, token string")
    out = {(r.w_hi, r.w_lo): r for r in umass_coherence(occ, top_n=4).collect()}
    assert len(out) == 6
    scale = float(1 << 20)
    ab = out[("a", "b")]
    assert ab.d_co == 4 and ab.d_lo == 4
    assert ab.term_fp == math.floor(scale * (math.log(5.0) - math.log(4.0)))
    cd = out[("c", "d")]
    assert cd.d_co == 0
    assert cd.term_fp == math.floor(scale * (0.0 - math.log(1.0)))
    # totals are shared across rows and equal the exact sum
    assert ab.coherence_fp == sum(r.term_fp for r in out.values())
    assert ab.n_pairs == 6
