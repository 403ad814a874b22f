"""Incremental view maintenance (plans/ivm.py): merge == recompute."""

import numpy as np
from pyspark.sql import functions as F

from deepie_spark.plans.ivm import agg_state, merge_agg_state


def _rows(rng, n, groups):
    return [
        (f"g{rng.randint(groups)}", int(rng.randint(-500, 500)))
        for _ in range(n)
    ]


def test_merge_equals_recompute(spark):
    rng = np.random.RandomState(17)
    base = _rows(rng, 400, 6)
    delta = _rows(rng, 90, 8)  # includes groups ABSENT from base
    b = spark.createDataFrame(base, ["g0", "v"])
    d = spark.createDataFrame(delta, ["g0", "v"])
    merged = merge_agg_state(
        agg_state(b, "g0", "v"), agg_state(d, "g0", "v")
    )
    full = agg_state(b.unionByName(d), "g0", "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_merge_handles_one_sided_groups(spark):
    b = spark.createDataFrame([("only_base", 5)], ["g0", "v"])
    d = spark.createDataFrame([("only_delta", -3)], ["g0", "v"])
    got = {
        r.g: (r.n, r.total, r.mn, r.mx)
        for r in merge_agg_state(
            agg_state(b, "g0", "v"), agg_state(d, "g0", "v")
        ).collect()
    }
    assert got == {
        "only_base": (1, 5, 5, 5),
        "only_delta": (1, -3, -3, -3),
    }


def test_merge_is_associative_across_batches(spark):
    rng = np.random.RandomState(3)
    parts = [_rows(rng, 120, 5) for _ in range(3)]
    dfs = [spark.createDataFrame(p, ["g0", "v"]) for p in parts]
    s = agg_state(dfs[0], "g0", "v")
    for nxt in dfs[1:]:
        s = merge_agg_state(s, agg_state(nxt, "g0", "v"))
    full = agg_state(
        dfs[0].unionByName(dfs[1]).unionByName(dfs[2]), "g0", "v"
    )
    assert sorted(map(tuple, s.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_zset_merge_equals_scratch_and_drops_zero_groups(spark):
    from deepie_spark.plans.ivm import merge_zset, zset_state

    base = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], ["g", "v"]
    )
    # delta retracts BOTH b-rows' worth (b vanishes) and inserts c
    delta = spark.createDataFrame(
        [("b", 5, -1), ("c", 7, 1), ("a", 3, 1)], ["g", "v", "w"]
    )
    merged = {r["g"]: (r["n"], r["total"])
              for r in merge_zset(
                  zset_state(base, "g", "v"),
                  zset_state(delta, "g", "v", "w")).collect()}
    assert merged == {"a": (3, 33), "c": (1, 7)}  # b dropped at n=0


def test_zset_retraction_of_unseen_group_goes_negative(spark):
    from deepie_spark.plans.ivm import merge_zset, zset_state

    state = zset_state(
        spark.createDataFrame([("a", 1)], ["g", "v"]), "g", "v"
    )
    delta = zset_state(
        spark.createDataFrame([("x", 9, -1)], ["g", "v", "w"]),
        "g", "v", "w",
    )
    got = {r["g"]: (r["n"], r["total"])
           for r in merge_zset(state, delta).collect()}
    # Z-sets are honest about over-retraction: weight -1 survives
    assert got["x"] == (-1, -9)


def test_apply_changes_semantics(spark):
    from deepie_spark.plans.ivm import apply_changes

    snap = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], ["k", "bal"]
    )
    ops = spark.createDataFrame(
        [
            (1, 10, "U", 111),  # upsert existing
            (2, 11, "D", 0),    # delete existing
            (2, 12, "U", 222),  # ...then re-upsert (latest wins)
            (3, 13, "U", 999),
            (3, 14, "D", 0),    # latest is delete -> gone
            (4, 15, "U", 400),  # insert new key
        ],
        ["k", "t", "op", "bal"],
    )
    got = {r["k"]: (r["bal"], r["src"])
           for r in apply_changes(
               snap, ops, "k", ["t"], "op", "bal").collect()}
    assert got == {1: (111, "upsert"), 2: (222, "upsert"),
                   4: (400, "upsert")}
    assert 3 not in got


def test_distinct_state_merge_equals_scratch(spark):
    """state ⊕ delta (with retractions) == from-scratch distinct
    counts of the net multiset."""
    from deepie_spark.plans.ivm import (
        distinct_counts,
        distinct_state,
        merge_distinct_state,
    )

    base = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 3), ("b", 3)], ["g", "v"]
    )
    ins = spark.createDataFrame(
        [("a", 2), ("a", 9), ("b", 3)], ["g", "v"]
    )
    # retract one (a,1) and BOTH (b,3) base rows
    rets = spark.createDataFrame(
        [("a", 1), ("b", 3), ("b", 3)], ["g", "v"]
    )
    import pyspark.sql.functions as F

    delta = (
        distinct_state(ins, "g", "v")
        .unionByName(
            distinct_state(rets, "g", "v").select(
                "g", "v", (-F.col("supp")).cast("long").alias("supp")
            )
        )
        .groupBy("g", "v")
        .agg(F.sum("supp").cast("long").alias("supp"))
    )
    merged = merge_distinct_state(distinct_state(base, "g", "v"), delta)
    got = {
        r.g: (r.n_distinct, r.n_rows)
        for r in distinct_counts(merged).collect()
    }
    # net multiset: a -> {1:1, 2:2, 9:1}; b -> {3:1}
    assert got == {"a": (3, 4), "b": (1, 1)}
    # a value fully retracted must VANISH from the support state
    vals = {(r.g, r.v) for r in merged.collect()}
    assert ("b", 3) in vals and ("a", 1) in vals
    # retract the last (a,1) too: it must disappear
    delta2 = spark.createDataFrame([("a", 1, -1)], ["g", "v", "supp"])
    merged2 = merge_distinct_state(merged, delta2)
    assert ("a", 1) not in {(r.g, r.v) for r in merged2.collect()}
