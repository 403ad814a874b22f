"""Incremental view maintenance for distributive/algebraic aggregates.

A 100-TB rollup is never recomputed from scratch when a day of new
rows lands; the materialized aggregate STATE is merged with the
delta's partial aggregate — the classic self-maintainable-view rule
(Gupta & Mumick, "Maintenance of Materialized Views", 1995): COUNT and
SUM are distributive (state ⊕ delta = add), MIN/MAX are
insert-maintainable (merge = min/max), and AVG is algebraic (derive
from SUM/COUNT at read time — never stored pre-divided).

``merge_agg_state`` implements exactly that contract:

- state and delta both carry (group, n, total, mn, mx) exact longs;
- merge = ONE full-outer join on the group key + coalesced combiners —
  cost O(|state| + |delta|), independent of the base table size;
- inserts only (deletes need either 2-sided counting or recompute —
  out of scope and documented, like every SUM/COUNT IVM engine).

The invariant the test and oracle pin: merging state(base) with
agg(delta) is IDENTICAL (hash-exact, not approximately) to
aggregating base ∪ delta from scratch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def agg_state(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """The maintainable aggregate state: (group, n, total, mn, mx)
    exact longs — everything needed to answer count/sum/min/max/avg."""
    return df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(value_col).cast("long")).cast("long").alias("total"),
        F.min(F.col(value_col).cast("long")).alias("mn"),
        F.max(F.col(value_col).cast("long")).alias("mx"),
    )


def merge_agg_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """state ⊕ delta (both agg_state-shaped) — one full-outer join on
    the group key, combiners per aggregate class."""
    s = state.select(
        "g",
        F.col("n").alias("n_s"),
        F.col("total").alias("t_s"),
        F.col("mn").alias("mn_s"),
        F.col("mx").alias("mx_s"),
    )
    d = delta.select(
        "g",
        F.col("n").alias("n_d"),
        F.col("total").alias("t_d"),
        F.col("mn").alias("mn_d"),
        F.col("mx").alias("mx_d"),
    )
    z = F.lit(0).cast("long")
    return s.join(d, "g", "full_outer").select(
        "g",
        (F.coalesce("n_s", z) + F.coalesce("n_d", z)).alias("n"),
        (F.coalesce("t_s", z) + F.coalesce("t_d", z)).alias("total"),
        F.least(
            F.coalesce("mn_s", F.col("mn_d")),
            F.coalesce("mn_d", F.col("mn_s")),
        ).alias("mn"),
        F.greatest(
            F.coalesce("mx_s", F.col("mx_d")),
            F.coalesce("mx_d", F.col("mx_s")),
        ).alias("mx"),
    )


def zset_state(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Weighted (Z-set) aggregate state — the DELETE-capable upgrade
    of agg_state (the Z-set/weighted-multiset formalism of
    differential dataflow and DBSP, Budiu et al. 2023): every input
    row carries an integer weight (+1 insert, −1 retraction,
    default +1), and the state per group is (n = Σw, total = Σw·v) —
    both distributive under ADDITION even when weights are negative,
    which is exactly what agg_state's min/max cannot do (documented
    out of scope there; a Z-set min/max needs the full value
    multiset).

    Output: (g, n, total) exact longs; groups whose weights cancel
    to n = 0 are DROPPED (the Z-set liveness rule — a zero-weight
    row does not exist)."""
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    g = df.groupBy(F.col(group_col).alias("g")).agg(
        F.sum(w).cast("long").alias("n"),
        F.sum(w * F.col(value_col).cast("long"))
        .cast("long")
        .alias("total"),
    )
    return g.filter(F.col("n") != 0)


def merge_zset(state: DataFrame, delta: DataFrame) -> DataFrame:
    """state ⊕ delta for zset_state-shaped frames: one full-outer
    join on the group key, coalesced adds, drop n = 0 groups.  Cost
    O(|state| + |delta|) regardless of base size — the retraction-
    capable counterpart of merge_agg_state, and the reason a 100-TB
    rollup absorbs a correction batch without a recompute."""
    s = state.select(
        "g", F.col("n").alias("n_s"), F.col("total").alias("t_s")
    )
    d = delta.select(
        "g", F.col("n").alias("n_d"), F.col("total").alias("t_d")
    )
    z = F.lit(0).cast("long")
    m = s.join(d, "g", "full_outer").select(
        "g",
        (F.coalesce("n_s", z) + F.coalesce("n_d", z))
        .cast("long")
        .alias("n"),
        (F.coalesce("t_s", z) + F.coalesce("t_d", z))
        .cast("long")
        .alias("total"),
    )
    return m.filter(F.col("n") != 0)


def apply_changes(
    snapshot: DataFrame,
    ops: DataFrame,
    key_col: str,
    order_cols: list[str],
    op_col: str,
    payload_col: str,
) -> DataFrame:
    """CDC MERGE (apply-changes) semantics over a snapshot: an op log
    of upserts ('U') and deletes ('D') per key, ordered by
    ``order_cols``, folds into the snapshot with LATEST-OP-WINS — the
    Delta/Iceberg `MERGE INTO` / `APPLY CHANGES` contract, and the
    batch core a streaming CDC sink replays.

    Plan: the op log reduces to one row per key via
    max(struct(order..., op, payload)) — a PARTIAL-AGG pick-latest
    (the latest_event rule: combiner-friendly, no window) — then ONE
    full-outer join against the snapshot:

        latest op 'D'  → key dropped (even if in snapshot)
        latest op 'U'  → payload replaces / inserts
        no op          → snapshot row carried through

    ``order_cols`` must totally order each key's ops (ties would make
    "latest" ambiguous — the windows-need-tie-breaks review trap).

    Output: (key, value, src) with src ∈ {'snapshot', 'upsert'}."""
    last = ops.groupBy(F.col(key_col).alias("k")).agg(
        F.max(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.col(op_col).alias("_op"),
                F.col(payload_col).alias("_pay"),
            )
        ).alias("last")
    )
    snap = snapshot.select(
        F.col(key_col).alias("k"),
        F.col(payload_col).alias("_snap_pay"),
    )
    j = snap.join(last, "k", "full_outer")
    return (
        j.filter(
            F.col("last").isNull() | (F.col("last._op") != F.lit("D"))
        )
        .select(
            F.col("k").alias(key_col),
            F.when(F.col("last").isNotNull(), F.col("last._pay"))
            .otherwise(F.col("_snap_pay"))
            .alias(payload_col),
            F.when(F.col("last").isNotNull(), F.lit("upsert"))
            .otherwise(F.lit("snapshot"))
            .alias("src"),
        )
    )


def distinct_state(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """The maintainable COUNT(DISTINCT value) state: support counts
    per (group, value) — the auxiliary relation that makes distinct
    counting self-maintainable under BOTH inserts and deletes (a
    plain distinct-count view is not even insert-maintainable: an
    arriving value may or may not be new, so the view alone cannot
    decide).  Exactly the counting algorithm's support table
    specialized to the distinct aggregate."""
    return df.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("supp"))


def merge_distinct_state(
    state: DataFrame, delta: DataFrame
) -> DataFrame:
    """state ⊕ delta for distinct_state where the delta carries a
    ``supp`` that may be NEGATIVE (retractions, zset-style): one
    full-outer join on (g, v), supports add, rows at support ≤ 0
    drop out.  Maintenance cost O(|state| + |delta|), independent of
    the base table size."""
    s = state.select("g", "v", F.col("supp").alias("s_s"))
    d = delta.select("g", "v", F.col("supp").alias("s_d"))
    z = F.lit(0).cast("long")
    return (
        s.join(d, ["g", "v"], "full_outer")
        .select(
            "g",
            "v",
            (F.coalesce("s_s", z) + F.coalesce("s_d", z))
            .cast("long")
            .alias("supp"),
        )
        .filter(F.col("supp") > 0)
    )


def distinct_counts(state: DataFrame) -> DataFrame:
    """Read the distinct-count view off the support state: one count
    per group (plus the total multiplicity for the audit)."""
    return state.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("supp").cast("long").alias("n_rows"),
    )


def topk_state(
    df: DataFrame, val_col: str, key_col: str, k: int
) -> DataFrame:
    """The maintainable TOP-K view state under INSERT-only deltas:
    the k largest rows by (val desc, key asc).  Plans as
    TakeOrderedAndProject — no global sort, no window."""
    return (
        df.select(
            F.col(key_col).cast("long").alias("key"),
            F.col(val_col).cast("long").alias("val"),
        )
        .orderBy(F.desc("val"), "key")
        .limit(k)
    )


def merge_topk(state: DataFrame, delta: DataFrame, k: int) -> DataFrame:
    """state ⊕ delta for the top-k view: top-k(A ∪ Δ) =
    top-k(top-k(A) ∪ top-k(Δ)) — exact for insert-only streams
    (every global top-k row survives its side's local top-k), so the
    merge touches 2k rows, never the base."""
    return (
        state.unionByName(delta)
        .orderBy(F.desc("val"), "key")
        .limit(k)
    )
