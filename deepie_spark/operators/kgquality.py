"""Schema-quality mining over the materialized triple table (KG stage 8).

After canonicalization materializes (subj, pred, obj) rows, a KG
construction pipeline audits its own output: which predicates are
inverses of each other (``hasParent`` vs ``parentOf`` — merge targets
for schema cleaning), and which 2-hop compositions imply a direct
predicate (AMIE-style horn rules, Galárraga et al. WWW 2013 — the
standard weak-supervision signal for link prediction and for flagging
missing/spurious triples).  Both are pure relational compositions over
the triple table — no UDFs, everything inside whole-stage codegen.

The reference pipeline stops at triple emission (rnnRE.py:979-994
renders per-pair predictions); these operators are the downstream
audit a 10^12-triple materialization needs before the table ships.

Scale notes (the part that must hold at 100 TB):

* Both operators start from ``DISTINCT (pred, subj, obj)`` — ONE
  shuffle with map-side combine; everything downstream joins on entity
  keys, never on predicate alone (predicates are few and would be the
  worst possible shuffle key).
* ``predicate_inverses`` joins the distinct triple set to itself on
  the REVERSED entity pair ``(subj, obj) = (obj, subj)`` — the join key
  is the entity pair, high-cardinality and well-spread; head entities
  skew only if one PAIR repeats, which the upfront distinct removed.
  Predicate marginals are a predicate-count-sized aggregate joined
  back (broadcast-sized by definition).
* ``rule_mine_2hop``'s path join keys on the shared middle entity —
  the one genuinely skew-exposed stage (hub entities fan out
  out-degree × in-degree).  The ``max_mid_degree`` guard drops hub
  middles from the PATH stage only (same design as
  graph.neighborhood_jaccard's hub guard): rule support loses only
  paths through super-hubs, which AMIE-style confidence estimates
  deliberately down-weight anyway; pass ``None`` to run unguarded
  (the gated oracle query does — the toy graph has no hubs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _distinct_triples(
    triples: DataFrame, subj: str, pred: str, obj: str
) -> DataFrame:
    return (
        triples.select(
            F.col(subj).alias("s"), F.col(pred).alias("p"),
            F.col(obj).alias("o"),
        )
        .filter(F.col("s") != F.col("o"))
        .distinct()
    )


def predicate_inverses(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Inverse-predicate discovery: for every predicate pair (p, q),
    how many distinct entity pairs (s, o) with p(s, o) also have
    q(o, s)?  ``inv_score = n_inverse / min(n_p, n_q)`` (the AMIE
    overlap-over-smaller coefficient) ≈ 1 flags p and q as inverses —
    the signal that drives predicate merging in schema cleaning.

    Pairs are emitted once: ``pred_a <= pred_b``, and for the
    self-inverse case p == q (symmetric predicates, e.g. ``spouse``)
    only ``s < o`` rows count so each unordered pair contributes one
    row.  Self-loop triples (s == o) are excluded up front — they are
    trivially their own inverse and would inflate every diagonal.

    All counts are exact integers; ``inv_score`` divides the same two
    longs in both engines, rounded to 6 digits (repo FP convention).
    """
    t = _distinct_triples(triples, subj_col, pred_col, obj_col)
    marg = t.groupBy("p").agg(F.count(F.lit(1)).alias("n_pairs"))

    a = t.alias("a")
    b = t.alias("b")
    inv = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.o"))
            & (F.col("a.o") == F.col("b.s"))
            & (
                (F.col("a.p") < F.col("b.p"))
                | ((F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("a.o")))
            ),
            "inner",
        )
        .groupBy(
            F.col("a.p").alias("pred_a"), F.col("b.p").alias("pred_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inverse"))
    )
    ma = marg.select(F.col("p").alias("pred_a"), F.col("n_pairs").alias("n_a"))
    mb = marg.select(F.col("p").alias("pred_b"), F.col("n_pairs").alias("n_b"))
    return (
        inv.join(F.broadcast(ma), "pred_a")
        .join(F.broadcast(mb), "pred_b")
        .select(
            "pred_a",
            "pred_b",
            "n_inverse",
            "n_a",
            "n_b",
            F.round(
                F.col("n_inverse").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("inv_score"),
        )
    )


def rule_mine_2hop(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    min_support: int = 1,
    max_mid_degree: int | None = None,
) -> DataFrame:
    """AMIE-style closed 2-hop horn rules  p(s, x) ∧ q(x, o) ⇒ r(s, o)
    (Galárraga et al. 2013): ``support`` = #distinct (s, o) pairs
    satisfying body AND head, ``n_body`` = #distinct (s, o) satisfying
    the body, ``confidence = support / n_body`` (CWA confidence).

    Plan: distinct triples → path join on the middle entity x →
    distinct (p, q, s, o) body pairs → equi-join against the head
    triple set on (s, o) → two counting aggregates.  Every join is an
    equi-join on entity keys; counts are exact longs, confidence is
    one int/int division rounded to 6 digits.

    ``max_mid_degree`` (see module docstring) bounds the hub fan-out
    of the path stage; degree is total (in + out) over the distinct
    triple set.  Paths with s == o (2-cycles) stay in the body count —
    the head join's s != o filter already removed self-loop heads, and
    AMIE counts cyclic body instances.
    """
    t = _distinct_triples(triples, subj_col, pred_col, obj_col)

    left = t.select(F.col("p").alias("bp"), "s", F.col("o").alias("mid"))
    right = t.select(F.col("p").alias("bq"), F.col("s").alias("mid"), "o")
    if max_mid_degree is not None:
        deg = (
            t.select(F.col("o").alias("mid"))
            .unionByName(t.select(F.col("s").alias("mid")))
            .groupBy("mid")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") <= F.lit(max_mid_degree))
            .select("mid")
        )
        left = left.join(deg, "mid", "left_semi")
        right = right.join(deg, "mid", "left_semi")

    body = (
        left.join(right, "mid")
        .select("bp", "bq", "s", "o")
        .distinct()
    )
    n_body = body.groupBy("bp", "bq").agg(F.count(F.lit(1)).alias("n_body"))
    heads = t.select(F.col("p").alias("head_r"), "s", "o")
    support = (
        body.join(heads, ["s", "o"])
        .groupBy("bp", "bq", "head_r")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= F.lit(int(min_support)))
    )
    return support.join(n_body, ["bp", "bq"]).select(
        F.col("bp").alias("body_p"),
        F.col("bq").alias("body_q"),
        "head_r",
        "support",
        "n_body",
        F.round(
            F.col("support").cast("double") / F.col("n_body").cast("double"), 6
        ).alias("confidence"),
    )


def predicate_domain_range(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    subj_type_col: str = "subj_type",
    obj_type_col: str = "obj_type",
) -> DataFrame:
    """Domain/range induction per predicate: the modal subject type
    (domain) and modal object type (range) with their coverage ratios
    — the ontology-induction signal schema cleaning reads right after
    ``predicate_profile`` (a predicate whose domain coverage is ~1 is
    type-consistent; a low one flags extraction noise or a predicate
    to split).  Standard KG-refinement practice (Paulheim 2017 §4.1).

    Plan: distinct (s, p, o[, types]) — types are functionally
    determined by the entity so the distinct stays (s, p, o)-sized —
    then two (pred, type)-keyed counting aggregates and a per-pred
    argmax via ``min(struct(-n, type))`` (partial-agg argmax, no
    window), joined back to the predicate marginal.  Every aggregate
    output is predicate-count- or (pred × type)-sized — broadcast by
    definition; nothing shuffles corpus-scale rows twice.  Counts are
    exact longs; coverage divides the same two longs in both engines,
    rounded to 6 digits (repo FP convention).
    """
    t = (
        triples.select(
            F.col(subj_col).alias("s"),
            F.col(pred_col).alias("p"),
            F.col(obj_col).alias("o"),
            F.col(subj_type_col).alias("st"),
            F.col(obj_type_col).alias("ot"),
        )
        .filter(F.col("s") != F.col("o"))
        .distinct()
    )
    tot = t.groupBy("p").agg(F.count(F.lit(1)).alias("n_triples"))

    def _modal(type_col: str, prefix: str) -> DataFrame:
        counts = t.groupBy("p", type_col).agg(
            F.count(F.lit(1)).alias("n")
        )
        return counts.groupBy("p").agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("neg"),
                    F.col(type_col).alias("ty"),
                )
            ).alias("m")
        ).select(
            "p",
            F.col("m.ty").alias(f"{prefix}_type"),
            (-F.col("m.neg")).cast("long").alias(f"{prefix}_n"),
        )

    out = (
        tot.join(F.broadcast(_modal("st", "domain")), "p")
        .join(F.broadcast(_modal("ot", "range")), "p")
    )
    return out.select(
        F.col("p").alias("pred"),
        "n_triples",
        "domain_type",
        "domain_n",
        F.round(
            F.col("domain_n").cast("double")
            / F.col("n_triples").cast("double"),
            6,
        ).alias("domain_cov"),
        "range_type",
        "range_n",
        F.round(
            F.col("range_n").cast("double")
            / F.col("n_triples").cast("double"),
            6,
        ).alias("range_cov"),
    )


def fd_profile(
    df: DataFrame, fds: list[tuple[str, str]]
) -> DataFrame:
    """Functional-dependency conformance profile: for each candidate
    FD ``lhs → rhs``, how many lhs keys exist, how many VIOLATE the
    dependency (more than one distinct rhs), and the worst branching
    factor — the data-cleaning discovery signal (Ilyas & Chu, "Data
    Cleaning", ch. 7) a KG pipeline runs to decide which columns are
    safe merge keys / deterministic attributes.

    Exact-long counts; ``conformance`` = (n_keys − n_violating) /
    n_keys is one int/int IEEE divide (engine-portable).  One
    distinct-aggregation per FD over a bounded FD list, unioned —
    each is two map-side-combinable shuffles keyed on the lhs.
    """
    if not fds:
        raise ValueError("need at least one (lhs, rhs) pair")
    out = None
    for lhs, rhs in fds:
        per_key = df.groupBy(F.col(lhs).alias("k")).agg(
            F.countDistinct(F.col(rhs)).alias("n_rhs")
        )
        row = per_key.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.max("n_rhs").cast("long").alias("max_branching"),
        ).select(
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            "n_keys",
            "n_violating",
            "max_branching",
            F.round(
                (F.col("n_keys") - F.col("n_violating")) / F.col("n_keys"),
                6,
            ).alias("conformance"),
        )
        out = row if out is None else out.unionByName(row)
    return out
