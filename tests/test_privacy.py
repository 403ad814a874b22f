import pytest
from pyspark.sql import functions as F


def test_geometric_thresholds_partition_exactly():
    """Thresholds tile [0, D) exactly: c_0 = 2^T + 2 (leftover tail
    mass assigned to 0), each +-k block has width 2^(T-k+1), and the
    last threshold equals D — no undefined gap for any draw."""
    from deepie_spark.operators.privacy import geometric_thresholds

    for t in (4, 8, 16):
        d, cums = geometric_thresholds(t)
        assert d == 3 * (1 << t)
        assert cums[0] == (1 << t) + 2
        widths = [cums[k] - cums[k - 1] for k in range(1, len(cums))]
        assert widths == [1 << (t - k + 1) for k in range(1, t + 1)]
        assert cums[-1] == d
    with pytest.raises(ValueError):
        geometric_thresholds(0)


def test_geometric_noise_distribution_and_determinism(spark):
    """Over 30k distinct keys the empirical noise distribution matches
    the two-sided geometric with a = 1/2: P(0) ~= 1/3, P(k)/P(k+1)
    ~= 2, both signs symmetric; and the draw is a pure function of the
    key (two runs identical)."""
    from deepie_spark.operators.privacy import geometric_noise

    keys = spark.range(30_000).select(F.col("id").cast("long").alias("h"))
    out = keys.select(geometric_noise(F.col("h"), salt=7).alias("nz"))
    hist = {r["nz"]: r["cnt"] for r in
            out.groupBy("nz").agg(F.count("*").alias("cnt")).collect()}
    n = 30_000
    assert abs(hist[0] / n - 1 / 3) < 0.02
    for k in (1, 2, 3):
        for s in (k, -k):
            assert abs(hist[s] / n - (1 / 3) * 2 ** -k) < 0.02
    again = {r["nz"]: r["cnt"] for r in
             keys.select(geometric_noise(F.col("h"), salt=7).alias("nz"))
             .groupBy("nz").agg(F.count("*").alias("cnt")).collect()}
    assert again == hist


def test_dp_noisy_counts_clamps_and_reports(spark):
    """Small groups: n_noisy = max(n_true + noise, 0) exactly, noise
    drawn per GROUP (same key -> same noise regardless of row count),
    epsilon column = ln 2."""
    from deepie_spark.operators.privacy import dp_noisy_counts

    rows = [("a",)] * 5 + [("b",)] * 1 + [("c",)] * 3
    df = spark.createDataFrame(rows, "k string")
    got = {r["key"]: r for r in dp_noisy_counts(df, "k").collect()}
    for key, n_true in (("a", 5), ("b", 1), ("c", 3)):
        r = got[key]
        assert r["n_true"] == n_true
        assert r["n_noisy"] == max(n_true + r["noise"], 0)
        assert r["epsilon"] == 0.693147
    # per-group determinism: doubling a group's rows changes n_true
    # but NOT the noise draw (keyed on the key, not the data)
    df2 = spark.createDataFrame(rows + [("a",)] * 5, "k string")
    got2 = {r["key"]: r for r in dp_noisy_counts(df2, "k").collect()}
    assert got2["a"]["noise"] == got["a"]["noise"]
    assert got2["a"]["n_true"] == 10


def test_k_anonymity_audit_hand(spark):
    from deepie_spark.operators.privacy import k_anonymity_audit

    rows = [("en", "a")] * 6 + [("en", "b")] * 2 + [("de", "a")] * 5
    df = spark.createDataFrame(rows, "lang string, source string")
    got = {(r.lang, r.source): r
           for r in k_anonymity_audit(df, ["lang", "source"], k=5).collect()}
    assert got[("en", "a")].is_k_anonymous
    assert not got[("en", "b")].is_k_anonymous
    g = got[("de", "a")]
    assert g.min_group == 2 and g.n_rows == 13 and g.n_below_k == 2
    assert g.violation_share == round(2 / 13, 6)
