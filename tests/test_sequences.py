"""LZ78 phrase-count fold, changepoint / forecast / SPRT query
sanity — the sequence-complexity and sequential-analysis additions."""

from pyspark.sql import functions as F


def _py_lz78(s: str) -> int:
    """Reference LZ78 dictionary parse (the textbook sequential walk)."""
    dict_, w, c = set(), "", 0
    for ch in s:
        if w + ch in dict_:
            w = w + ch
        else:
            dict_.add(w + ch)
            w, c = "", c + 1
    return c + (1 if w else 0)


def test_lz78_python_twin(spark):
    from deepie_spark.functions.text import lz78_phrase_count

    cases = [
        "",  # no events -> 0 phrases
        "a",
        "aaaa",  # a, aa, a -> 3
        "aaaaaaaa",
        "ababababab",
        "abcabcabcabc",
        "abcdefghij",  # all distinct -> 10
        "cvcvpcvcvpsse",
        "mississippi",
    ]
    df = spark.createDataFrame([(s,) for s in cases], ["s"])
    out = {
        r.s: r.p
        for r in df.select(
            "s", lz78_phrase_count(F.col("s")).alias("p")
        ).collect()
    }
    for s in cases:
        assert out[s] == _py_lz78(s), s
    assert out["aaaa"] == 3
    assert out["abcdefghij"] == 10


def test_lz78_repetition_compresses(spark):
    from deepie_spark.functions.text import lz78_phrase_count

    rote = "vc" * 50
    diverse = "vcpsevpcsvecpsvpecsvcpesvpcesvepcsvpsecvspecvspce"[:100]
    df = spark.createDataFrame([(rote,), (diverse,)], ["s"])
    vals = [
        r.p
        for r in df.select(
            lz78_phrase_count(F.col("s")).alias("p")
        ).collect()
    ]
    # rote automation parses into far fewer phrases per char
    assert vals[0] < _py_lz78(diverse)
    assert vals[0] == _py_lz78(rote)


def test_binseg_locates_planted_step(spark):
    from __spark_entry__ import q_events_binseg

    r = q_events_binseg(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_bins == 64
    assert 0 <= r.split_bin < 63
    # the split can only reduce SSE
    assert r.gain >= -1e-9
    assert r.sse_split <= r.sse_nosplit + 1e-9


def test_naive_forecast_sanity(spark):
    from __spark_entry__ import q_events_naive_forecast

    r = q_events_naive_forecast(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.m > 0 and r.sae >= 0
    assert r.mae >= 0 and r.rmse >= r.mae - 1e-9  # RMSE >= MAE always
    assert 0 <= r.smape <= 2.0 + 1e-9


def test_sprt_llr_hand_check(spark):
    import math

    from __spark_entry__ import (
        _SPRT_L0,
        _SPRT_L1,
        _SPRT_P0,
        _SPRT_P1,
        q_ab_sprt,
    )

    assert abs(_SPRT_L1 - math.log(_SPRT_P1 / _SPRT_P0)) == 0
    assert abs(_SPRT_L0 - math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))) == 0
    r = q_ab_sprt(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n > 0 and 0 <= r.successes <= r.n
    expect = r.successes * _SPRT_L1 + (r.n - r.successes) * _SPRT_L0
    assert abs(r.final_llr - expect) < 1e-5
    assert r.decision in ("accept_h1", "accept_h0", "continue")
    # crossing times, when present, are valid 1-based ranks
    for t in (r.first_upper_t, r.first_lower_t):
        assert t is None or 1 <= t <= r.n


def _py_dtw(a, b):
    inf = float("inf")
    n, m = len(a), len(b)
    D = [[inf] * (n + 1) for _ in range(m + 1)]
    D[0][0] = 0
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            c = abs(a[j - 1] - b[i - 1])
            D[i][j] = c + min(D[i - 1][j], D[i - 1][j - 1], D[i][j - 1])
    return D[m][n]


def test_dtw_python_twin(spark):
    from deepie_spark.functions.series import dtw_distance

    cases = [
        ([1, 2, 3, 4], [1, 2, 3, 4]),          # identical -> 0
        ([0, 0, 0, 0], [5, 5, 5, 5]),          # constant offset
        ([1, 3, 2, 8, 4], [1, 2, 3, 4, 8]),
        ([7], [7, 7, 7]),                       # warping collapses reps
        ([10, 0, 10, 0, 10], [0, 10, 0, 10, 0]),
        ([2, 4, 6, 8, 10, 12], [12, 10, 8, 6, 4, 2]),
    ]
    df = spark.createDataFrame(
        [(list(a), list(b)) for a, b in cases],
        "a array<long>, b array<long>",
    )
    out = [
        r.d
        for r in df.select(
            dtw_distance(F.col("a"), F.col("b")).alias("d")
        ).collect()
    ]
    for (a, b), got in zip(cases, out):
        assert got == _py_dtw(a, b), (a, b)
    assert out[0] == 0
    assert out[3] == 0  # [7] vs [7,7,7] warps to zero cost


def test_qini_perfect_vs_inverted_ordering(spark):
    # on any fixed population, ranking responders-first beats the
    # inverted ranking; the query's fixed-point area must agree with
    # a float twin computed from the same collected rows
    from __spark_entry__ import q_value_qini

    r = q_value_qini(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n == r.nt_n + r.nc_n
    assert 0 <= r.rt_n <= r.nt_n and 0 <= r.rc_n <= r.nc_n
    # |qini| is bounded by the max possible uplift share
    assert abs(r.qini) <= r.n


def test_nw_score_python_twin(spark):
    from pyspark.sql import functions as F

    from deepie_spark.functions.series import nw_score

    a = [1, 2, 3, 2, 1, 4]
    b = [1, 3, 3, 2, 4]
    df = spark.createDataFrame([(a, b)], ["arr_a", "arr_b"])
    got = df.select(
        nw_score(F.col("arr_a"), F.col("arr_b")).alias("s")
    ).collect()[0].s

    # textbook DP twin
    la, lb = len(a), len(b)
    D = [[0] * (la + 1) for _ in range(lb + 1)]
    for j in range(la + 1):
        D[0][j] = -j
    for i in range(1, lb + 1):
        D[i][0] = -i
        for j in range(1, la + 1):
            s = 2 if a[j - 1] == b[i - 1] else -1
            D[i][j] = max(
                D[i - 1][j - 1] + s, D[i - 1][j] - 1, D[i][j - 1] - 1
            )
    assert got == D[lb][la]

    # identical sequences score 2·n; empty-vs-x scores -len(x)
    same = spark.createDataFrame([(a, a)], ["arr_a", "arr_b"])
    assert same.select(
        nw_score(F.col("arr_a"), F.col("arr_b")).alias("s")
    ).collect()[0].s == 2 * len(a)
