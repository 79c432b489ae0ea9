"""Round-11 eighth-wave operators: experimentation statistics
(Mann-Whitney U, log-rank, CUPED), rank correlation, robust summary
stats, readability, and the image difference hash. Each test pins the
operator against an independently computed reference on planted data —
the same numbers the DuckDB oracles hash at the driver gate.
"""

from __future__ import annotations

import math

import pytest

from pd_explain_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("r11_tests")


# ---------------------------------------------------------------- Mann-Whitney


def test_mann_whitney_matches_reference(spark):
    from pd_explain_spark.functions.drift import mann_whitney_u

    av, bv = [1, 2, 2, 3, 5, 7, 7, 8], [2, 4, 4, 6, 6, 9]
    a = spark.createDataFrame([(float(v),) for v in av], "value double")
    b = spark.createDataFrame([(float(v),) for v in bv], "value double")
    r = mann_whitney_u(a, b, "value").collect()[0]
    # hand-computed with average ranks + tie correction (scipy's
    # asymptotic method without continuity correction)
    assert (r["n_a"], r["n_b"]) == (8, 6)
    assert r["u_micro"] == 20_000_000  # U = 20.0
    assert r["z_micro"] == -520_416


def test_mann_whitney_empty_side_fails_loud(spark):
    from pd_explain_spark.functions.drift import mann_whitney_u

    a = spark.createDataFrame([(1.0,)], "value double")
    b = spark.createDataFrame([(None,)], "value double")
    with pytest.raises(Exception, match="empty sample side"):
        mann_whitney_u(a, b, "value").collect()


def test_mann_whitney_shift_detection(spark):
    from pd_explain_spark.functions.drift import mann_whitney_u

    a = spark.createDataFrame([(float(i % 50),) for i in range(500)], "value double")
    b = spark.createDataFrame(
        [(float(i % 50 + 5),) for i in range(500)], "value double"
    )
    z = mann_whitney_u(a, b, "value").collect()[0]["z_micro"]
    assert z < -3_000_000  # a sits well below b: strongly negative z


# ---------------------------------------------------------------- log-rank


def test_log_rank_matches_reference(spark):
    from pd_explain_spark.functions.events import log_rank_test

    rows = [
        (6, 1, "a"), (6, 1, "a"), (6, 1, "a"), (6, 0, "a"),
        (7, 1, "a"), (9, 0, "a"), (10, 1, "a"), (10, 0, "a"),
        (1, 1, "b"), (2, 1, "b"), (3, 1, "b"), (4, 1, "b"),
        (5, 1, "b"), (8, 1, "b"), (8, 1, "b"), (11, 0, "b"),
    ]
    df = spark.createDataFrame(rows, "t bigint, e int, g string")
    r = log_rank_test(df, "t", "e", "g").collect()[0]
    # hand-computed hypergeometric expectation/variance walk
    assert (r["n_a"], r["n_b"], r["o_a"]) == (8, 8, 5)
    assert r["e_a_micro"] == 7_306_727
    assert r["chi2_micro"] == 2_090_064
    assert r["z_micro"] == -1_445_705


def test_log_rank_requires_two_groups(spark):
    from pd_explain_spark.functions.events import log_rank_test

    df = spark.createDataFrame([(5, 1, "only")], "t bigint, e int, g string")
    with pytest.raises(Exception, match="exactly 2 groups"):
        log_rank_test(df, "t", "e", "g").collect()


def test_log_rank_identical_groups_near_zero(spark):
    from pd_explain_spark.functions.events import log_rank_test

    rows = [(t, 1, g) for t in range(1, 40) for g in ("a", "b")]
    df = spark.createDataFrame(rows, "t bigint, e int, g string")
    r = log_rank_test(df, "t", "e", "g").collect()[0]
    assert abs(r["chi2_micro"]) < 60_000  # identical curves: chi2 ~ 0


def test_log_rank_without_events_counts_zero(spark):
    """Every subject censored: O and E are sums over no event, 0 (not
    NULL); chi2 and z are undefined (V = 0) and stay NULL."""
    from pd_explain_spark.functions.events import log_rank_test

    rows = [(1, 0, "b"), (1, 0, "b"), (1, 0, "b"), (1, 0, "a")]
    df = spark.createDataFrame(rows, "t bigint, e int, g string")
    r = log_rank_test(df, "t", "e", "g").collect()[0].asDict()
    assert r == {
        "n_a": 1, "n_b": 3, "o_a": 0, "e_a_micro": 0, "chi2_micro": None, "z_micro": None,
    }


# ---------------------------------------------------------------- CUPED


def _cuped_manual(rows, scale=1_000_000):
    ym = [math.floor(y * 1000 + 0.5) for y, _, _ in rows]
    xm = [math.floor(x * 1000 + 0.5) for _, x, _ in rows]
    gs = [g for *_, g in rows]
    n = len(rows)
    sx, sy = sum(xm), sum(ym)
    sxx = sum(a * a for a in xm)
    sxy = sum(a * b for a, b in zip(xm, ym))
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    xbar = sx / n / 1000.0
    ga = min(set(gs))
    adj = [
        math.floor(((b / 1000.0) - theta * ((a / 1000.0) - xbar)) * scale + 0.5)
        for a, b in zip(xm, ym)
    ]
    sa = sum(v for v, g in zip(adj, gs) if g == ga)
    na = sum(1 for g in gs if g == ga)
    sb = sum(v for v, g in zip(adj, gs) if g != ga)
    return theta, sa / na / scale, sb / (n - na) / scale


def test_cuped_matches_reference_and_reduces_variance(spark):
    from pd_explain_spark.functions.events import cuped_report

    import random

    random.seed(7)
    rows = []
    for i in range(400):
        x = random.gauss(10, 3)
        g = "treat" if i % 2 == 0 else "ctrl"
        y = 2.0 + 0.8 * x + (0.5 if g == "treat" else 0.0) + random.gauss(0, 1)
        rows.append((round(y, 3), round(x, 3), g))
    df = spark.createDataFrame(rows, "y double, x double, g string")
    r = cuped_report(df, "y", "x", "g").collect()[0]
    theta, ma, mb = _cuped_manual(rows)
    assert r["theta_micro"] == math.floor(theta * 1e6 + 0.5)
    assert r["mean_adj_a_micro"] == math.floor(ma * 1e6 + 0.5)
    assert r["mean_adj_b_micro"] == math.floor(mb * 1e6 + 0.5)
    # the covariate carries ~84% of the metric variance here
    assert r["var_reduction_micro"] > 700_000
    # and the 0.5 lift is detected with a strong z ('ctrl' is group a)
    assert r["z_micro"] < -4_000_000


def test_cuped_requires_two_groups(spark):
    from pd_explain_spark.functions.events import cuped_report

    df = spark.createDataFrame([(1.0, 1.0, "x")], "y double, x double, g string")
    with pytest.raises(Exception, match="exactly 2 groups"):
        cuped_report(df, "y", "x", "g").collect()


# ---------------------------------------------------------------- Spearman


def test_spearman_monotone_transform_invariance(spark):
    from pd_explain_spark.functions.profiling import spearman_corr

    rows = [(float(i), float(i) ** 3) for i in range(1, 200)]
    df = spark.createDataFrame(rows, "a double, b double")
    r = spearman_corr(df, "a", "b").collect()[0]
    assert r["rho_micro"] == 1_000_000  # perfect monotone: rho = 1 exactly


def test_spearman_ties_average_ranks(spark):
    from pd_explain_spark.functions.profiling import spearman_corr

    rows = [(1.0, 2.0), (1.0, 1.0), (2.0, 3.0), (3.0, 3.0), (3.0, 5.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    got = spearman_corr(df, "a", "b").collect()[0]

    def avg_ranks(vals):
        out = [0.0] * len(vals)
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            for k in range(i, j + 1):
                out[order[k]] = (i + j) / 2 + 1
            i = j + 1
        return out

    ra = [int(2 * r) for r in avg_ranks([a for a, _ in rows])]
    rb = [int(2 * r) for r in avg_ranks([b for _, b in rows])]
    n = len(rows)
    sx, sy = sum(ra), sum(rb)
    sxx = sum(v * v for v in ra)
    syy = sum(v * v for v in rb)
    sxy = sum(a * b for a, b in zip(ra, rb))
    rho = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert got["rho_micro"] == math.floor(rho * 1e6 + 0.5)


def test_spearman_constant_column_is_null(spark):
    from pd_explain_spark.functions.profiling import spearman_corr

    df = spark.createDataFrame([(1.0, float(i)) for i in range(5)], "a double, b double")
    assert spearman_corr(df, "a", "b").collect()[0]["rho_micro"] is None


# ---------------------------------------------------------------- trimmed stats


def test_trimmed_stats_matches_sorted_reference(spark):
    from pd_explain_spark.functions.sketches import trimmed_stats

    import random

    random.seed(11)
    vals = [round(random.gauss(50, 10), 3) for _ in range(1000)]
    vals += [10000.0, -10000.0, 50.0, 50.0, 50.0]  # outliers + boundary ties
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = trimmed_stats(df, "x", alpha=0.1).collect()[0]
    n = len(vals)
    k = int(math.floor(0.1 * n))
    s = sorted(vals)
    km = [math.floor(v * 1000 + 0.5) for v in s[k:n - k]]
    lom = math.floor(s[k] * 1000 + 0.5)
    him = math.floor(s[n - k - 1] * 1000 + 0.5)
    wm = [lom] * k + km + [him] * k
    w_var = (sum(v * v for v in wm) - sum(wm) ** 2 / n) / (n - 1) / 1e6
    assert r["n"] == n and r["k"] == k
    assert r["trimmed_mean_micro"] == math.floor(sum(km) / len(km) / 1000 * 1e6 + 0.5)
    assert r["winsorized_mean_micro"] == math.floor(sum(wm) / n / 1000 * 1e6 + 0.5)
    assert r["winsorized_std_micro"] == math.floor(math.sqrt(w_var) * 1e6 + 0.5)
    # the outliers moved the raw mean but not the trimmed one
    assert abs(r["trimmed_mean_micro"] / 1e6 - 50.0) < 1.5


def test_trimmed_stats_alpha_zero_is_plain_mean(spark):
    from pd_explain_spark.functions.sketches import trimmed_stats

    vals = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = trimmed_stats(df, "x", alpha=0.0).collect()[0]
    assert r["k"] == 0 and r["trimmed_mean_micro"] == 2_500_000
    assert r["winsorized_mean_micro"] == 2_500_000


def test_trimmed_stats_validates_alpha_and_empty(spark):
    from pd_explain_spark.functions.sketches import trimmed_stats

    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    # k = floor(alpha*n) < n/2 for every alpha < 0.5, so the only ways
    # to trim everything are an invalid alpha or an empty input
    with pytest.raises(ValueError, match="alpha"):
        trimmed_stats(df, "x", alpha=0.5)
    empty = spark.createDataFrame([(None,)], "x double")
    with pytest.raises(ValueError, match="no non-NULL"):
        trimmed_stats(empty, "x", alpha=0.1)


# ---------------------------------------------------------------- readability


def test_readability_matches_reference(spark):
    import re

    from pd_explain_spark.functions.text import readability_scores

    text = "The cat sat on the mat. It was happy!"
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    r = readability_scores(df).collect()[0]
    words = [w for w in re.split(r"\s+", text.lower()) if w]
    n_w, n_s = len(words), max(1, len(re.findall(r"[.!?]+", text)))
    syl = sum(max(1, len(re.findall(r"[aeiouy]+", w))) for w in words)
    wps, spw = n_w / n_s, syl / n_w
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (n_w, n_s, syl)
    assert r["flesch_micro"] == math.floor((206.835 - 1.015 * wps - 84.6 * spw) * 1e6 + 0.5)
    assert r["fk_grade_micro"] == math.floor((0.39 * wps + 11.8 * spw - 15.59) * 1e6 + 0.5)


def test_readability_null_and_ordering(spark):
    from pd_explain_spark.functions.text import readability_scores

    df = spark.createDataFrame(
        [(1, "Go now. Be good."), (2, None),
         (3, "Incomprehensibility notwithstanding, perspicacious individuals extemporize.")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in readability_scores(df).collect()}
    assert rows[2]["flesch_micro"] is None  # NULL text -> NULL scores
    # simple text reads far easier than the polysyllabic one
    assert rows[1]["flesch_micro"] > rows[3]["flesch_micro"] + 100_000_000


# ---------------------------------------------------------------- image dHash


def test_dhash_brightness_shift_invariance(spark):
    from pd_explain_spark.functions.multimodal import (
        _ahash_from_get,
        _dhash_from_get,
    )

    w, h = 24, 16

    def mk(offset):
        def get(x, y):
            v = min(255, (7 * x + 3 * y) % 200 + offset)
            return v, v, v

        return get

    # a uniform brightness shift below saturation leaves dHash intact
    assert _dhash_from_get(w, h, mk(0)) == _dhash_from_get(w, h, mk(30))


def test_dhash_format_crossing_collision_and_nulls(spark):
    from pd_explain_spark.functions.multimodal import image_dhash

    import struct

    def ppm(w, h):
        body = bytearray()
        for y in range(h):
            for x in range(w):
                v = (3 * x + 5 * y) % 256
                body += bytes([v, v, v])
        return b"P6\n%d %d\n255\n" % (w, h) + bytes(body)

    def bmp(w, h):
        stride = (w * 3 + 3) & ~3
        raster = bytearray()
        for y in range(h - 1, -1, -1):
            row = bytearray()
            for x in range(w):
                v = (3 * x + 5 * y) % 256
                row += bytes([v, v, v])
            row += b"\x00" * (stride - len(row))
            raster += row
        off = 54
        header = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        return header + bytes(raster)

    rows = [
        (0, "image", bytearray(ppm(32, 24))),
        (1, "image", bytearray(bmp(32, 24))),
        (2, "image", bytearray(b"P6\n9 9\n255\n")),  # truncated -> NULL
        (3, "audio", bytearray(b"RIFF....WAVE")),    # non-image -> NULL
    ]
    df = spark.createDataFrame(rows, "media_id bigint, kind string, payload binary")
    got = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert got[0] is not None and got[0] == got[1]  # PPM == BMP re-encode
    assert got[2] is None and got[3] is None


# ---------------------------------------------------------------- RFM


def test_rfm_segments_ordering_and_extremes(spark):
    import datetime

    from pd_explain_spark.functions.events import rfm_segments

    rows = []
    for u in range(10):
        for _ in range(u + 1):  # user u: u+1 events, value 10*(u+1)
            rows.append((u, datetime.datetime(2024, 1, 1 + u), float(10 * (u + 1))))
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    got = {r["user"]: r for r in rfm_segments(df).collect()}
    # user 9: most recent, most frequent, highest spend -> 555;
    # user 0 is worst on all three -> 111
    assert got[9]["rfm"] == 555 and got[0]["rfm"] == 111
    # scores are monotone in the underlying ordering
    assert all(got[u + 1]["f_score"] >= got[u]["f_score"] for u in range(9))
    assert got[5]["recency_hours"] == (9 - 5) * 24


def test_rfm_validates_bins(spark):
    from pd_explain_spark.functions.events import rfm_segments

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)], "user_id bigint, ts string, value double"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) ts", "value")
    with pytest.raises(ValueError, match="n_bins"):
        rfm_segments(df, n_bins=1)


# ---------------------------------------------------------------- bootstrap CI


def test_bootstrap_matches_hand_replication(spark):
    import hashlib
    import random

    from pd_explain_spark.functions.profiling import (
        _POISSON1_HEX,
        bootstrap_mean_ci,
    )

    random.seed(5)
    vals = [(i, round(random.gauss(100, 15), 3)) for i in range(400)]
    df = spark.createDataFrame(vals, "id bigint, x double")
    r = bootstrap_mean_ci(df, "x", "id", n_boot=50, seed=42).collect()[0]

    vm = {i: math.floor(v * 1000 + 0.5) for i, v in vals}
    means = []
    for g in range(25):
        h = {i: hashlib.md5(f"{i}:42:{g}".encode()).hexdigest() for i, _ in vals}
        for lane, b in ((0, 2 * g), (1, 2 * g + 1)):
            ws = wc = 0
            for i, _ in vals:
                hx = h[i][0:15] if lane == 0 else h[i][16:31]
                w = 8
                for k in range(7, -1, -1):
                    if hx < _POISSON1_HEX[k]:
                        w = k
                ws += w * vm[i]
                wc += w
            means.append((math.floor(ws / wc / 1000 * 1e6 + 0.5), b))
    means.sort()
    lo = means[max(1, math.ceil(0.025 * 50)) - 1][0]
    hi = means[max(1, math.ceil(0.975 * 50)) - 1][0]
    mean = math.floor(sum(vm.values()) / len(vals) / 1000 * 1e6 + 0.5)
    assert r["n"] == 400
    assert r["mean_micro"] == mean
    assert (r["lo_micro"], r["hi_micro"]) == (lo, hi)
    # and the band actually covers the true mean of the generator
    assert r["lo_micro"] < 100_000_000 < r["hi_micro"]


def test_bootstrap_validates_params(spark):
    from pd_explain_spark.functions.profiling import bootstrap_mean_ci

    df = spark.createDataFrame([(1, 1.0)], "id bigint, x double")
    with pytest.raises(ValueError, match="even"):
        bootstrap_mean_ci(df, "x", "id", n_boot=51)
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_mean_ci(df, "x", "id", n_boot=50, alpha=1.5)
