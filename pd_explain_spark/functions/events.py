"""Product-analytics operators over event streams: ordered funnels and
cohort retention.

The reference engine explains single query results; these are the two
standard MULTI-step questions an events table gets asked (did users
progress view -> click -> purchase? do cohorts come back?), expressed
as keyed joins and grouped aggregates so they hold at fleet-scale event
volumes. No reference counterpart — extends the events/time-series
family (rolling/resample/sessionize/windowed aggs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["event_funnel", "cohort_retention", "cooccurrence_pairs",
           "funnel_user_times", "funnel_latency", "ab_test_report",
           "kaplan_meier", "nelson_aalen", "chisq_homogeneity",
           "attribution_report", "log_rank_test", "cuped_report",
           "rfm_segments"]


def event_funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    scale: int = 1_000_000,
    within: str | None = None,
) -> DataFrame:
    """Ordered conversion funnel: a user completes step i when an event
    of type ``steps[i]`` happens STRICTLY AFTER their earliest
    completion of step i-1 (the first-touch convention: each stage
    anchors on the earliest qualifying timestamp, so the funnel is
    deterministic and order-respecting, not a mere per-type count).
    ``within`` (an interval literal, e.g. ``"1 hour"``) additionally
    requires each step to land no later than that long after the
    previous step's anchor — the conversion-window flavor product
    funnels usually run. Returns one row per step: (step_order, step,
    n_users, conversion_micro — users at step / users at step 0 in
    integer micro-units, NULL when step 0 is empty).

    Scale shape: stage i is one user-keyed min-aggregate over events
    pre-filtered to that step's type (filter pushes to the scan), then
    one user-keyed join against the previous stage's (user, ts) table
    — S-1 equi-joins total, each side bounded by the user count, never
    an all-events shuffle. The final count is one aggregate over the
    left-joined per-user stage table."""
    users = funnel_user_times(  # validates steps (>= 2, distinct)

        df, steps, user_col=user_col, type_col=type_col, ts_col=ts_col,
        within=within,
    ).select(*[F.col(f"t_{s}").alias(f"__t{i}") for i, s in enumerate(steps)])
    counts = users.agg(
        *[F.count(F.col(f"__t{i}")).cast("bigint").alias(f"n{i}")
          for i in range(len(steps))]
    )
    rows = F.array(*[
        F.struct(
            F.lit(i).cast("int").alias("step_order"),
            F.lit(s).alias("step"),
            F.col(f"n{i}").alias("n_users"),
        )
        for i, s in enumerate(steps)
    ])
    base = F.col("n0").cast("double")
    return (
        counts.select(F.explode(rows).alias("r"), base.alias("__b"))
        .select(
            F.col("r.step_order"),
            F.col("r.step"),
            F.col("r.n_users"),
            F.when(
                F.col("__b") > 0,
                F.floor(
                    F.col("r.n_users").cast("double") / F.col("__b")
                    * F.lit(float(scale)) + F.lit(0.5)
                ).cast("bigint"),
            ).alias("conversion_micro"),
        )
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    scale: int = 1_000_000,
    granularity: str = "day",
) -> DataFrame:
    """Day-cohort retention: cohort = the calendar day of a user's FIRST
    event; for every (cohort, day offset) pair with activity, the
    distinct returning users and the retention ratio vs the cohort's
    size (offset 0 — every user is active on their first day by
    construction). Returns (cohort_day 'yyyy-MM-dd', day_offset,
    n_users, retention_micro). ``granularity="week"`` buckets activity
    into ISO weeks instead: cohort_day becomes the Monday of the
    user's first week and day_offset counts WEEKS (same column names,
    period semantics).

    Scale shape: one user-keyed min-aggregate (the cohort table,
    bounded by user count), one distinct over (user, day) — the only
    event-volume shuffle, map-side combinable — then a user-keyed join
    against the cohort table and a (cohort, offset) count. The offsets
    spine grows with TIME, not event volume."""
    if granularity not in ("day", "week"):
        raise ValueError(
            f"cohort_retention: granularity must be 'day' or 'week', got {granularity!r}"
        )
    period = (
        F.to_date(F.col(ts_col))
        if granularity == "day"
        else F.to_date(F.date_trunc("week", F.col(ts_col)))
    )
    ev = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        period.alias("__d"),
    )
    cohort = ev.groupBy("__u").agg(F.min("__d").alias("__c"))
    active = ev.distinct()
    hits = (
        active.join(cohort, "__u")
        .groupBy(
            F.col("__c"),
            (
                F.datediff(F.col("__d"), F.col("__c"))
                / F.lit(7 if granularity == "week" else 1)
            ).cast("int").alias("day_offset"),
        )
        # after distinct(), (user, day) is unique and day determines the
        # offset within a cohort — a plain count equals count_distinct(u)
        # without the distinct-aggregate Expand pass
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    base = hits.filter(F.col("day_offset") == 0).select(
        F.col("__c").alias("__cb"), F.col("n_users").alias("__n0")
    )
    return (
        hits.join(base, F.col("__c") == F.col("__cb"))
        .select(
            F.date_format("__c", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "n_users",
            F.floor(
                F.col("n_users").cast("double") / F.col("__n0").cast("double")
                * F.lit(float(scale)) + F.lit(0.5)
            ).cast("bigint").alias("retention_micro"),
        )
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pairs: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Market-basket 2-itemset mining: for every item pair appearing
    together in >= ``min_pairs`` baskets, the co-occurrence count, the
    marginals, and the LIFT n_ab·N / (n_a·n_b) in integer micro-units
    (> 1e6 means the pair co-occurs more than independence predicts —
    the association-rule signal). Items dedupe within a basket first,
    so multiplicity never inflates support.

    Scale shape: one distinct (basket, item) shuffle, then a basket-
    keyed self-join whose output is Σ_b k_b(k_b-1)/2 — bounded by
    basket sizes, not corpus²; a hot mega-basket is the skew case, cap
    it upstream (key_skew_report finds it). Counts are map-combining
    aggregates; marginals broadcast back."""
    if min_pairs < 1:
        raise ValueError(f"cooccurrence_pairs: min_pairs must be >= 1, got {min_pairs}")
    bi = (
        df.filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .distinct()
    )
    n = bi.agg(F.count_distinct("__b").cast("bigint").alias("__nb"))
    ic = bi.groupBy("__i").agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    a = bi.select(F.col("__b"), F.col("__i").alias("item_a"))
    b = bi.select(F.col("__b"), F.col("__i").alias("item_b"))
    pc = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= F.lit(min_pairs))
    )
    lift = (
        F.col("n_ab").cast("double") * F.col("__nb").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        pc.join(ic.select(F.col("__i").alias("item_a"), F.col("__c").alias("n_a")),
                "item_a")
        .join(ic.select(F.col("__i").alias("item_b"), F.col("__c").alias("n_b")),
              "item_b")
        .crossJoin(n)
        .select(
            "item_a", "item_b", "n_ab", "n_a", "n_b",
            F.col("__nb").alias("n_baskets"),
            F.floor(lift * F.lit(float(scale)) + F.lit(0.5))
            .cast("bigint")
            .alias("lift_micro"),
        )
    )

_WITHIN_UNITS = (
    "microsecond", "millisecond", "second", "minute", "hour", "day", "week",
)
# year-month units are calendar intervals — valid Spark, but a DISTINCT
# interval type from day-time: mixing the two families in one literal
# fails to parse under ANSI intervals, so the validator rejects the mix
# with a readable error instead of letting Catalyst produce an opaque one
_WITHIN_YM_UNITS = ("month", "year")


def _validate_within(within, required: bool = False):
    """Normalize the conversion-window argument: ``None`` passes
    through, a ``datetime.timedelta`` converts to exact microseconds,
    and a string must be one or more ``'<int> <unit>'`` components
    (compound Spark interval syntax like ``'1 hour 30 minutes'`` is
    valid — the r10 single-component grammar was a breaking narrowing,
    ADVICE r10). Units: second/minute/hour/day/week and their ms/us
    siblings, optional plural; ``month``/``year`` are accepted as
    single-family calendar intervals but cannot be mixed with day-time
    units (distinct ANSI interval types). Anything else raises
    ValueError HERE with the offending value — raw interpolation into
    ``F.expr(f"INTERVAL {within}")`` would surface a malformed (or
    SQL-bearing) value as an opaque parse error deep in the plan
    (ADVICE r9 fix)."""
    import datetime
    import re

    if within is None:
        if required:
            raise ValueError("a time window argument is required, got None")
        return None
    if isinstance(within, datetime.timedelta):
        us = round(within.total_seconds() * 1_000_000)
        if us <= 0:
            raise ValueError(
                f"funnel: within must be a positive window, got {within!r}"
            )
        return f"{us} MICROSECOND"
    s = str(within)
    shape = re.fullmatch(r"\s*(?:\d+\s+[A-Za-z]+\s*)+", s)
    comps = re.findall(r"(\d+)\s+([A-Za-z]+)", s) if shape else []
    units = []
    for _, u in comps:
        units.append(u.lower()[:-1] if u.lower().endswith("s") else u.lower())
    if not comps or any(
        u not in _WITHIN_UNITS and u not in _WITHIN_YM_UNITS for u in units
    ):
        raise ValueError(
            "funnel: within must be a datetime.timedelta or one or more "
            f"'<int> <unit>' components with unit in "
            f"{_WITHIN_UNITS + _WITHIN_YM_UNITS}, got {within!r}"
        )
    if len(set(units)) != len(units):
        raise ValueError(
            f"funnel: within repeats a unit, got {within!r}"
        )
    if any(u in _WITHIN_YM_UNITS for u in units) and any(
        u in _WITHIN_UNITS for u in units
    ):
        raise ValueError(
            "funnel: within cannot mix year-month and day-time units in "
            f"one interval (distinct ANSI interval types), got {within!r}"
        )
    if all(int(n) == 0 for n, _ in comps):
        raise ValueError(
            f"funnel: within must be a positive window, got {within!r}"
        )
    return " ".join(
        f"{int(n)} {u.upper()}" for (n, _), u in zip(comps, units)
    )


def funnel_user_times(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: str | None = None,
) -> DataFrame:
    """The per-user stage table behind :func:`event_funnel`: one row per
    step-0 user with a ``t_<step>`` timestamp column per step (NULL
    once the user drops out) — the substrate for conversion-latency
    analysis and per-user funnel joins. Same first-touch / strictly-
    after / optional conversion-window semantics as event_funnel."""
    if len(steps) < 2:
        raise ValueError("funnel_user_times: need >= 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel_user_times: steps must be distinct, got {steps}")
    within = _validate_within(within)
    ev = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(user_col).alias("__u"), F.col(type_col).alias("__t"),
             F.col(ts_col).alias("__ts"))
    stage = (
        ev.filter(F.col("__t") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias(f"t_{steps[0]}"))
    )
    users = stage
    prev = f"t_{steps[0]}"
    for s in steps[1:]:
        cond = F.col("__ts") > F.col(prev)
        if within is not None:
            cond = cond & (F.col("__ts") <= F.col(prev) + F.expr(f"INTERVAL {within}"))
        nxt = (
            ev.filter(F.col("__t") == s)
            .join(stage.select("__u", prev), "__u")
            .filter(cond)
            .groupBy("__u")
            .agg(F.min("__ts").alias(f"t_{s}"))
        )
        users = users.join(nxt, "__u", "left")
        stage = nxt
        prev = f"t_{s}"
    return users.withColumnRenamed("__u", user_col)


def funnel_latency(
    df: DataFrame,
    steps: list[str],
    qs: list[float] = (0.5, 0.9),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: str | None = None,
    n_bins: int = 256,
) -> DataFrame:
    """Time-to-convert distribution: EXACT quantiles (the rank-ceil
    convention of sketches.exact_quantiles — no interpolation, no
    global sort) of first-step-to-last-step latency in MICROSECONDS
    over the users who complete the whole funnel. The number an SLA
    dashboard wants next to the conversion rate: not just how many
    convert, but how long the path takes. Latencies are exact integer
    microsecond diffs, engine-portable."""
    from .sketches import exact_quantiles

    times = funnel_user_times(
        df, steps, user_col=user_col, type_col=type_col, ts_col=ts_col,
        within=within,
    )
    first, last = f"t_{steps[0]}", f"t_{steps[-1]}"

    def us(c):  # parquet tables read as TIMESTAMP_NTZ; the session is
        # pinned UTC (session.py), so the NTZ -> TZ cast is the identity
        # instant mapping and unix_micros matches DuckDB's epoch_us
        return F.unix_micros(F.col(c).cast("timestamp"))

    lat = times.filter(F.col(last).isNotNull()).select(
        (us(last) - us(first)).cast("bigint").alias("latency_us")
    )
    return exact_quantiles(lat, "latency_us", list(qs), n_bins=n_bins).select(
        "q", F.col("value").alias("latency_us")
    )

def ab_test_report(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    z_thresh: float = 1.96,
) -> DataFrame:
    """Two-proportion z-test between exactly two variants: one row with
    per-variant unit counts and conversion rates (integer micro-units),
    the pooled-variance z statistic (micro), and the two-sided
    significance verdict at ``z_thresh`` (default 1.96 = 95%). Input is
    one row per experimental UNIT (user/session) with its variant label
    and a boolean/0-1 success column — aggregate events to units first
    (funnel_user_times, groupBy user) so repeated events never inflate
    n. NULL variants/successes are excluded; raises if the data does
    not contain exactly two variants. NOTE: this is a fit-style
    operator — it runs the per-variant count job EAGERLY at call time
    (the classifier-fit / kmeans_fit precedent), returning a bounded
    one-row literal frame.

    Determinism: counts are exact integers; the rate/z arithmetic is
    one identical-order IEEE expression over them, micro-rounded — no
    float aggregation anywhere. One map-combining groupBy; everything
    after is two rows."""
    units = df.filter(
        F.col(variant_col).isNotNull() & F.col(success_col).isNotNull()
    ).select(
        F.col(variant_col).alias("__v"),
        F.col(success_col).cast("int").alias("__s"),
    )
    per = (
        units.groupBy("__v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__s").cast("bigint").alias("__k"),
        )
        .orderBy("__v")
        .limit(3)  # boundedness: 2 expected + 1 to detect surplus
        .collect()
    )
    if len(per) != 2:
        got = "3 or more" if len(per) >= 3 else str(len(per))
        raise ValueError(f"ab_test_report: need exactly 2 variants, got {got}")
    (va, na, ka), (vb, nb, kb) = [(r["__v"], r["__n"], r["__k"]) for r in per]
    spark = df.sparkSession
    base = spark.createDataFrame(
        [(str(va), int(na), int(ka), str(vb), int(nb), int(kb))],
        "variant_a STRING, n_a BIGINT, successes_a BIGINT,"
        " variant_b STRING, n_b BIGINT, successes_b BIGINT",
    ).limit(1)
    nad, nbd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    kad, kbd = F.col("successes_a").cast("double"), F.col("successes_b").cast("double")
    pa, pb = kad / nad, kbd / nbd
    pp = (kad + kbd) / (nad + nbd)
    se = F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / nad + F.lit(1.0) / nbd))
    z = (pa - pb) / se
    micro = F.lit(1_000_000.0)
    return base.select(
        "variant_a", "n_a", "successes_a", "variant_b", "n_b", "successes_b",
        F.floor(pa * micro + F.lit(0.5)).cast("bigint").alias("rate_a_micro"),
        F.floor(pb * micro + F.lit(0.5)).cast("bigint").alias("rate_b_micro"),
        F.when(se > 0, F.floor(z * micro + F.lit(0.5)).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint")).alias("z_micro"),
        F.when(se > 0, F.abs(z) > F.lit(float(z_thresh)))
        .otherwise(F.lit(False)).alias("significant"),
    )

def _at_risk_table(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    max_durations: int,
    fn_name: str,
) -> DataFrame:
    """Shared substrate of the survival estimators: the compressed
    per-duration (__t, __d events, __c total, __n at-risk) table. One
    map-combining count; the at-risk column is a reverse cumulative sum
    over ordered distinct durations. The cardinality bound is ENFORCED,
    not assumed: a scalar count broadcasts into every row and raises
    when distinct durations exceed ``max_durations`` (a silent limit
    would drop an arbitrary duration subset and corrupt the reverse
    cumsum — ADVICE r9); the identity limit AFTER the guard declares the
    now-provable bound in the plan for the single-partition windows."""
    from pyspark.sql import Window

    subj = df.filter(
        F.col(duration_col).isNotNull() & F.col(event_col).isNotNull()
    ).select(
        F.col(duration_col).cast("bigint").alias("__t"),
        F.col(event_col).cast("int").alias("__e"),
    )
    per = subj.groupBy("__t").agg(
        F.sum("__e").cast("bigint").alias("__d"),
        F.count(F.lit(1)).cast("bigint").alias("__c"),
    )
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("__tot"))
    per = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "__t",
            "__d",
            F.when(F.col("__tot") <= F.lit(int(max_durations)), F.col("__c"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"{fn_name}: distinct durations exceed "
                            f"max_durations={int(max_durations)} — pre-bucket "
                            "the duration column (floor-divide to hours/days) "
                            "or raise max_durations"
                        )
                    )
                ).cast("bigint")
            )
            .alias("__c"),
        )
        .limit(int(max_durations))
    )
    w_rev = Window.orderBy(F.col("__t").desc())
    return per.withColumn("__n", F.sum("__c").over(w_rev))


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    scale: int = 1_000_000,
    max_durations: int = 100_000,
) -> DataFrame:
    """Kaplan-Meier survival estimator over right-censored durations
    (one row per subject: integer duration + event flag, 1 = the event
    was observed, 0 = censored): for every duration with >= 1 observed
    event, the at-risk count, the event count, and the survival
    probability S(t) = Π (1 - d_i/n_i) in integer micro-units — the
    time-to-churn curve that respects still-active (censored) users,
    which a naive churned-fraction-by-day plot gets wrong.

    Determinism: the compressed per-duration (events, total) table is
    exact integers; the at-risk counts come from a reverse cumulative
    sum over ORDERED distinct durations; each survival factor's log
    nano-rounds to an INTEGER before the ordered cumulative sum (the
    categorical_dependence fixed-point contract), so the product chain
    is an exact integer scan with one exp at the end. A duration where
    every remaining subject churns (d = n) sends S to exactly 0 from
    that point on. NULL durations/events are excluded.

    Scale shape: one map-combining (duration) count — everything after
    runs over the compressed table, bounded by distinct durations,
    never subject volume; the windows are per-duration cumsums, never
    a sort of the subjects. Durations MUST be pre-bucketed time units
    (hours/days) with cardinality under ``max_durations`` — a
    finer-than-bucketed duration column should be floor-divided first.
    Unlike the drift-histogram identity-limit idiom, that bound is NOT
    guaranteed by construction here, so it is ENFORCED in the plan: a
    window count over the compressed table raises at execution time
    when the cardinality exceeds ``max_durations`` (ADVICE r9 fix — a
    silent ``limit`` would drop an arbitrary duration subset and
    corrupt the reverse-cumsum at-risk counts with no error)."""
    from pyspark.sql import Window

    at_risk = _at_risk_table(df, duration_col, event_col, max_durations,
                             "kaplan_meier")
    nano = F.lit(1_000_000_000.0)
    term = F.when(
        (F.col("__d") > 0) & (F.col("__d") < F.col("__n")),
        F.floor(
            F.log(
                F.lit(1.0)
                - F.col("__d").cast("double") / F.col("__n").cast("double")
            ) * nano + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    dead = F.when(F.col("__d") == F.col("__n"), 1).otherwise(0)
    w_fwd = Window.orderBy("__t")
    curve = (
        at_risk.withColumn("__lt", term)
        .withColumn("__cum", F.sum("__lt").over(w_fwd))
        .withColumn("__dead", F.max(dead).over(w_fwd))
    )
    surv = F.when(F.col("__dead") == 1, F.lit(0).cast("bigint")).otherwise(
        F.floor(
            F.exp(F.col("__cum").cast("double") / nano) * F.lit(float(scale))
            + F.lit(0.5)
        ).cast("bigint")
    )
    return (
        curve.filter(F.col("__d") > 0)
        .select(
            F.col("__t").alias("duration"),
            F.col("__n").alias("n_at_risk"),
            F.col("__d").alias("n_events"),
            surv.alias("survival_micro"),
        )
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    scale: int = 1_000_000,
    max_durations: int = 100_000,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard estimator over right-censored
    durations — the additive sibling of :func:`kaplan_meier`:
    H(t) = Σ_{t_i <= t} d_i / n_i. Where the KM curve answers "what
    fraction survives to t", the cumulative hazard reads as the expected
    number of events a subject would have accrued by t if events were
    repeatable, and its SLOPE is the raw hazard rate — flat stretches
    mean a quiet period, steep ones a churn shock; it is also the
    standard input to proportional-hazards eyeballing (parallel
    log-hazard curves across segments ⇒ proportionality).

    Determinism: each per-duration hazard increment d/n nano-rounds to
    an INTEGER before the ordered cumulative sum (the kaplan_meier log
    contract), so the curve is an exact integer scan; output is
    ``cum_hazard_micro`` = the nano cumsum re-rounded to micro in one
    identical-rule step. NULL durations/events are excluded.

    Scale shape: identical to kaplan_meier — one map-combining count to
    the per-duration table (cardinality ENFORCED <= ``max_durations``,
    fail-loud), then bounded single-partition window scans."""
    from pyspark.sql import Window

    at_risk = _at_risk_table(df, duration_col, event_col, max_durations,
                             "nelson_aalen")
    nano = F.lit(1_000_000_000.0)
    inc = F.when(
        F.col("__d") > 0,
        F.floor(
            F.col("__d").cast("double") / F.col("__n").cast("double") * nano
            + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    w_fwd = Window.orderBy("__t")
    curve = at_risk.withColumn("__inc", inc).withColumn(
        "__cum", F.sum("__inc").over(w_fwd)
    )
    return curve.filter(F.col("__d") > 0).select(
        F.col("__t").alias("duration"),
        F.col("__n").alias("n_at_risk"),
        F.col("__d").alias("n_events"),
        F.floor(
            F.col("__cum").cast("double") / nano * F.lit(float(scale)) + F.lit(0.5)
        ).cast("bigint").alias("cum_hazard_micro"),
    )


def chisq_homogeneity(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Chi-squared homogeneity test across ANY number of variants — the
    k-way generalization of :func:`ab_test_report`'s two-proportion
    z-test (for exactly two variants, chi2 == z² on the same pooled
    table). Input is one row per experimental UNIT with its variant
    label and a boolean/0-1 success column; NULLs are excluded. Returns
    ONE row: n_variants, n_total, successes_total, dof (= variants - 1),
    and chi2_micro = Σ over the 2 x k table of (o - e)² / e in integer
    micro-units. Compare against the chi-squared critical value for the
    dof (3.841 at dof=1/95%, 5.991 at dof=2, ...) — the statistic is
    exact; no CDF approximation is baked in.

    Determinism: per-variant cell terms are one identical-order IEEE
    expression over exact integer counts, nano-rounded to an INTEGER
    before the order-free sum (the categorical_dependence contract).
    Scale shape: one map-combining groupBy to the per-variant table;
    everything after is bounded by variant cardinality."""
    units = df.filter(
        F.col(variant_col).isNotNull() & F.col(success_col).isNotNull()
    ).select(
        F.col(variant_col).alias("__v"),
        F.col(success_col).cast("int").alias("__s"),
    )
    per = units.groupBy("__v").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__s").cast("bigint").alias("__k"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        F.sum("__n").cast("bigint").alias("n_total"),
        F.sum("__k").cast("bigint").alias("successes_total"),
    )
    j = per.crossJoin(F.broadcast(tot))
    nano = F.lit(1_000_000_000.0)
    nd = F.col("__n").cast("double")
    kd = F.col("__k").cast("double")
    Nd = F.col("n_total").cast("double")
    Kd = F.col("successes_total").cast("double")
    es = nd * Kd / Nd            # expected successes for this variant
    ef = nd * (Nd - Kd) / Nd     # expected failures
    term = (
        F.when(es > 0, (kd - es) * (kd - es) / es).otherwise(F.lit(0.0))
        + F.when(ef > 0, ((nd - kd) - ef) * ((nd - kd) - ef) / ef).otherwise(
            F.lit(0.0)
        )
    )
    summed = j.groupBy("n_variants", "n_total", "successes_total").agg(
        F.sum(F.floor(term * nano + F.lit(0.5)).cast("bigint")).alias("__chi_nano")
    )
    return summed.select(
        "n_variants",
        "n_total",
        "successes_total",
        (F.col("n_variants") - F.lit(1)).cast("bigint").alias("dof"),
        F.floor(
            F.col("__chi_nano").cast("double") / F.lit(1_000_000_000.0)
            * F.lit(float(scale))
            + F.lit(0.5)
        ).cast("bigint").alias("chi2_micro"),
    )


_US_PER_UNIT = {
    "MICROSECOND": 1,
    "MILLISECOND": 1_000,
    "SECOND": 1_000_000,
    "MINUTE": 60_000_000,
    "HOUR": 3_600_000_000,
    "DAY": 86_400_000_000,
    "WEEK": 604_800_000_000,
}


def _within_micros(within: str | None) -> int | None:
    """Exact microsecond width of a VALIDATED day-time window string
    ("2 DAY 4 HOUR" -> micros), or None for calendar (year-month)
    windows, whose width is not a fixed duration — callers needing a
    numeric range frame fall back to INTERVAL arithmetic for those."""
    if within is None:
        return None
    total = 0
    parts = within.split()
    for i in range(0, len(parts), 2):
        unit = parts[i + 1]
        if unit not in _US_PER_UNIT:
            return None  # MONTH/YEAR: calendar interval, no fixed width
        total += int(parts[i]) * _US_PER_UNIT[unit]
    return total


def attribution_report(
    df: DataFrame,
    conversion: str,
    touch_types: list[str],
    model: str = "last",
    within: str | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str | None = "value",
) -> DataFrame:
    """Multi-touch attribution: credit each ``conversion`` event to the
    ``touch_types`` events that preceded it for the same user (strictly
    before, optionally within a conversion window). ``model``:

    * ``"last"`` — the touch nearest before the conversion gets credit 1
      (the default ad-analytics convention);
    * ``"first"`` — the earliest qualifying touch gets credit 1;
    * ``"linear"`` — every qualifying touch splits the credit equally.

    Conversions with NO qualifying touch are reported under the
    ``(direct)`` channel, so the credit column always totals the
    conversion count. Returns one row per channel: (channel,
    credit_micro, n_conversions — conversions the channel appears in,
    attributed_value_micro — credit-weighted ``value_col`` sum, omitted
    when ``value_col`` is None).

    Determinism: per-conversion credits are exact rationals nano-rounded
    to INTEGER before the order-free channel sum (1/n_touches for
    linear; exactly 1e9 otherwise), ties inside a conversion break on
    (ts, event id). Scale shape (r11): NO conversion x touch join — one
    shuffle on the user key, then per-user RANGE-frame window aggregates
    (cumulative, or sliding over the exact microsecond window) carry a
    per-channel touch count and the last/first touch struct to every
    conversion row, so the plan is O(events) regardless of per-user
    touch density (the join flavor grew touches x conversions per user
    — the one super-linear row in the r10 10x scale matrix). Calendar
    windows (``within`` in months/years) have no fixed microsecond
    width, so they keep the join flavor with exact INTERVAL arithmetic.
    """
    if model not in ("first", "last", "linear"):
        raise ValueError(f"attribution_report: model must be first|last|linear, got {model!r}")
    if not touch_types:
        raise ValueError("attribution_report: touch_types must be non-empty")
    if len(set(touch_types)) != len(touch_types):
        raise ValueError(f"attribution_report: touch_types repeat, got {touch_types}")
    if conversion in touch_types:
        raise ValueError(
            "attribution_report: the conversion type cannot also be a touch "
            f"type ({conversion!r}) — a purchase attributing to an earlier "
            "purchase is double counting, not attribution"
        )
    within = _validate_within(within)
    w_us = _within_micros(within)
    if within is not None and w_us is None:
        return _attribution_join(
            df, conversion, touch_types, model, within,
            user_col, type_col, ts_col, id_col, value_col,
        )
    return _attribution_windowed(
        df, conversion, touch_types, model, w_us,
        user_col, type_col, ts_col, id_col, value_col,
    )


def _attribution_windowed(
    df: DataFrame,
    conversion: str,
    touch_types: list[str],
    model: str,
    w_us: int | None,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    value_col: str | None,
) -> DataFrame:
    """Join-free attribution: one type-pruned scan, one shuffle on the
    user key, per-user range-frame window aggregates. The frame
    [ts - within, ts - 1 microsecond] (or unbounded-preceding, -1) is
    STRICTLY before the conversion at Spark's native microsecond
    timestamp resolution — the same predicate the join flavor wrote as
    ``__tts < __cts``."""
    from pyspark.sql import Window

    nano = 1_000_000_000
    base = df.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(type_col).isin(list(touch_types) + [conversion])
    )
    is_conv = F.col(type_col) == conversion
    sel = base.select(
        F.col(user_col).alias("__u"),
        # TIMESTAMP_NTZ (parquet micros) needs the cast; session TZ is
        # UTC so NTZ -> TIMESTAMP is the identity on the micros value
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__ts_us"),
        is_conv.alias("__is_conv"),
        F.when(~is_conv, F.col(type_col)).alias("__ch"),
        F.col(id_col).alias("__eid"),
        *(
            [
                F.when(
                    is_conv,
                    F.coalesce(F.col(value_col).cast("double"), F.lit(0.0)),
                ).otherwise(F.lit(0.0)).alias("__val")
            ]
            if value_col is not None
            else [F.lit(0.0).alias("__val")]
        ),
    )
    lo = Window.unboundedPreceding if w_us is None else -int(w_us)
    w = Window.partitionBy("__u").orderBy("__ts_us").rangeBetween(lo, -1)
    if model == "linear":
        # one WindowExec pass: k conditional counts + the total share
        # the same (partition, order, frame) spec
        cnt_cols = [
            F.count(F.when(F.col("__ch") == F.lit(c), F.lit(1)))
            .over(w)
            .alias(f"__cnt_{i}")
            for i, c in enumerate(touch_types)
        ]
        n_col = F.count("__ch").over(w).alias("__n")
        conv = (
            sel.select("*", n_col, *cnt_cols)
            .filter(F.col("__is_conv"))
            .drop("__is_conv", "__ch", "__ts_us", "__u")
        )
        # per-conversion per-touch credit: IDENTICAL expression to the
        # join flavor (float(1e9)/n then floor(x + 0.5))
        credit = F.floor(
            F.lit(float(nano)) / F.col("__n") + F.lit(0.5)
        ).cast("bigint")
        val_term = F.floor(
            credit.cast("double") / F.lit(float(nano))
            * F.col("__val")
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("bigint")
        # "(direct)" folds into the SAME explode (cnt=1 sentinel when
        # n=0) so the window subtree is computed once — a union of two
        # filters over it would run the user-shuffle + WindowExec twice
        per_channel = F.when(
            F.col("__n") > 0,
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("ch"),
                        F.col(f"__cnt_{i}").cast("bigint").alias("cnt"),
                    )
                    for i, c in enumerate(touch_types)
                ]
            ),
        ).otherwise(
            F.array(
                F.struct(
                    F.lit("(direct)").alias("ch"),
                    F.lit(1).cast("bigint").alias("cnt"),
                )
            )
        )
        is_direct = F.col("__p.ch") == F.lit("(direct)")
        credited = (
            conv.select(
                "__eid", "__val", "__n",
                F.explode(per_channel).alias("__p"),
            )
            .filter(F.col("__p.cnt") > 0)
            .select(
                F.col("__eid").alias("__cid"),
                F.col("__p.ch").alias("__chn"),
                F.when(is_direct, F.lit(nano).cast("bigint"))
                .otherwise(F.col("__p.cnt") * credit)
                .alias("__credit_sum"),
                F.when(
                    is_direct,
                    F.floor(F.col("__val") * F.lit(1_000_000.0) + F.lit(0.5))
                    .cast("bigint"),
                )
                .otherwise(F.col("__p.cnt") * val_term)
                .alias("__val_sum"),
            )
        )
    else:
        # last/first collapse to ONE struct aggregate: max(struct(ts,
        # id, channel)) picks latest-ts-then-highest-id (the join
        # flavor's desc/desc tie-break); min picks the asc/asc one
        pick = F.max if model == "last" else F.min
        chosen = pick(
            F.when(
                F.col("__ch").isNotNull(),
                F.struct(
                    F.col("__ts_us").alias("t"),
                    F.col("__eid").alias("i"),
                    F.col("__ch").alias("c"),
                ),
            )
        ).over(w)
        credited = (
            sel.select("*", chosen.alias("__pick"))
            .filter(F.col("__is_conv"))
            .select(
                F.col("__eid").alias("__cid"),
                F.coalesce(F.col("__pick.c"), F.lit("(direct)")).alias("__chn"),
                F.lit(nano).cast("bigint").alias("__credit_sum"),
                F.floor(
                    F.lit(1.0) * F.col("__val") * F.lit(1_000_000.0) + F.lit(0.5)
                ).cast("bigint").alias("__val_sum"),
            )
        )
    out = credited.groupBy(F.col("__chn").alias("channel")).agg(
        F.floor(
            F.sum("__credit_sum").cast("double") / F.lit(float(nano))
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("bigint").alias("credit_micro"),
        F.count_distinct("__cid").cast("bigint").alias("n_conversions"),
        F.sum("__val_sum").cast("bigint").alias("attributed_value_micro"),
    )
    if value_col is None:
        out = out.drop("attributed_value_micro")
    return out


def _attribution_join(
    df: DataFrame,
    conversion: str,
    touch_types: list[str],
    model: str,
    within: str,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    value_col: str | None,
) -> DataFrame:
    """Join-flavor attribution, kept ONLY for calendar windows (months/
    years), whose width is not a fixed duration: the before/within
    predicate needs exact INTERVAL arithmetic in the join condition.
    Work grows with touches x conversions per user inside the window —
    acceptable for calendar-window use, but the fixed-duration default
    path is the windowed one above."""
    from pyspark.sql import Window

    base = df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    conv = base.filter(F.col(type_col) == conversion).select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("__cid"),
        F.col(ts_col).alias("__cts"),
        *(
            [F.coalesce(F.col(value_col).cast("double"), F.lit(0.0)).alias("__val")]
            if value_col is not None
            else [F.lit(0.0).alias("__val")]
        ),
    )
    touch = base.filter(F.col(type_col).isin(list(touch_types))).select(
        F.col(user_col).alias("__tu"),
        F.col(type_col).alias("__ch"),
        F.col(id_col).alias("__tid"),
        F.col(ts_col).alias("__tts"),
    )
    # the before/within predicate lives IN the join condition: a left
    # join keeps conversions whose touches all fall outside the window
    # as unmatched (NULL channel) rows, which credit to "(direct)" —
    # a post-join filter would drop those conversions entirely
    cond = (
        (F.col("__tu") == F.col("__u"))
        & (F.col("__tts") < F.col("__cts"))
        & (F.col("__tts") >= F.col("__cts") - F.expr(f"INTERVAL {within}"))
    )
    joined = conv.join(touch, cond, "left").drop("__tu")
    nano = 1_000_000_000
    if model == "linear":
        w_n = Window.partitionBy("__cid")
        credited = joined.withColumn(
            "__credit",
            F.when(
                F.col("__ch").isNotNull(),
                F.floor(
                    F.lit(float(nano)) / F.count("__tid").over(w_n) + F.lit(0.5)
                ).cast("bigint"),
            ).otherwise(F.lit(nano).cast("bigint")),
        )
    else:
        order = (
            [F.col("__tts").desc(), F.col("__tid").desc()]
            if model == "last"
            else [F.col("__tts").asc(), F.col("__tid").asc()]
        )
        w_r = Window.partitionBy("__cid").orderBy(*order)
        credited = (
            joined.withColumn("__rn", F.row_number().over(w_r))
            .filter(F.col("__rn") == 1)
            .withColumn("__credit", F.lit(nano).cast("bigint"))
        )
    out = (
        credited.withColumn("__chn", F.coalesce(F.col("__ch"), F.lit("(direct)")))
        .groupBy(F.col("__chn").alias("channel"))
        .agg(
            F.floor(
                F.sum("__credit").cast("double") / F.lit(float(nano))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("bigint").alias("credit_micro"),
            F.count_distinct("__cid").cast("bigint").alias("n_conversions"),
            # per-row micro-rounding BEFORE the sum keeps the value
            # aggregate an order-free integer sum (float-sum order over
            # many conversions is engine-dependent otherwise)
            F.sum(
                F.floor(
                    F.col("__credit").cast("double") / F.lit(float(nano))
                    * F.col("__val")
                    * F.lit(1_000_000.0)
                    + F.lit(0.5)
                ).cast("bigint")
            ).cast("bigint").alias("attributed_value_micro"),
        )
    )
    if value_col is None:
        out = out.drop("attributed_value_micro")
    return out


def log_rank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    scale: int = 1_000_000,
    max_durations: int = 100_000,
) -> DataFrame:
    """Two-group log-rank test over right-censored durations (Mantel
    1966) — the hypothesis test that pairs with :func:`kaplan_meier` /
    :func:`nelson_aalen`: "do these two survival curves differ?" with
    full credit to censoring, which a naive churn-rate comparison gets
    wrong. Group "a" is the MINIMUM ``group_col`` value (deterministic
    orientation); exactly two non-NULL groups are required (fail-loud —
    a silent k-group reduction would misreport the statistic). One row:
    (n_a, n_b, o_a — observed events in a, e_a_micro — expected under
    H0, chi2_micro, z_micro — signed (O-E)/sqrt(V)).

    Determinism: the per-duration (d, n, d1, n1) table is exact
    integers (reverse cumulative sums over ordered distinct durations);
    each duration's expectation d*n1/n and hypergeometric variance
    d*(n1/n)*(1-n1/n)*(n-d)/(n-1) nano-round to INTEGERS before the
    order-free sums, then chi-squared and z derive in one
    identical-rule rounding site each.

    Scale shape: one map-combining (duration, group-conditional) count,
    cardinality ENFORCED <= ``max_durations`` (the _at_risk_table
    guard), two single-partition windows over the provably bounded
    spine. Pre-bucket high-resolution durations exactly as for
    kaplan_meier."""
    from pyspark.sql import Window

    subj = df.filter(
        F.col(duration_col).isNotNull()
        & F.col(event_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(duration_col).cast("bigint").alias("__t"),
        F.col(event_col).cast("int").alias("__e"),
        F.col(group_col).cast("string").alias("__g"),
    )
    meta = subj.agg(
        F.count_distinct("__g").cast("bigint").alias("__ng"),
        F.min("__g").alias("__ga"),
    )
    per = (
        subj.crossJoin(F.broadcast(meta))
        .select(
            "__t",
            "__e",
            (F.col("__g") == F.when(
                F.col("__ng") == 2, F.col("__ga")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("log_rank_test: need exactly 2 groups, got "),
                        F.col("__ng").cast("string"),
                    )
                )
            )).cast("int").alias("__ia"),
        )
        .groupBy("__t")
        .agg(
            F.sum("__e").cast("bigint").alias("__d"),
            F.count(F.lit(1)).cast("bigint").alias("__c"),
            F.sum(F.col("__e") * F.col("__ia")).cast("bigint").alias("__d1"),
            F.sum("__ia").cast("bigint").alias("__c1"),
        )
    )
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("__tot"))
    per = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "__t",
            F.when(F.col("__tot") <= F.lit(int(max_durations)), F.col("__d"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "log_rank_test: distinct durations exceed "
                        f"max_durations={int(max_durations)} — pre-bucket the "
                        "duration column or raise max_durations"
                    )
                ).cast("bigint")
            )
            .alias("__d"),
            "__c", "__d1", "__c1",
        )
        .limit(int(max_durations))
    )
    w_rev = Window.orderBy(F.col("__t").desc())
    risk = per.select(
        "__d", "__d1",
        F.sum("__c").over(w_rev).alias("__n"),
        F.sum("__c1").over(w_rev).alias("__n1"),
    ).filter(F.col("__d") > 0)
    nano = 1_000_000_000
    d = F.col("__d").cast("double")
    n = F.col("__n").cast("double")
    n1 = F.col("__n1").cast("double")
    e_t = d * n1 / n
    v_t = F.when(
        F.col("__n") > 1,
        d * (n1 / n) * (F.lit(1.0) - n1 / n) * (n - d) / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    # no event at all leaves ``risk`` empty: O, E and V are then sums
    # over no duration, 0 — not NULL (chi2/z stay NULL: V = 0)
    summed = risk.agg(
        F.coalesce(F.sum("__d1"), F.lit(0)).cast("bigint").alias("o_a"),
        F.coalesce(
            F.sum(F.floor(e_t * F.lit(float(nano)) + F.lit(0.5)).cast("bigint")), F.lit(0)
        ).cast("bigint").alias("__e_nano"),
        F.coalesce(
            F.sum(F.floor(v_t * F.lit(float(nano)) + F.lit(0.5)).cast("bigint")), F.lit(0)
        ).cast("bigint").alias("__v_nano"),
    )
    counts = subj.crossJoin(F.broadcast(meta)).agg(
        F.sum((F.col("__g") == F.col("__ga")).cast("bigint"))
        .cast("bigint").alias("n_a"),
        F.sum((F.col("__g") != F.col("__ga")).cast("bigint"))
        .cast("bigint").alias("n_b"),
    )
    o = F.col("o_a").cast("double")
    e = F.col("__e_nano").cast("double") / F.lit(float(nano))
    v = F.col("__v_nano").cast("double") / F.lit(float(nano))
    return (
        summed.crossJoin(F.broadcast(counts))
        .select(
            "n_a",
            "n_b",
            "o_a",
            F.floor(e * F.lit(float(scale)) + F.lit(0.5))
            .cast("bigint").alias("e_a_micro"),
            F.when(
                v > 0,
                F.floor((o - e) * (o - e) / v * F.lit(float(scale)) + F.lit(0.5))
                .cast("bigint"),
            ).alias("chi2_micro"),
            F.when(
                v > 0,
                F.floor((o - e) / F.sqrt(v) * F.lit(float(scale)) + F.lit(0.5))
                .cast("bigint"),
            ).alias("z_micro"),
        )
    )


def cuped_report(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    group_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """CUPED variance-reduced A/B comparison (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments"): the
    experiment metric is adjusted by a pre-experiment covariate,
    y_adj = y - theta * (x - mean(x)) with theta = cov(x, y) / var(x)
    pooled over BOTH arms (theta from pooled data keeps the estimator
    unbiased under randomization), then the two arms' adjusted means are
    z-tested. The standard production trick that cuts required sample
    sizes by the covariate's R² — a pre-period version of the metric
    routinely halves experiment runtimes. Group "a" is the MINIMUM
    ``group_col`` value; exactly two groups required (fail-loud). One
    row: (n_a, n_b, theta_micro, mean_adj_a_micro, mean_adj_b_micro,
    diff_micro, z_micro, var_reduction_micro — 1 - var(adj)/var(y)
    pooled, the realized sensitivity gain).

    Determinism: inputs quantize per row to MILLI integers once; all
    moment sums accumulate as DECIMAL(38,0) (order-free exact); theta,
    the mean shift, and each row's adjusted value derive from those
    exact sums in identical-rule expressions, and the adjusted value
    micro-rounds per row BEFORE the order-free arm sums. Scale shape:
    two scan passes (pooled moments, then the theta-adjusted arm
    aggregate with the scalars broadcast in), both map-combining; no
    shuffle beyond the two scalar aggregates."""
    base = df.filter(
        F.col(metric_col).isNotNull()
        & F.col(covariate_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.floor(F.col(metric_col).cast("double") * F.lit(1000.0) + F.lit(0.5))
        .cast("bigint").alias("__ym"),
        F.floor(F.col(covariate_col).cast("double") * F.lit(1000.0) + F.lit(0.5))
        .cast("bigint").alias("__xm"),
        F.col(group_col).cast("string").alias("__g"),
    )
    dec = "decimal(38,0)"
    meta = base.agg(
        F.count_distinct("__g").cast("bigint").alias("__ng"),
        F.min("__g").alias("__ga"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.col("__xm").cast(dec)).alias("__sx"),
        F.sum(F.col("__ym").cast(dec)).alias("__sy"),
        # cast-THEN-multiply: a bigint product overflows int64 long
        # before the decimal sum would (sf0.1 lesson: adjusted-micro
        # squares hit ~1e20); decimal multiplication carries 38 digits
        F.sum(F.col("__xm").cast(dec) * F.col("__xm").cast(dec)).alias("__sxx"),
        F.sum(F.col("__xm").cast(dec) * F.col("__ym").cast(dec)).alias("__sxy"),
        F.sum(F.col("__ym").cast(dec) * F.col("__ym").cast(dec)).alias("__syy"),
    )
    nn = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    syy = F.col("__syy").cast("double")
    var_x_num = nn * sxx - sx * sx  # milli² units, exact-sourced
    theta = F.when(
        var_x_num > 0, (nn * sxy - sx * sy) / var_x_num
    ).otherwise(F.lit(0.0))
    scalars = meta.select(
        F.when(F.col("__ng") == 2, F.col("__ga")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("cuped_report: need exactly 2 groups, got "),
                    F.col("__ng").cast("string"),
                )
            )
        ).alias("__ga"),
        theta.alias("__theta"),
        (sx / nn / F.lit(1000.0)).alias("__xbar"),
        ((syy - sy * sy / nn) / F.lit(1_000_000.0)).alias("__ssy_raw"),
        F.col("__n").alias("__ntot"),
    )
    # per-row adjustment from the exact milli values; micro-round BEFORE
    # the order-free arm sums (float-sum order is engine-dependent)
    y = F.col("__ym").cast("double") / F.lit(1000.0)
    x = F.col("__xm").cast("double") / F.lit(1000.0)
    adj_micro = F.floor(
        (y - F.col("__theta") * (x - F.col("__xbar"))) * F.lit(float(scale))
        + F.lit(0.5)
    ).cast("bigint")
    arm = (
        base.crossJoin(F.broadcast(scalars))
        .select(
            (F.col("__g") == F.col("__ga")).alias("__isa"),
            adj_micro.alias("__a"),
            "__theta", "__ssy_raw", "__ntot",
        )
        .groupBy("__theta", "__ssy_raw", "__ntot")
        .agg(
            F.sum(F.when(F.col("__isa"), 1).otherwise(0)).cast("bigint").alias("n_a"),
            F.sum(F.when(~F.col("__isa"), 1).otherwise(0)).cast("bigint").alias("n_b"),
            F.sum(F.when(F.col("__isa"), F.col("__a")).otherwise(F.lit(0)).cast(dec)).alias("__sa"),
            F.sum(F.when(~F.col("__isa"), F.col("__a")).otherwise(F.lit(0)).cast(dec)).alias("__sb"),
            F.sum(F.when(F.col("__isa"), F.col("__a").cast(dec) * F.col("__a").cast(dec)).otherwise(F.lit(0).cast(dec))).alias("__saa"),
            F.sum(F.when(~F.col("__isa"), F.col("__a").cast(dec) * F.col("__a").cast(dec)).otherwise(F.lit(0).cast(dec))).alias("__sbb"),
        )
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    saa, sbb = F.col("__saa").cast("double"), F.col("__sbb").cast("double")
    mu = float(scale)
    mean_a, mean_b = sa / na / F.lit(mu), sb / nb / F.lit(mu)
    var_a = F.when(
        F.col("n_a") > 1, (saa - sa * sa / na) / (na - F.lit(1.0)) / F.lit(mu * mu)
    ).otherwise(F.lit(0.0))
    var_b = F.when(
        F.col("n_b") > 1, (sbb - sb * sb / nb) / (nb - F.lit(1.0)) / F.lit(mu * mu)
    ).otherwise(F.lit(0.0))
    se = F.sqrt(var_a / na + var_b / nb)
    ssy_adj = (saa + sbb).cast("double") - (sa + sb) * (sa + sb) / (na + nb)
    var_red = F.lit(1.0) - (ssy_adj / F.lit(mu * mu)) / F.col("__ssy_raw")
    return arm.select(
        "n_a",
        "n_b",
        F.floor(F.col("__theta") * F.lit(mu) + F.lit(0.5)).cast("bigint").alias("theta_micro"),
        F.floor(mean_a * F.lit(mu) + F.lit(0.5)).cast("bigint").alias("mean_adj_a_micro"),
        F.floor(mean_b * F.lit(mu) + F.lit(0.5)).cast("bigint").alias("mean_adj_b_micro"),
        F.floor((mean_a - mean_b) * F.lit(mu) + F.lit(0.5)).cast("bigint").alias("diff_micro"),
        F.when(
            se > 0,
            F.floor((mean_a - mean_b) / se * F.lit(mu) + F.lit(0.5)).cast("bigint"),
        ).alias("z_micro"),
        F.when(
            F.col("__ssy_raw") > 0,
            F.floor(var_red * F.lit(mu) + F.lit(0.5)).cast("bigint"),
        ).alias("var_reduction_micro"),
    )


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic product-analytics rollup: per user, hours since their last
    event (vs the corpus max), their event count, and their milli-exact
    value sum, each scored 1..n_bins against EXACT corpus quantile cuts
    (rank-ceil order statistics via the histogram-pruned search — never
    a global sort). Recency is inverted so more-recent = higher score.
    One row per user: (user, recency_hours, frequency, monetary_milli,
    r_score, f_score, m_score, rfm — the concatenated segment integer,
    e.g. 555 = best across all three).

    Fit-style eager operator (ab_test / trimmed_stats precedent): the
    3 x (n_bins - 1) cut values materialize at call time, then scoring
    is ONE scan-stage expression over the per-user table. Scores are
    1 + the count of cuts strictly below the value (strictly above, for
    recency), so ties resolve identically in any engine. Scale shape:
    one user-keyed aggregate (bounded by user count) + the quantile
    fits over that bounded table."""
    from .sketches import exact_quantiles

    if n_bins < 2:
        raise ValueError(f"rfm_segments: n_bins must be >= 2, got {n_bins}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    mx = base.agg(F.max(us).alias("__mx"))
    # recency is vs the user's LAST event: min over rows of (__mx - us)
    per = (
        base.crossJoin(F.broadcast(mx))
        .groupBy(F.col(user_col).alias("user"))
        .agg(
            F.floor(
                (F.min(F.col("__mx") - us)).cast("double") / F.lit(3_600_000_000.0)
            ).cast("bigint").alias("recency_hours"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(
                F.floor(F.col(value_col).cast("double") * F.lit(1000.0) + F.lit(0.5))
                .cast("bigint")
            ).cast("bigint").alias("monetary_milli"),
        )
    )
    # materialize the per-user rollup ONCE (r12): the three quantile
    # fits and the final scoring plan all consume `per` — unmaterialized,
    # the events scan + user aggregate re-ran for each of the ~10
    # histogram-pruning jobs (measured ~4 recomputes per call). The
    # table is bounded by user count; blocks release when the caller
    # drops the result (ContextCleaner), the _settle_computed_input
    # precedent.
    from ..session import checkpoint_df

    per = checkpoint_df(per)
    qs = [i / n_bins for i in range(1, n_bins)]
    cuts = {}
    for c in ("recency_hours", "frequency", "monetary_milli"):
        cuts[c] = [int(r["value"]) for r in exact_quantiles(per, c, qs).collect()]

    def score(col: str, invert: bool) -> F.Column:
        s = F.lit(1)
        for cut in cuts[col]:
            s = s + (
                (F.col(col) < F.lit(cut)) if invert else (F.col(col) > F.lit(cut))
            ).cast("int")
        return s.cast("int")

    scored = per.select(
        "user", "recency_hours", "frequency", "monetary_milli",
        score("recency_hours", invert=True).alias("r_score"),
        score("frequency", invert=False).alias("f_score"),
        score("monetary_milli", invert=False).alias("m_score"),
    )
    return scored.withColumn(
        "rfm",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int"),
    )
