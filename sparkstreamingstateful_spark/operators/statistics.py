"""Statistical-modeling operators (SURVEY.md §2 A/E families): ordinary
least squares per group and series autocorrelation — the model-fitting
primitives an analytics engine layers over its aggregates.

Cross-engine float discipline (why these are NOT spelled with the
built-in ``regr_slope``/``corr`` aggregates): those accumulate DOUBLES,
and double summation is order-dependent — Spark's partial aggregation
over 32 partitions and DuckDB's single-threaded scan would disagree in
the last ulps, which the driver's value-hash cannot tolerate. Instead
every Σ is an EXACT BIGINT sum of per-row integer-quantized terms
(quantity is integral, money is 2-decimal, value is 2-decimal — all
verified against the data), and the closed-form combination happens once
at the end in DOUBLE: identical exact integers in, one identical IEEE
expression tree out → bit-equal on both engines with zero rounding. A
companion test pins Spark's native regr_* aggregates against the closed
form to ~1e-9 relative, so the built-in surface is exercised too.

Scale posture: both keys are one partial+final hash aggregation (the
sums are map-side combinable) — the same shuffle shape as any GROUP BY
at 100 TB. The BIGINT moment sums overflow loudly (ANSI) near 2^63,
which for y² terms caps a single group around 10^4× this corpus — at
true 100 TB, shard the moment aggregation (e.g. per day) and merge,
which the associative sums permit by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cache_tag, load_table
from ..registry import query


def _ols_outputs(nd, sx, sy, sxx, sxy, syy):
    """The shared closed-form OLS expression tree (Spark side). The
    oracle spells the IDENTICAL tree — same operand order, same
    parenthesization — so every double op is the same IEEE op."""
    d1 = nd * sxy - sx * sy
    denx = nd * sxx - sx * sx
    deny = nd * syy - sy * sy
    slope = F.when(denx == 0, F.lit(None).cast("double")).otherwise(d1 / denx)
    intercept = F.when(denx == 0, F.lit(None).cast("double")).otherwise(
        (sy - (d1 / denx) * sx) / nd
    )
    r2 = F.when((denx * deny) == 0, F.lit(None).cast("double")).otherwise(
        (d1 * d1) / (denx * deny)
    )
    return slope, intercept, r2


@query(
    "agg_linear_regression",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS nd,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM (SELECT l_returnflag,
                     CAST(round(l_quantity) AS BIGINT) AS x,
                     CAST(round(l_extendedprice) AS BIGINT) AS y
              FROM lineitem)
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(nd AS BIGINT) AS n,
           CASE WHEN (nd * sxx - sx * sx) = 0 THEN NULL
                ELSE (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END AS slope,
           CASE WHEN (nd * sxx - sx * sx) = 0 THEN NULL
                ELSE (sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx)
                     / nd END AS intercept,
           CASE WHEN ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) = 0
                THEN NULL
                ELSE ((nd * sxy - sx * sy) * (nd * sxy - sx * sy))
                     / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))
           END AS r2
    FROM s
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares: price-per-quantity slope,
    intercept, and R² per return flag — the `regr_slope`/`regr_r2`
    surface, spelled as exact-moment sums + one closed-form double
    combination (see module docstring for why the native accumulator
    can't be hash-checked cross-engine). x = integral quantity, y =
    whole-dollar price (scale-0 round of a 2-decimal double is
    cross-engine safe: both engines round the SAME double half-away —
    unlike scale-2 round, measured in tpch.py). Degenerate groups (zero
    x or y variance) emit NULL under an ANSI-safe guard."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("bigint")
    y = F.round(F.col("l_extendedprice")).cast("bigint")
    s = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("double").alias("nd"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
            F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        )
    )
    slope, intercept, r2 = _ols_outputs(
        F.col("nd"), F.col("sx"), F.col("sy"),
        F.col("sxx"), F.col("sxy"), F.col("syy"),
    )
    return s.select(
        "l_returnflag",
        F.col("nd").cast("bigint").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


@query(
    "events_autocorr_lag1",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    pairs AS (
        SELECT event_type,
               lag(v) OVER (PARTITION BY event_type ORDER BY h) AS x,
               v AS y
        FROM hourly
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS nd,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM pairs
        WHERE x IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           CASE WHEN ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) <= 0
                THEN NULL
                ELSE (nd * sxy - sx * sy)
                     / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
           END AS autocorr
    FROM s
    """,
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's hourly volume series —
    the seasonality/persistence diagnostic behind forecasting and
    anomaly baselining. Series = hourly sums in exact 1e-2 BIGINT units
    (the events_anomaly_zscore quantization), pairs via one ordered
    window lag per type, Pearson r from exact moment sums + one
    closed-form double tree with an IEEE-correctly-rounded sqrt (the two
    float ops both engines agree on bit-for-bit). Plan: one hash agg →
    one per-type window pass → one tiny agg; everything partitioned by
    event_type, no global order."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v"))
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = hourly.select(
        "event_type",
        F.lag("v").over(w).alias("x"),
        F.col("v").alias("y"),
    ).where(F.col("x").isNotNull())
    s = pairs.groupBy("event_type").agg(
        F.count("*").cast("double").alias("nd"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    nd, sx, sy = F.col("nd"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    den = (nd * sxx - sx * sx) * (nd * syy - sy * sy)
    r = F.when(den <= 0, F.lit(None).cast("double")).otherwise(
        (nd * sxy - sx * sy) / F.sqrt(den)
    )
    return s.select("event_type", "n_pairs", r.alias("autocorr"))


@query(
    "events_ewma_smooth",
    oracle="""
    WITH RECURSIVE
    hourly AS MATERIALIZED (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    idx AS MATERIALIZED (
        SELECT event_type, h, x,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        FROM hourly
    ),
    rec(event_type, i, h, x, s) AS (
        SELECT event_type, i, h, x, x FROM idx WHERE i = 1
        UNION ALL
        SELECT n.event_type, n.i, n.h, n.x,
               CAST((n.x + r.s) // 2 AS BIGINT)
        FROM rec r
        JOIN idx n ON n.event_type = r.event_type AND n.i = r.i + 1
    )
    SELECT event_type, h AS win_start, x AS sum_v_c, s AS ewma_c,
           round(CAST(s AS DOUBLE) / 100, 2) AS ewma
    FROM rec
    """,
)
def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA exponential smoothing (E23) of each event type's hourly
    volume series — the classic forecasting/trend baseline whose
    recurrence s_t = α·x_t + (1−α)·s_{t−1} does NOT decompose into a
    window frame (every output depends on the entire prefix), so it's
    the canonical "iterative per-series op" a window-function engine
    can't spell directly. α = 1/2 in EXACT integer fixed point: series
    in 1e-2 BIGINT units (the events_anomaly_zscore quantization),
    update s = (x + s) >> 1 — a single shift, floor-exact on the
    non-negative domain (events.value ≥ 0, measured), so Spark's
    shiftright and DuckDB's ``// 2`` agree bit-for-bit and the oracle's
    recursive-CTE replay hash-matches with zero float drift.

    Spark side: hourly hash agg, then each type's series is folded
    IN-ROW — `collect_list` into an ordered array (bounded: hours ×
    1 per series, the gap-fill spine argument) and one `F.aggregate`
    accumulating the smoothed array — then exploded back to rows. One
    shuffle (the agg), one narrow fold; at 100 TB series stay bounded
    by the time range while types partition the work."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("x"))
    series = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("h", "x"))).alias("sx")
    )
    smoothed = F.aggregate(
        "sx",
        F.array().cast("array<struct<h:timestamp_ntz,x:bigint,s:bigint>>"),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.struct(
                    e["h"].alias("h"),
                    e["x"].alias("x"),
                    F.when(F.size(acc) == 0, e["x"])
                    .otherwise(
                        F.shiftright(e["x"] + F.element_at(acc, -1)["s"], 1)
                    )
                    .alias("s"),
                )
            ),
        ),
    )
    return (
        series.select("event_type", F.explode(smoothed).alias("e"))
        .select(
            "event_type",
            F.col("e.h").alias("win_start"),
            F.col("e.x").alias("sum_v_c"),
            F.col("e.s").alias("ewma_c"),
            F.round(F.col("e.s").cast("double") / 100, 2).alias("ewma"),
        )
    )


def _tdiv2(c):
    """Truncate-toward-zero division by 2 on a BIGINT column — matches
    DuckDB ``// 2`` and Spark SQL ``div 2`` on NEGATIVE operands too
    (shiftright alone FLOORS: -7 >> 1 = -4, but -7 // 2 = -3 in DuckDB,
    measured r13). Holt's trend state goes negative on any declining
    series, so the EWMA key's bare shiftright would drift there."""
    return F.when(c >= 0, F.shiftright(c, 1)).otherwise(-F.shiftright(-c, 1))


HOLT_ORACLE = """
    WITH RECURSIVE
    hourly AS MATERIALIZED (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    idx AS MATERIALIZED (
        SELECT event_type, h, x,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        FROM hourly
    ),
    rec(event_type, i, h, x, l, b) AS (
        SELECT event_type, i, h, x, x, CAST(0 AS BIGINT) FROM idx WHERE i = 1
        UNION ALL
        SELECT n.event_type, n.i, n.h, n.x,
               CAST((n.x + r.l + r.b) // 2 AS BIGINT),
               CAST((((n.x + r.l + r.b) // 2) - r.l + r.b) // 2 AS BIGINT)
        FROM rec r
        JOIN idx n ON n.event_type = r.event_type AND n.i = r.i + 1
    )
    SELECT event_type, h AS win_start, x AS sum_v_c,
           l AS level_c, b AS trend_c,
           CAST(l + b AS BIGINT) AS forecast_c,
           round(CAST(l + b AS DOUBLE) / 100, 2) AS forecast
    FROM rec
    """


@query(
    "events_holt_linear",
    oracle=HOLT_ORACLE,
)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt LINEAR-TREND smoothing (E24) of each event type's hourly
    volume — the two-state extension of E23's EWMA: level
    l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1}) and trend
    b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}, forecast = l_t + b_t (the
    one-step-ahead prediction a capacity planner actually reads;
    level-only EWMA lags every trending series by construction).
    α = β = 1/2 in EXACT integer fixed point (1e-2 BIGINT units): both
    updates are single divide-by-2 steps, but the trend state is SIGNED
    — declining series drive b negative — so the division must
    TRUNCATE toward zero on both engines (DuckDB ``//`` and Spark SQL
    ``div`` truncate; Python ``//`` and bare shiftright FLOOR — the
    sign-split `_tdiv2` spells truncation in column algebra). Init
    l_1 = x_1, b_1 = 0.

    Spark side: the EWMA shape — one hash agg to hourly sums, each
    type's series folded IN-ROW (`collect_list` → ordered `F.aggregate`
    carrying the (l, b) pair in the accumulated struct array → explode)
    — one shuffle total, series bounded by the time range, types
    partition the work. The oracle replays the identical recurrence as
    a recursive CTE; every state transition is integer-exact, so the
    hash pins all three emitted state streams bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("x"))
    series = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("h", "x"))).alias("sx")
    )

    def _step(acc, e):
        last = F.element_at(acc, -1)
        new_l = F.when(F.size(acc) == 0, e["x"]).otherwise(
            _tdiv2(e["x"] + last["l"] + last["b"])
        )
        new_b = F.when(F.size(acc) == 0, F.lit(0).cast("bigint")).otherwise(
            _tdiv2(new_l - last["l"] + last["b"])
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    e["h"].alias("h"),
                    e["x"].alias("x"),
                    new_l.alias("l"),
                    new_b.alias("b"),
                )
            ),
        )

    smoothed = F.aggregate(
        "sx",
        F.array().cast(
            "array<struct<h:timestamp_ntz,x:bigint,l:bigint,b:bigint>>"
        ),
        _step,
    )
    return (
        series.select("event_type", F.explode(smoothed).alias("e"))
        .select(
            "event_type",
            F.col("e.h").alias("win_start"),
            F.col("e.x").alias("sum_v_c"),
            F.col("e.l").alias("level_c"),
            F.col("e.b").alias("trend_c"),
            (F.col("e.l") + F.col("e.b")).cast("bigint").alias("forecast_c"),
            F.round(
                (F.col("e.l") + F.col("e.b")).cast("double") / 100, 2
            ).alias("forecast"),
        )
    )


# ------------------------------------------------------------------ LTTB
_LTTB_B = 48  # middle buckets; output = B + 2 points per series


@query(
    "events_downsample_lttb",
    oracle=f"""
    WITH RECURSIVE
    hourly AS MATERIALIZED (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    ser AS MATERIALIZED (
        SELECT event_type, h, y,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS idx,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM hourly
    ),
    params AS MATERIALIZED (
        SELECT event_type, max(n) AS n FROM ser
        GROUP BY event_type HAVING max(n) >= {_LTTB_B + 2}
    ),
    buckets AS MATERIALIZED (
        SELECT p.event_type, k.k,
               2 + ((k.k - 1) * (p.n - 2)) // {_LTTB_B} AS lo,
               1 + (k.k * (p.n - 2)) // {_LTTB_B} AS hi
        FROM params p, (SELECT unnest(range(1, {_LTTB_B + 1})) AS k) k
    ),
    bsum AS MATERIALIZED (
        SELECT b.event_type, b.k,
               sum(s.idx) AS sx, sum(s.y) AS sy, count(*) AS c
        FROM buckets b
        JOIN ser s ON s.event_type = b.event_type
                  AND s.idx BETWEEN b.lo AND b.hi
        GROUP BY b.event_type, b.k
    ),
    lastp AS MATERIALIZED (
        SELECT s.event_type, s.idx, s.y
        FROM ser s JOIN params p ON p.event_type = s.event_type
                                AND s.idx = p.n
    ),
    nxt AS MATERIALIZED (
        SELECT b.event_type, b.k,
               coalesce(nb.sx, lp.idx) AS sx,
               coalesce(nb.sy, lp.y) AS sy,
               coalesce(nb.c, 1) AS c
        FROM buckets b
        LEFT JOIN bsum nb ON nb.event_type = b.event_type
                         AND nb.k = b.k + 1
        JOIN lastp lp ON lp.event_type = b.event_type
    ),
    sel(k, event_type, sel_idx, sel_y) AS (
        SELECT 0, s.event_type, s.idx, s.y
        FROM ser s JOIN params p ON p.event_type = s.event_type
        WHERE s.idx = 1
        UNION ALL
        SELECT r.k + 1, r.event_type,
               (min({{'na': -abs((r.sel_idx * x.c - x.sx) * (s.y - r.sel_y)
                             - (r.sel_idx - s.idx) * (x.sy - r.sel_y * x.c)),
                      'i': s.idx, 'y': s.y}})).i,
               (min({{'na': -abs((r.sel_idx * x.c - x.sx) * (s.y - r.sel_y)
                             - (r.sel_idx - s.idx) * (x.sy - r.sel_y * x.c)),
                      'i': s.idx, 'y': s.y}})).y
        FROM sel r
        JOIN buckets b ON b.event_type = r.event_type AND b.k = r.k + 1
        JOIN nxt x ON x.event_type = r.event_type AND x.k = r.k + 1
        JOIN ser s ON s.event_type = r.event_type
                  AND s.idx BETWEEN b.lo AND b.hi
        WHERE r.k < {_LTTB_B}
        GROUP BY r.k, r.event_type
    ),
    final AS (
        SELECT event_type, CAST(k + 1 AS BIGINT) AS sel_rank,
               sel_idx AS idx, sel_y AS y_c
        FROM sel
        UNION ALL
        SELECT event_type, CAST({_LTTB_B + 2} AS BIGINT), idx, y FROM lastp
    )
    SELECT f.event_type, f.sel_rank, CAST(f.idx AS BIGINT) AS idx,
           s.h AS win_start, CAST(f.y_c AS BIGINT) AS y_c
    FROM final f
    JOIN ser s ON s.event_type = f.event_type AND s.idx = f.idx
    """,
)
def events_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling (E25) — Largest-Triangle-Three-Buckets
    (Steinarsson's public thesis algorithm, the Grafana/monitoring
    standard) of each event type's hourly series to 50 visually-
    representative points: first and last kept, the middle split into
    48 even index-buckets, and each bucket contributes the point
    maximizing the triangle area with the PREVIOUSLY SELECTED point and
    the NEXT bucket's average — a sequential dependency (each selection
    feeds the next bucket's triangles) that no window frame expresses.

    Exactness across engines: coordinates are (row index, 1e-2-unit
    BIGINT sums); the next-bucket AVERAGE is rational, so the area
    comparison is cross-multiplied by the bucket count c —
    |(x_p·c − Σx)(y_c − y_p) − (x_p − x_c)(Σy − y_p·c)| — pure integer,
    identical tie contract (max area, then min index) spelled as
    min(struct(−area, idx)) in the oracle's recursive CTE and a
    strict-greater scan on the Spark side. Series shorter than 50
    points are excluded by BOTH engines (HAVING n >= 50).

    Spark shape: the hourly agg runs JVM-side (one shuffle); each
    type's BOUNDED series (hours × 1, the gap-fill spine argument) then
    runs the sequential selection in grouped pandas with Python-int
    arithmetic — per-series work is O(n), series count partitions the
    work, and the output is 50 rows per series at any corpus size."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("y"))

    B = _LTTB_B

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        n = len(pdf)
        if n < B + 2:
            return pd.DataFrame(
                columns=["event_type", "sel_rank", "idx", "win_start", "y_c"]
            )
        ys = [int(v) for v in pdf["y"]]
        m = n - 2
        bounds = [(2 + ((k - 1) * m) // B, 1 + (k * m) // B)
                  for k in range(1, B + 1)]
        out = [(1, 1)]  # (sel_rank, idx); first point fixed
        prev_i, prev_y = 1, ys[0]
        for k in range(1, B + 1):
            lo, hi = bounds[k - 1]
            if k < B:
                nlo, nhi = bounds[k]
                c = nhi - nlo + 1
                sx = (nlo + nhi) * c // 2
                sy = sum(ys[j - 1] for j in range(nlo, nhi + 1))
            else:
                c, sx, sy = 1, n, ys[n - 1]
            best = None
            for i in range(lo, hi + 1):
                area2 = abs(
                    (prev_i * c - sx) * (ys[i - 1] - prev_y)
                    - (prev_i - i) * (sy - prev_y * c)
                )
                if best is None or area2 > best[0]:
                    best = (area2, i)
            prev_i, prev_y = best[1], ys[best[1] - 1]
            out.append((k + 1, prev_i))
        out.append((B + 2, n))
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "sel_rank": [r for r, _ in out],
                "idx": [i for _, i in out],
                "win_start": [pdf["h"].iloc[i - 1] for _, i in out],
                "y_c": [ys[i - 1] for _, i in out],
            }
        )

    return hourly.groupBy("event_type").applyInPandas(
        lttb,
        "event_type string, sel_rank long, idx long, "
        "win_start timestamp_ntz, y_c long",
    )


@query(
    "events_trend_mann_kendall",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    s AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM hourly a JOIN hourly b
          ON b.event_type = a.event_type AND a.h < b.h
        GROUP BY a.event_type
    ),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours
          FROM hourly GROUP BY event_type)
    SELECT n.event_type, n.n_hours,
           CAST(coalesce(s.s_stat, 0) AS BIGINT) AS s_stat,
           CASE WHEN n.n_hours >= 2 THEN
               round(CAST(coalesce(s.s_stat, 0) AS DOUBLE)
                     / (CAST(n.n_hours AS DOUBLE)
                        * (n.n_hours - 1) / 2), 6)
           END AS tau_a
    FROM n LEFT JOIN s USING (event_type)
    """,
)
def events_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend statistic per event type (E26) — the
    NON-PARAMETRIC monotone-trend test (Mann '45 / Kendall's tau; the
    hydrology/monitoring standard A13's least-squares slope can't
    replace: OLS assumes linearity and is wrecked by outliers, while
    S = Σ_{i<j} sign(x_j − x_i) only reads the ORDER of the series).
    Series = hourly sums in exact 1e-2 BIGINT units (the E20/E22
    quantization), so every sign comparison is integer-exact and S is a
    pure BIGINT — bit-replayable; tau_a = S / C(n,2) is one double
    division, rounded in SQL on both sides; the n < 2 denominator is
    NULL-guarded under ANSI (the r9 divide-by-zero rule, even though no
    shipped SF produces a 1-hour series).

    Plan: one hash agg to the hourly spine, then the pairwise sign sum
    as a per-type self-join on the SPINE (hours × types — bounded by
    the time range, NOT the corpus: at 100 TB the join is exactly as
    big as it is here; a year of hours is 8,760 rows/type, C(n,2) ≈
    38M pairs/type, each a codegen'd integer compare). For multi-year
    horizons the O(n log n) merge-sort inversion count is the upgrade
    path; the spine self-join is the exact, shuffle-light form at any
    operational window."""
    hourly = _mk_hourly_spine(spark, sf_dir)
    a = hourly.select(
        "event_type", F.col("h").alias("h1"), F.col("v").alias("v1")
    )
    b = hourly.select(
        "event_type", F.col("h").alias("h2"), F.col("v").alias("v2")
    )
    s = (
        a.join(b, "event_type")
        .filter(F.col("h1") < F.col("h2"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("v2") > F.col("v1"), 1)
                .when(F.col("v2") < F.col("v1"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s_stat")
        )
    )
    n = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours")
    )
    nh = F.col("n_hours")
    s_stat = F.coalesce("s_stat", F.lit(0)).cast("bigint")
    return n.join(s, "event_type", "left").select(
        "event_type",
        "n_hours",
        s_stat.alias("s_stat"),
        F.when(
            nh >= 2,
            F.round(
                s_stat.cast("double") / (nh.cast("double") * (nh - 1) / 2),
                6,
            ),
        ).alias("tau_a"),
    )

_HOURLY_SPINE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _mk_hourly_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly (event_type, h, v) spine in exact 1e-2 BIGINT units —
    ONE hash agg over events, localCheckpoint-materialized and memoized
    per (session, corpus content): E26 and E26b (and any future
    trend/seasonality key) iterate over the SAME spine, so the corpus
    scan + agg is shared setup, not the statistic under test (the
    lsh_sym_edges device; keyed content-fingerprint + session-weakref
    per the repo idempotence rule, never id())."""
    global _HOURLY_SPINE_CACHE
    if _HOURLY_SPINE_CACHE is None:
        import weakref

        _HOURLY_SPINE_CACHE = weakref.WeakKeyDictionary()
    tag = cache_tag(sf_dir, "events")
    per_session = _HOURLY_SPINE_CACHE.setdefault(spark, {})
    if tag not in per_session:
        ev = load_table(spark, sf_dir, "events")
        per_session[tag] = (
            ev.groupBy(
                "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
            )
            .agg(
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                    "v"
                )
            )
            .localCheckpoint()
        )
    return per_session[tag]


@query(
    "events_trend_mann_kendall_sig",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    s AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM hourly a JOIN hourly b
          ON b.event_type = a.event_type AND a.h < b.h
        GROUP BY a.event_type
    ),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours
          FROM hourly GROUP BY event_type),
    ties AS (
        SELECT event_type,
               CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_term
        FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS tc
              FROM hourly GROUP BY event_type, v)
        GROUP BY event_type
    ),
    f AS (
        SELECT n.event_type, n.n_hours,
               CAST(coalesce(s.s_stat, 0) AS BIGINT) AS s_stat,
               CAST(n.n_hours * (n.n_hours - 1) * (2 * n.n_hours + 5)
                    - coalesce(ties.tie_term, 0) AS BIGINT) AS var_s_18
        FROM n LEFT JOIN s USING (event_type)
               LEFT JOIN ties USING (event_type)
    ),
    z AS (
        SELECT *,
               CASE WHEN var_s_18 <= 0 THEN NULL
                    WHEN s_stat > 0 THEN
                        (CAST(s_stat AS DOUBLE) - 1)
                        / sqrt(CAST(var_s_18 AS DOUBLE) / 18.0)
                    WHEN s_stat < 0 THEN
                        (CAST(s_stat AS DOUBLE) + 1)
                        / sqrt(CAST(var_s_18 AS DOUBLE) / 18.0)
                    ELSE CAST(0 AS DOUBLE) END AS z_raw
        FROM f
    )
    SELECT event_type, n_hours, s_stat, var_s_18,
           round(z_raw, 6) AS z_mk,
           CASE WHEN z_raw IS NULL THEN NULL
                WHEN z_raw > 1.96 THEN 'increasing'
                WHEN z_raw < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM z
    """,
)
def events_trend_mann_kendall_sig(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Kendall SIGNIFICANCE test per event type (E26b, VERDICT r14
    item 7) — E26's S statistic completed with the tie-corrected normal
    approximation (Mann '45 / Kendall; Gilbert '87 form): Var(S) =
    (n(n-1)(2n+5) - SUM_t t(t-1)(2t+5)) / 18 where t ranges over the
    tie-group sizes of the hourly values, and the continuity-corrected
    z = (S-1)/sqrt(Var(S)) for S>0, (S+1)/sqrt(Var(S)) for S<0, 0 at
    S=0. Everything upstream of the final division is EXACT integer
    arithmetic: the spine values are 1e-2 BIGINT units (E26's device),
    S is a BIGINT sign sum, tie counts are BIGINTs, and Var(S)*18 is
    kept as the exact BIGINT ``var_s_18`` column (n=8,760 hours gives
    n^3 ~ 6.7e11 — far under 2^63); z is one division + one
    correctly-rounded sqrt (the E20 discipline), rounded in SQL on both
    sides, and the 'increasing'/'decreasing'/'no_trend' verdict at
    |z| > 1.96 (two-sided 5%) compares the UNROUNDED z identically on
    both engines. The z branch is F.when-guarded against var_s_18 = 0
    (an all-tied degenerate series — and ANSI DOUBLE division throws
    DIVIDE_BY_ZERO even in discarded branches, the r9 rule).

    Plan: shares E26's memoized hourly spine (one corpus agg per
    session, _mk_hourly_spine); the pairwise sign sum is the same
    time-bounded spine self-join (hours x types, NOT corpus-sized);
    the tie term is one extra hash agg over the spine (distinct values
    per type — bounded by hours). Same multi-year upgrade path as E26
    (inversion count + sort-run tie detection)."""
    hourly = _mk_hourly_spine(spark, sf_dir)
    a = hourly.select(
        "event_type", F.col("h").alias("h1"), F.col("v").alias("v1")
    )
    b = hourly.select(
        "event_type", F.col("h").alias("h2"), F.col("v").alias("v2")
    )
    s = (
        a.join(b, "event_type")
        .filter(F.col("h1") < F.col("h2"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("v2") > F.col("v1"), 1)
                .when(F.col("v2") < F.col("v1"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s_stat")
        )
    )
    n = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours")
    )
    tc = F.col("tc")
    ties = (
        hourly.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
        .groupBy("event_type")
        .agg(
            F.sum(tc * (tc - 1) * (2 * tc + 5))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    nh = F.col("n_hours")
    s_stat = F.coalesce("s_stat", F.lit(0)).cast("bigint")
    var18 = (
        nh * (nh - 1) * (2 * nh + 5) - F.coalesce("tie_term", F.lit(0))
    ).cast("bigint")
    f = (
        n.join(s, "event_type", "left")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n_hours",
            s_stat.alias("s_stat"),
            var18.alias("var_s_18"),
        )
    )
    v18 = F.col("var_s_18")
    sc = F.col("s_stat")
    # ANSI stand-in: sqrt's operand and the divisor must be nonzero even
    # in branches the CASE discards (the r9 divide-by-zero rule).
    den = F.when(v18 > 0, F.sqrt(v18.cast("double") / 18.0)).otherwise(
        F.lit(1.0)
    )
    z_raw = (
        F.when(v18 <= 0, F.lit(None).cast("double"))
        .when(sc > 0, (sc.cast("double") - 1) / den)
        .when(sc < 0, (sc.cast("double") + 1) / den)
        .otherwise(F.lit(0.0))
    )
    return f.select(
        "event_type",
        "n_hours",
        "s_stat",
        "var_s_18",
        F.round(z_raw, 6).alias("z_mk"),
        F.when(z_raw.isNull(), F.lit(None).cast("string"))
        .when(z_raw > 1.96, F.lit("increasing"))
        .when(z_raw < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


# Rank-balanced value buckets for the Sen-slope distributed selection:
# percentile_approx boundaries cap any per-bucket rank window at
# ~distinct_slopes/64 (+ sketch error), so no task ever sorts a type's
# whole pair set (ADVICE r15's single-reducer shape, fixed r16).
_SEN_BUCKETS = 64
# Pairs-per-type above which the selection path replaces the naive rank
# window (~3.2k spine hours; a single task sorting 5M rows is still
# comfortable, a year's 38M is not). Shipped spines: ~276k pairs/type.
_SEN_SELECT_PAIRS = 5_000_000


@query(
    "events_trend_sen_slope",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    slopes AS (
        SELECT a.event_type,
               CAST(b.v - a.v AS DOUBLE)
               / date_diff('hour', a.h, b.h) AS slope
        FROM hourly a JOIN hourly b
          ON b.event_type = a.event_type AND a.h < b.h
    ),
    r AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope) AS rk,
               count(*) OVER (PARTITION BY event_type) AS np
        FROM slopes
    )
    SELECT event_type,
           CAST(max(np) AS BIGINT) AS n_pairs,
           round(avg(slope), 6) AS sen_slope
    FROM r
    WHERE rk IN ((np + 1) // 2, (np + 2) // 2)
    GROUP BY event_type
    """,
)
def events_trend_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's slope estimator per event type (E26c) — the MAGNITUDE
    companion that completes the Mann-Kendall trend toolkit (direction
    = E26's S, significance = E26b's z, magnitude = this): the median
    of all C(n,2) pairwise slopes (v_j - v_i)/(h_j - h_i) (Sen '68,
    Theil '50) — the robust alternative to A13's OLS slope (up to ~29%
    outlier contamination moves it nothing, where least squares chases
    every spike). Cross-engine exactness: numerator = BIGINT 1e-2-unit
    diff, denominator = exact BIGINT hour count, each slope ONE double
    division (identical IEEE op both engines); the median is spelled as
    an explicit RANK construction — row_number over slope, keep ranks
    floor((n+1)/2) and floor((n+2)/2), avg — because both engines'
    native median/percentile interpolators are black boxes, while
    avg of one-or-two identical doubles is bit-replayable (rank ties
    are harmless: any rank inside a tie run reads the same value).
    round(.., 6) in SQL on both sides; units = value-cents per hour.
    Types with a single hour contribute no pairs and are absent on
    both engines identically (every shipped SF has thousands of
    hours/type).

    Plan (r16 rework, ADVICE r15): shares the session-memoized hourly
    spine (_mk_hourly_spine) with E26/E26b — the pairwise slope join is
    the same time-bounded spine self-join (hours x types,
    corpus-independent at 100 TB) — and the median picker is
    SIZE-ADAPTIVE, the same call this engine makes between broadcast
    and shuffle joins: below _SEN_SELECT_PAIRS pairs/type the original
    per-type rank window runs (cheapest at shipped spines — one sort,
    no extra passes; measured 2 s vs 7 s in-suite at sf0.1), above it
    the window's single-task sort (38M rows/type at a year of hours;
    window partitions cannot be AQE-split) is replaced by an exact
    DISTRIBUTED SELECTION (_sen_pick_selection): (1) collapse to
    DISTINCT slope values with multiplicities (mass points — tied
    slopes are common with integer numerators — become one row each),
    (2) split each type's value axis into 64 rank-balanced buckets
    (_SEN_BUCKETS) via percentile_approx boundaries — the boundaries
    are engine-internal and run-dependent, which is FINE: they only
    partition the search, every count and the selected values stay
    exact — (3) per-bucket BIGINT count sums + a 64-row-per-type
    cumulative window locate the bucket and in-bucket rank of global
    ranks floor((n+1)/2) and floor((n+2)/2), (4) one bounded
    per-bucket window (<= distinct/64 + sketch-error rows) picks each
    value by cumulative multiplicity. Both pickers feed the SAME final
    aggregate and are provably bit-identical (the selection picks the
    exact rank values; odd n picks the same value twice and
    (v+v)/2 == v; tie runs collapse to one distinct-value row, so 'any
    rank inside a tie run reads the same value' holds by construction)
    — pinned by tests/test_quality.py::test_sen_slope_pickers_agree —
    so the oracle serves both paths unchanged. The path switch reads
    hours-per-type off the memoized localCheckpoint'd spine: a
    types-bounded driver read, not a corpus scan."""
    hourly = _mk_hourly_spine(spark, sf_dir)
    nmax = max(
        (
            r["nh"]
            for r in hourly.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("nh"))
            .collect()
        ),
        default=0,
    )
    slopes = _sen_slopes(hourly)
    if nmax * (nmax - 1) // 2 <= _SEN_SELECT_PAIRS:
        picked = _sen_pick_window(slopes)
    else:
        picked = _sen_pick_selection(slopes)
    return picked.groupBy("event_type").agg(
        F.max("np").cast("bigint").alias("n_pairs"),
        F.round(F.avg("slope"), 6).alias("sen_slope"),
    )


def _sen_slopes(hourly: DataFrame) -> DataFrame:
    """All C(n,2) pairwise slopes per type off the hourly spine —
    (event_type, slope) with one double division per pair."""
    a = hourly.select(
        "event_type", F.col("h").alias("h1"), F.col("v").alias("v1")
    )
    b = hourly.select(
        "event_type", F.col("h").alias("h2"), F.col("v").alias("v2")
    )
    hd = (
        (F.col("h2").cast("long") - F.col("h1").cast("long")) / F.lit(3600)
    ).cast("bigint")
    return (
        a.join(b, "event_type")
        .filter(F.col("h1") < F.col("h2"))
        .select(
            "event_type",
            (
                (F.col("v2") - F.col("v1")).cast("double") / hd
            ).alias("slope"),
        )
    )


def _sen_pick_window(slopes: DataFrame) -> DataFrame:
    """Median-rank rows via the naive per-type rank window — one sort,
    no extra passes; the cheap path while a type's whole pair set fits
    one task (<= _SEN_SELECT_PAIRS). Emits (event_type, slope, np),
    one-or-two rows per type."""
    w = Window.partitionBy("event_type").orderBy("slope")
    wc = Window.partitionBy("event_type")
    r = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("np"),
    )
    return r.filter(
        (F.col("rk") == F.expr("(np + 1) div 2"))
        | (F.col("rk") == F.expr("(np + 2) div 2"))
    ).select("event_type", "slope", "np")


def _sen_pick_selection(slopes: DataFrame) -> DataFrame:
    """Median-rank rows via exact distributed selection (see the key's
    docstring) — every window bounded at ~distinct/_SEN_BUCKETS rows;
    the scale path past _SEN_SELECT_PAIRS. Emits (event_type, slope,
    np), exactly two rows per type (duplicated value when np is odd —
    the final avg is unchanged: (v+v)/2 == v)."""
    dv = slopes.groupBy("event_type", "slope").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bounds = dv.groupBy("event_type").agg(
        F.percentile_approx(
            "slope",
            F.array(*[F.lit(i / _SEN_BUCKETS) for i in range(1, _SEN_BUCKETS)]),
            F.lit(10_000),
        ).alias("bs")
    )
    bucketed = (
        dv.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            "slope",
            "c",
            F.aggregate(
                "bs",
                F.lit(0),
                lambda acc, x: acc
                + F.when(F.col("slope") > x, 1).otherwise(0),
            ).alias("bkt"),
        )
        # PIN the bucket assignment before fanning out to the counting
        # (bcum/targets) and in-bucket-pick branches (ADVICE r16):
        # percentile_approx's partial-sketch merge order is
        # non-deterministic across evaluations, so without this the two
        # branches could compute DIFFERENT boundary sets and the ranks
        # would disagree with the pick. localCheckpoint (the
        # text_collocations_lift device) materializes ONE boundary
        # assignment — distinct-slope-sized, not pair-sized — and stops
        # the pairwise-slope subplan re-evaluating per branch.
        .localCheckpoint()
    )
    wb = Window.partitionBy("event_type").orderBy("bkt")
    bcum = (
        bucketed.groupBy("event_type", "bkt")
        .agg(F.sum("c").alias("bc"))
        .withColumn(
            "cum",
            F.sum("bc").over(
                wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "np", F.sum("bc").over(Window.partitionBy("event_type"))
        )
    )
    targets = None
    for which in (1, 2):
        rk = F.floor((F.col("np") + which) / 2).cast("long")
        t = (
            bcum.withColumn("rk", rk)
            .filter(
                (F.col("cum") >= F.col("rk"))
                & (F.col("cum") - F.col("bc") < F.col("rk"))
            )
            .select(
                "event_type",
                "bkt",
                F.lit(which).alias("which"),
                (F.col("rk") - (F.col("cum") - F.col("bc"))).alias("lr"),
                "np",
            )
        )
        targets = t if targets is None else targets.unionByName(t)
    wv = (
        Window.partitionBy("event_type", "which", "bkt")
        .orderBy("slope")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(targets), ["event_type", "bkt"])
        .withColumn("lcum", F.sum("c").over(wv))
        .filter(
            (F.col("lcum") >= F.col("lr"))
            & (F.col("lcum") - F.col("c") < F.col("lr"))
        )
        .select("event_type", "slope", "np")
    )


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    c AS (
        SELECT event_type, h,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY h) AS BIGINT) AS t,
               sum(CAST(v AS HUGEINT)) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
        FROM hourly
    ),
    tot AS (
        SELECT event_type, sum(CAST(v AS HUGEINT)) AS sn,
               CAST(count(*) AS BIGINT) AS n_hours
        FROM hourly GROUP BY event_type
    ),
    d AS (
        SELECT c.event_type, c.h, c.t, c.st, tot.sn, tot.n_hours,
               CAST(tot.n_hours AS HUGEINT) * c.st
               - CAST(c.t AS HUGEINT) * tot.sn AS dd
        FROM c JOIN tot USING (event_type)
    ),
    pick AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY abs(dd) DESC, h ASC) AS rk
        FROM d
    )
    SELECT event_type, n_hours, h AS cp_h,
           CASE WHEN dd > 0 THEN 'down'
                WHEN dd < 0 THEN 'up' ELSE 'none' END AS direction,
           CASE WHEN n_hours >= 2 THEN
               round((CAST(sn - st AS DOUBLE) / (n_hours - t)
                      - CAST(st AS DOUBLE) / t) / 100, 6)
           END AS mean_shift
    FROM pick WHERE rk = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type (E27) — the level-shift LOCATOR
    completing the monitoring toolkit next to the Mann-Kendall family
    (E26 direction / E26b significance / E26c magnitude answer "is
    there a trend"; this answers "WHEN did the level change"): the
    classic cumulative-sum statistic (Page '54; the offline single-
    changepoint form is Pettitt-adjacent), cp = argmax_t |S_t - (t/n)
    S_n| over the hourly series — the hour where the prefix diverges
    most from the global mean line. The rational mean is cross-
    multiplied away: D_t = n*S_t - t*S_n is an EXACT integer
    (DECIMAL(38,0) here, HUGEINT in the oracle — n*S ~ 1e20 at a year
    of 100 TB hours, past BIGINT, the r13 second-moment rule), so the
    argmax compares exact integers; ties break to the EARLIEST hour via
    min(struct(-|D|, h)) vs the oracle's row_number ORDER BY abs DESC,
    h ASC — the same total order. direction reads sign(D) at the pick
    (prefix mean above the global line means the level dropped after
    cp). mean_shift = (mean_after - mean_before)/100 back in original
    value units: exact integer subtractions, two double divisions and
    one subtraction in the IDENTICAL operand order both engines,
    round(.., 6) in SQL both sides; n_hours < 2 emits NULL (the
    denominator n - t CAN be 0 only there: a nonzero |D| max never
    sits at t = n since D_n == 0, and the all-zero tie case picks
    t = 1 — but ANSI evaluates the projection regardless, so the
    stand-in denominator guards it, the r9 rule).

    Plan: shares the session-memoized hourly spine (_mk_hourly_spine)
    with E26/E26b/E26c — no corpus scan beyond the shared agg. One
    per-type cumulative window over the spine (hours x types rows,
    bounded by the TIME RANGE, not the corpus — the accepted spine
    shape), a types-sized broadcast join of the totals, and a 5-row
    struct-min agg. Output is one row per type at any scale."""
    hourly = _mk_hourly_spine(spark, sf_dir)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vdec = F.col("v").cast("decimal(38,0)")
    c = hourly.select(
        "event_type",
        "h",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("h"))
        .cast("bigint")
        .alias("t"),
        F.sum(vdec).over(wcum).alias("st"),
    )
    tot = hourly.groupBy("event_type").agg(
        F.sum(vdec).alias("sn"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    dd = F.col("n_hours").cast("decimal(19,0)") * F.col("st") - F.col(
        "t"
    ).cast("decimal(19,0)") * F.col("sn")
    d = c.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "n_hours",
        F.struct(
            (-F.abs(dd)).alias("na"),
            F.col("h").alias("cp_h"),
            dd.alias("dd"),
            F.col("t").alias("t"),
            F.col("st").alias("st"),
            F.col("sn").alias("sn"),
        ).alias("s"),
    )
    p = d.groupBy("event_type", "n_hours").agg(F.min("s").alias("s"))
    nt = F.col("n_hours") - F.col("s.t")
    den = F.when(nt == 0, F.lit(1)).otherwise(nt)
    shift = (
        (F.col("s.sn") - F.col("s.st")).cast("double") / den
        - F.col("s.st").cast("double") / F.col("s.t")
    ) / 100
    return p.select(
        "event_type",
        "n_hours",
        F.col("s.cp_h").alias("cp_h"),
        F.when(F.col("s.dd") > 0, "down")
        .when(F.col("s.dd") < 0, "up")
        .otherwise("none")
        .alias("direction"),
        F.when(F.col("n_hours") >= 2, F.round(shift, 6)).alias(
            "mean_shift"
        ),
    )


@query(
    "events_acf",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    lagged AS (
        SELECT a.event_type, CAST(l.lag AS INTEGER) AS lag,
               a.v AS x, b.v AS y
        FROM hourly a
        CROSS JOIN (SELECT unnest(range(1, 13)) AS lag) l
        JOIN hourly b
          ON b.event_type = a.event_type
         AND epoch(b.h) = epoch(a.h) + l.lag * 3600
    ),
    m AS (
        SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(y AS HUGEINT) * y) AS syy
        FROM lagged GROUP BY event_type, lag
    )
    SELECT event_type, lag, n_pairs,
           CASE WHEN n_pairs >= 2
                 AND n_pairs * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * sx > 0
                 AND n_pairs * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * sy > 0
           THEN round(
               (n_pairs * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (sqrt(n_pairs * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * sx)
                  * sqrt(n_pairs * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * sy)), 6)
           END AS acf
    FROM m
    """,
)
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function per event type at hour-lags
    1..12 (E28) — the CORRELOGRAM, the first diagnostic a forecaster
    reads before fitting anything (Box-Jenkins model identification:
    AR signatures decay, MA signatures cut off; it also calibrates
    E21's EWMA alpha and E26's trend persistence). Gap-honest
    semantics: lag k pairs are hours EXACTLY k*3600 s apart on the
    hourly spine — missing hours contribute no pair on either engine —
    so r_k is the Pearson correlation over the matched (x_t, x_{t+k})
    pairs (the cross-engine-exact analogue of the textbook ACF, which
    assumes a gapless series). Exactness is the ST-E/A13 moment
    discipline: five EXACT sums per (type, lag) — BIGINT sx/sy,
    DECIMAL(38,0)/HUGEINT second moments (x*y ~ 1e17 at sf0.1, past
    the r13 BIGINT line at scale) — then ONE closed-form double tree in
    the IDENTICAL operand order both engines, round(.., 6) in SQL both
    sides (the HUGEINT-to-DOUBLE last-ulp rule); zero-variance lags
    (constant series) and n_pairs < 2 emit NULL through the same CASE
    both sides, with Spark's stand-in denominator for the r9 ANSI
    divide-by-zero rule.

    Plan: shares the session-memoized hourly spine. The lag join is
    spine x 12 against spine — hours x types x 12 rows, bounded by the
    TIME RANGE, not the corpus (identical size at 100 TB) — one
    equi-shuffle on (event_type, epoch), then one map-side-combinable
    moment agg to types x 12 rows. No window, no driver loop."""
    hourly = _mk_hourly_spine(spark, sf_dir)
    hsec = F.col("h").cast("long")
    a = hourly.select(
        "event_type",
        hsec.alias("hs"),
        F.col("v").alias("x"),
    ).select(
        "event_type",
        "hs",
        "x",
        F.explode(F.sequence(F.lit(1), F.lit(12))).alias("lag"),
    )
    a = a.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        "x",
        (F.col("hs") + F.col("lag").cast("long") * 3600).alias("hs2"),
    )
    b = hourly.select(
        "event_type", hsec.alias("hs2"), F.col("v").alias("y")
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = (
        a.join(b, ["event_type", "hs2"])
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum((xd * xd).cast("decimal(38,0)")).alias("sxx"),
            F.sum((xd * yd).cast("decimal(38,0)")).alias("sxy"),
            F.sum((yd * yd).cast("decimal(38,0)")).alias("syy"),
        )
    )
    n = F.col("n_pairs")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx_d * F.col("sy")
    dx = n * F.col("sxx").cast("double") - sx_d * F.col("sx")
    dy = n * F.col("syy").cast("double") - sy_d * F.col("sy")
    den = F.sqrt(dx) * F.sqrt(dy)
    safe_den = F.when(den == 0, F.lit(1.0)).otherwise(den)
    return m.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when(
            (n >= 2) & (dx > 0) & (dy > 0),
            F.round(num / safe_den, 6),
        ).alias("acf"),
    )
