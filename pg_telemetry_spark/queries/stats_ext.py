"""Statistical / retail analytics extensions (round 9).

Classical warehouse statistics the TPC-H shapes don't cover: corpus
law fits (Zipf rank-frequency, Heaps vocabulary growth), RFM customer
segmentation, market-basket affinity (support/confidence/lift),
weighted median, IQR outlier gating, per-stream data-freshness SLOs,
the Theil-Sen robust trend estimator, banded-DTW series similarity
(tier C) and the Gini revenue-concentration coefficient.

Determinism discipline (queries/detsum.py): every float SUM crosses an
exact DECIMAL accumulator; every quantile/median is a DISCRETE pick at
a row_number computed over a TOTAL order (value + unique key), never
an interpolated percentile whose last-ulp could diverge between
engines; regression slopes divide identical rounded-decimal sums.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg_telemetry_spark.queries.detsum import DAVG_SQL, DSUM_SQL, davg, dsum
from pg_telemetry_spark.queries.relational import EVENTS_V
from pg_telemetry_spark.registry import query
from pg_telemetry_spark.tables import load_table


# ------------------------------------------------------------------ text laws


@query(
    "llm_zipf_heaps",
    group="llm_ext",
    oracle=f"""
WITH words AS (
  SELECT source, w
  FROM (SELECT source,
               unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
), freq AS (
  SELECT w, count(*) AS f FROM words GROUP BY w
), topw AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, w ASC) AS r
  FROM freq ORDER BY f DESC, w ASC LIMIT 1000
), zpts AS (
  SELECT round(ln(r), 6) AS lx, round(ln(f), 6) AS ly FROM topw
), zf AS (
  SELECT count(*) AS zn,
         {DSUM_SQL.format(x="lx")} AS sx,
         {DSUM_SQL.format(x="ly")} AS sy,
         {DSUM_SQL.format(x="lx*ly")} AS sxy,
         {DSUM_SQL.format(x="lx*lx")} AS sxx
  FROM zpts
), hsrc AS (
  SELECT source, count(*) AS n_tok, count(DISTINCT w) AS n_voc
  FROM words GROUP BY source
), hpts AS (
  SELECT round(ln(n_tok), 6) AS hx, round(ln(n_voc), 6) AS hy FROM hsrc
), hf AS (
  SELECT count(*) AS hn,
         {DSUM_SQL.format(x="hx")} AS hsx,
         {DSUM_SQL.format(x="hy")} AS hsy,
         {DSUM_SQL.format(x="hx*hy")} AS hsxy,
         {DSUM_SQL.format(x="hx*hx")} AS hsxx
  FROM hpts
)
SELECT zf.zn AS n_ranks,
       (SELECT count(*) FROM freq) AS n_types,
       (SELECT count(*) FROM words) AS n_tokens,
       round((zf.zn*zf.sxy - zf.sx*zf.sy)
             / NULLIF(zf.zn*zf.sxx - zf.sx*zf.sx, 0), 6) AS zipf_slope,
       hf.hn AS n_sources,
       round((hf.hn*hf.hsxy - hf.hsx*hf.hsy)
             / NULLIF(hf.hn*hf.hsxx - hf.hsx*hf.hsx, 0), 6) AS heaps_beta
FROM zf CROSS JOIN hf
""",
)
def llm_zipf_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus law fits: Zipf's rank-frequency slope (log f ~ -s log r,
    least squares over the top-1000 ranks, ties broken by word) and
    Heaps' vocabulary-growth exponent (log V ~ beta log N across the
    20 sources).  Both slopes divide exact-decimal sums of
    pre-rounded log points, so the fit is bit-stable at any scale.

    Scale shape: one tokenize+count shuffle on the word key gives the
    frequency table; the Zipf rank is a top-1000 TakeOrdered over
    VOCABULARY rows (not corpus rows) and the per-source Heaps agg is
    a second key-hash shuffle; the two fitted slopes are 1-row scalar
    attaches.  At 100 TB the vocab table is the only wide
    intermediate, and both fits read bounded slices of it."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
    )
    freq = words.groupBy("w").agg(F.count("*").alias("f"))
    topw = (
        freq.orderBy(F.desc("f"), F.asc("w"))
        .limit(1000)
        .withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("w")))
        )
    )
    zpts = topw.select(
        F.round(F.log("r"), 6).alias("lx"), F.round(F.log("f"), 6).alias("ly")
    )
    zf = zpts.agg(
        F.count("*").alias("zn"),
        dsum("lx").alias("sx"),
        dsum("ly").alias("sy"),
        dsum(F.col("lx") * F.col("ly")).alias("sxy"),
        dsum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    hpts = (
        words.groupBy("source")
        .agg(F.count("*").alias("n_tok"), F.countDistinct("w").alias("n_voc"))
        .select(
            F.round(F.log("n_tok"), 6).alias("hx"),
            F.round(F.log("n_voc"), 6).alias("hy"),
        )
    )
    hf = hpts.agg(
        F.count("*").alias("hn"),
        dsum("hx").alias("hsx"),
        dsum("hy").alias("hsy"),
        dsum(F.col("hx") * F.col("hy")).alias("hsxy"),
        dsum(F.col("hx") * F.col("hx")).alias("hsxx"),
    )
    totals = freq.agg(
        F.count("*").alias("n_types"), F.sum("f").alias("n_tokens")
    )

    def _slope(n, sxy, sx, sy, sxx):
        den = n * sxx - sx * sx
        return F.round(
            (n * sxy - sx * sy) / F.when(den != 0, den), 6
        )

    return (
        zf.crossJoin(hf)
        .crossJoin(totals)
        .select(
            F.col("zn").alias("n_ranks"),
            "n_types",
            "n_tokens",
            _slope(
                F.col("zn"), F.col("sxy"), F.col("sx"), F.col("sy"), F.col("sxx")
            ).alias("zipf_slope"),
            F.col("hn").alias("n_sources"),
            _slope(
                F.col("hn"),
                F.col("hsxy"),
                F.col("hsx"),
                F.col("hsy"),
                F.col("hsxx"),
            ).alias("heaps_beta"),
        )
    )


# ------------------------------------------------------------- retail / RFM


@query(
    "wl_rfm_segments",
    group="workload",
    oracle=f"""
WITH g AS (SELECT max(o_orderdate) AS gmax FROM orders),
cust AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), min(g.gmax)) AS rec_days,
         count(*) AS freq,
         {DSUM_SQL.format(x="o_totalprice")} AS monet
  FROM orders CROSS JOIN g
  GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, monet,
         ntile(5) OVER (ORDER BY rec_days ASC, o_custkey) AS r_q,
         ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
         ntile(5) OVER (ORDER BY monet DESC, o_custkey) AS m_q
  FROM cust
)
SELECT (r_q*100 + f_q*10 + m_q) AS segment,
       count(*) AS n_customers,
       {DAVG_SQL.format(x="monet")} AS avg_monetary,
       min(o_custkey) AS min_cust
FROM scored
GROUP BY 1
""",
)
def wl_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency (days since
    last order vs the corpus max date), frequency (order count) and
    monetary (exact-decimal revenue sum) are each quintiled with
    ntile(5) over a TOTAL order (metric + custkey tiebreak, so equal
    metrics land deterministically), then customers are bucketed into
    the 3-digit RFM segment code.

    Scale shape: one custkey hash agg, then three window passes over
    the CUSTOMER table (already 1/40th of orders).  The global ntile
    sort is the documented small-dim concession — at 100 TB you'd
    swap exact ntile for approx-quantile cutpoints broadcast back
    (same segment semantics, no global sort); the oracle pins the
    exact variant."""
    o = load_table(spark, sf_dir, "orders")
    g = o.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        o.crossJoin(g)
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.min("gmax"), F.max("o_orderdate")).alias("rec_days"),
            F.count("*").alias("freq"),
            dsum("o_totalprice").alias("monet"),
        )
    )
    scored = cust.select(
        "o_custkey",
        "monet",
        F.ntile(5)
        .over(Window.orderBy(F.asc("rec_days"), F.asc("o_custkey")))
        .alias("r_q"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("freq"), F.asc("o_custkey")))
        .alias("f_q"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monet"), F.asc("o_custkey")))
        .alias("m_q"),
    )
    return (
        scored.groupBy(
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).alias(
                "segment"
            )
        )
        .agg(
            F.count("*").alias("n_customers"),
            davg("monet").alias("avg_monetary"),
            F.min("o_custkey").alias("min_cust"),
        )
    )


@query(
    "wl_market_basket",
    group="workload",
    oracle="""
WITH base AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_ord FROM base),
ic AS (SELECT l_partkey, count(*) AS c FROM base GROUP BY 1),
pc AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS npair
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), m AS (
  SELECT pa, pb, npair,
         round(CAST(npair AS DOUBLE) / n.n_ord, 6) AS support,
         round(CAST(npair AS DOUBLE) / ia.c, 6) AS confidence,
         round(CAST(npair AS DOUBLE) * n.n_ord / (ia.c * ib.c), 6) AS lift
  FROM pc
  JOIN ic ia ON pc.pa = ia.l_partkey
  JOIN ic ib ON pc.pb = ib.l_partkey
  CROSS JOIN n
  WHERE npair >= 2
)
SELECT pa, pb, npair, support, confidence, lift
FROM m
QUALIFY row_number() OVER (ORDER BY lift DESC, pa, pb) <= 20
""",
)
def wl_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity mining: for every part pair co-occurring
    in >=2 orders, support (pair baskets / all baskets), confidence
    (pair / antecedent) and lift (observed / independence-expected
    co-rate); returns the 20 highest-lift pairs with a full
    deterministic tiebreak.

    Scale shape: the pair generation is an equi-join on l_orderkey
    (never all-pairs over parts) whose fan-out is bounded by basket
    size squared (~13^2 here); pair counts and item counts are hash
    aggs on 8/16-byte keys; the 1-row basket total is a scalar attach
    and the top-20 a TakeOrdered.  Exactly the A-Priori first pass as
    a dataflow."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_ord"))
    ic = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    pc = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("npair"))
        .filter(F.col("npair") >= 2)
    )
    m = (
        pc.join(
            ic.select(F.col("l_partkey").alias("pa"), F.col("c").alias("ca")),
            "pa",
        )
        .join(
            ic.select(F.col("l_partkey").alias("pb"), F.col("c").alias("cb")),
            "pb",
        )
        .crossJoin(n)
        .select(
            "pa",
            "pb",
            "npair",
            F.round(F.col("npair").cast("double") / F.col("n_ord"), 6).alias(
                "support"
            ),
            F.round(F.col("npair").cast("double") / F.col("ca"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("npair").cast("double")
                * F.col("n_ord")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-20, merged on the driver) — a global row_number window here
    # would serialize EVERY qualifying pair through one task's sort
    return m.orderBy(F.desc("lift"), F.asc("pa"), F.asc("pb")).limit(20)


@query(
    "wl_gini_revenue",
    group="workload",
    oracle=f"""
WITH cust AS (
  SELECT o_custkey, {DSUM_SQL.format(x="o_totalprice")} AS rev
  FROM orders GROUP BY 1
), r AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev, o_custkey) AS i,
         count(*) OVER () AS n
  FROM cust
)
SELECT max(n) AS n_customers,
       round(CAST(sum(CAST(rev AS DECIMAL(28,6))) AS DOUBLE), 6)
         AS total_revenue,
       round(2 * CAST(sum(CAST(i*rev AS DECIMAL(28,6))) AS DOUBLE)
               / (max(n) * CAST(sum(CAST(rev AS DECIMAL(28,6))) AS DOUBLE))
             - CAST(max(n) + 1 AS DOUBLE) / max(n), 6) AS gini
FROM r
""",
)
def wl_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers via
    the sorted-rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n
    (x ascending, rank ties broken by custkey).  Both rank-weighted
    sums accumulate exact DECIMAL(28,6) — wide enough for rank*revenue
    products at petabyte row counts — so the coefficient is
    order-independent.

    Scale shape: custkey hash agg, then ONE global sort to assign
    ranks (the concession every exact-Gini needs — at 100 TB
    range-partition by revenue so the sort is distributed; rank
    offsets per range are a prefix-sum over partition counts), then a
    1-row reduce."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("rev"))
    w = Window.orderBy(F.asc("rev"), F.asc("o_custkey"))
    r = cust.select(
        "rev",
        F.row_number().over(w).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    srev = F.sum(F.col("rev").cast("decimal(28,6)")).cast("double")
    sirev = F.sum((F.col("i") * F.col("rev")).cast("decimal(28,6)")).cast(
        "double"
    )
    nmax = F.max("n")
    return r.agg(
        nmax.alias("n_customers"),
        F.round(srev, 6).alias("total_revenue"),
        F.round(
            2 * sirev / (nmax * srev)
            - (nmax + 1).cast("double") / nmax,
            6,
        ).alias("gini"),
    )


# ------------------------------------------------------------ robust stats


@query(
    "agg_weighted_median",
    group="aggs",
    oracle="""
WITH ordered AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(l_quantity AS DECIMAL(18,6)))
           OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING) AS cumw,
         sum(CAST(l_quantity AS DECIMAL(18,6)))
           OVER (PARTITION BY l_returnflag) AS totw
  FROM lineitem
)
SELECT l_returnflag,
       min(l_extendedprice) AS weighted_median,
       round(CAST(min(totw) AS DOUBLE), 6) AS total_weight
FROM ordered
WHERE 2*cumw >= totw
GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag, as a TWO-LEVEL
    prefix sum: the median is the price of the first row (in
    price + orderkey + linenumber order) whose doubled cumulative
    weight reaches the flag total.  Decimal accumulation keeps the
    boundary comparison exact — no float cumsum drift can flip the
    picked row.

    Scale shape (round 11): the naive form — one window cumsum
    partitioned by flag — serializes each flag's ENTIRE partition
    through a single task sort (3 flags = 3 tasks no matter the
    cluster; measured 87 s at the sf10 decade, 12.7x over sf1).  The
    rewrite buckets price into coarse cells, aggregates per-cell
    weight map-side (small shuffle), runs the window over the TINY
    per-cell table to locate the one cell per flag that straddles the
    half-weight boundary, then broadcast-joins that boundary back and
    sorts ONLY the straddling cell's rows (~1/nbuckets of the data)
    for the exact within-cell pick.  Every heavy stage is now
    parallel: partial agg + one small window + one narrow filtered
    window.  Equivalence: rows in cells before the boundary cell all
    have 2*cum < tot, rows after all qualify but carry higher prices,
    so the min-qualifying price always lives in the boundary cell."""
    li = load_table(spark, sf_dir, "lineitem")
    dec_q = F.col("l_quantity").cast("decimal(18,6)")
    # ~100-unit price cells: l_extendedprice spans ~[900, 105000], so
    # ~1000 cells/flag — the per-cell table is thousands of rows.
    cell = F.floor(F.col("l_extendedprice") / F.lit(100.0)).alias("cell")
    base = li.select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber",
        dec_q.alias("w"), cell,
    )
    cells = base.groupBy("l_returnflag", "cell").agg(
        F.sum("w").alias("cw")
    )
    wc = Window.partitionBy("l_returnflag").orderBy("cell")
    marked = cells.select(
        "l_returnflag",
        "cell",
        (
            F.sum("cw").over(
                wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("cw")
        ).alias("offset"),
        F.sum("cw").over(Window.partitionBy("l_returnflag")).alias("totw"),
        F.sum("cw").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum_end"),
    )
    # the boundary cell: first cell whose end-cumulative reaches half
    boundary = marked.filter(
        (2 * F.col("cum_end") >= F.col("totw"))
        & (2 * F.col("offset") < F.col("totw"))
    ).select("l_returnflag", "cell", "offset", "totw")
    ww = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    inside = (
        base.join(F.broadcast(boundary), ["l_returnflag", "cell"])
        .select(
            "l_returnflag",
            "l_extendedprice",
            "totw",
            (
                F.col("offset")
                + F.sum("w").over(
                    ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
            ).alias("cumw"),
        )
    )
    return (
        inside.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.round(F.min("totw").cast("double"), 6).alias("total_weight"),
        )
    )


@query(
    "dq_iqr_outliers",
    group="dq",
    oracle=f"""
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM {EVENTS_V} e
), q AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN value END) AS q1,
         max(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN value END) AS q3,
         max(n) AS n_rows
  FROM r GROUP BY event_type
)
SELECT r.event_type,
       round(max(q.q1), 6) AS q1,
       round(max(q.q3), 6) AS q3,
       CAST(sum(CASE WHEN r.value < q.q1 - 1.5*(q.q3 - q.q1)
                       OR r.value > q.q3 + 1.5*(q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       max(q.n_rows) AS n_rows
FROM r JOIN q ON r.event_type = q.event_type
GROUP BY r.event_type
""",
)
def dq_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier gate per event type: DISCRETE quartiles
    (the value at rank ceil(q*n) under a total order — both engines
    pick the identical element, unlike interpolated percentiles whose
    last ulp can differ), then counts outside [q1-1.5*IQR,
    q3+1.5*IQR].  The fence arithmetic uses the same operand tree on
    both sides, and 1.5 is binary-exact, so the comparison is
    bit-identical.

    Scale shape (round 11): event_type has ~6 values, so the naive
    per-type rank window serialized EVERY row through 6 task sorts
    (8.4x per decade measured at sf10).  Rank-k selection is now the
    agg_weighted_median two-level recipe: bucket value into unit
    cells (events.value spans ~[0, 600] — the per-cell table is a few
    thousand rows), locate the cell containing each target rank with
    a window over that tiny table, then sort ONLY the two straddling
    cells' rows for the exact pick.  The fence count reads raw events
    with the 6-row quartile table broadcast — no rank window at all
    on the hot path."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "value",
        "event_id",
        F.floor("value").cast("long").alias("cell"),
    )
    cells = base.groupBy("event_type", "cell").agg(F.count("*").alias("cnt"))
    wc = Window.partitionBy("event_type").orderBy("cell")
    marked = cells.select(
        "event_type",
        "cell",
        F.sum("cnt")
        .over(wc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_end"),
        (
            F.sum("cnt").over(
                wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("cnt")
        ).alias("offset"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    bounds = None
    for frac, tag in ((0.25, "q1"), (0.75, "q3")):
        k = F.ceil(F.lit(frac) * F.col("n")).cast("bigint")
        one = marked.filter((F.col("offset") < k) & (k <= F.col("cum_end"))).select(
            "event_type",
            "cell",
            "offset",
            F.lit(tag).alias("qtag"),
            k.alias("k"),
            F.col("n").alias("n_rows"),
        )
        bounds = one if bounds is None else bounds.unionByName(one)
    wq = Window.partitionBy("event_type", "qtag").orderBy("value", "event_id")
    picks = (
        base.join(F.broadcast(bounds), ["event_type", "cell"])
        .withColumn("rg", F.col("offset") + F.row_number().over(wq))
        .filter(F.col("rg") == F.col("k"))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("qtag") == "q1", F.col("value"))).alias("q1"),
            F.max(F.when(F.col("qtag") == "q3", F.col("value"))).alias("q3"),
            F.max("n_rows").alias("n_rows"),
        )
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        e.join(F.broadcast(picks), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("q1"), 6).alias("q1"),
            F.round(F.max("q3"), 6).alias("q3"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("q1") - 1.5 * iqr)
                    | (F.col("value") > F.col("q3") + 1.5 * iqr),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.max("n_rows").alias("n_rows"),
        )
    )


@query(
    "wl_data_freshness",
    group="dq",
    oracle=f"""
WITH g AS (SELECT max(ts) AS gmax FROM {EVENTS_V} e)
SELECT e.event_type,
       max(e.ts) AS latest_ts,
       date_diff('microsecond', max(e.ts), min(g.gmax)) // 60000000
         AS staleness_min,
       CAST(sum(CASE WHEN e.ts >= min_g.h24 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_last_24h,
       CAST(sum(CASE WHEN e.ts >= min_g.d7 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_last_7d,
       count(*) AS n_total
FROM {EVENTS_V} e
CROSS JOIN g
CROSS JOIN (SELECT gmax - INTERVAL 24 HOUR AS h24,
                   gmax - INTERVAL 7 DAY AS d7 FROM g) min_g
GROUP BY e.event_type
""",
)
def wl_data_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream data-freshness SLO: latest event, staleness in whole
    minutes behind the global high-water mark (exact integer
    microsecond arithmetic — no boundary-crossing date_diff or float
    epoch), and event counts in the trailing 24h / 7d windows
    anchored at that mark.

    Scale shape: the high-water mark is a 1-row scalar attach; the
    rest is a single hash agg per event_type with conditional counts
    — the shape of every freshness dashboard, and partition-prunable
    at 100 TB when events are date-partitioned."""
    e = load_table(spark, sf_dir, "events")
    g = e.agg(F.max("ts").alias("gmax"))
    j = e.crossJoin(F.broadcast(g))
    # events ts is TIMESTAMP_NTZ — unix_micros needs TIMESTAMP; the
    # session-zone shift introduced by the cast cancels in the diff
    stale_us = F.unix_micros(
        F.min("gmax").cast("timestamp")
    ) - F.unix_micros(F.max("ts").cast("timestamp"))
    return j.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"),
        stale_us.cast("bigint").alias("_us"),
        F.sum(
            F.when(
                F.col("ts") >= F.col("gmax") - F.expr("INTERVAL 24 HOURS"), 1
            ).otherwise(0)
        ).alias("n_last_24h"),
        F.sum(
            F.when(
                F.col("ts") >= F.col("gmax") - F.expr("INTERVAL 7 DAYS"), 1
            ).otherwise(0)
        ).alias("n_last_7d"),
        F.count("*").alias("n_total"),
    ).select(
        "event_type",
        "latest_ts",
        F.expr("_us div 60000000").alias("staleness_min"),
        "n_last_24h",
        "n_last_7d",
        "n_total",
    )


# ------------------------------------------------------------- time series


@query(
    "ts_theilsen",
    group="timeseries",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         {DAVG_SQL.format(x="value")} AS v
  FROM {EVENTS_V} e GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         round((b.v - a.v) / date_diff('hour', a.h, b.h), 6) AS slope,
         a.h AS h1, b.h AS h2
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND a.h < b.h
), med AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, h1, h2) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM pairs
)
SELECT event_type,
       max(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN slope END)
         AS theil_sen_slope,
       max(n) AS n_pairs
FROM med GROUP BY event_type
""",
)
def ts_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the DISCRETE median of
    all pairwise slopes of the hourly mean series (slopes pre-rounded,
    median picked at rank ceil(n/2) under a total order — exact on
    both engines).

    Scale shape: the corpus first compresses to the hourly series
    (one hash agg; series length is TIME-bounded at ~720 points per
    type regardless of row count — this is what makes the O(k^2) pair
    step safe at 100 TB), then the pair self-join is an equi-join on
    event_type over those bounded series, and the median is one
    sort-window per type over <=260k slope rows."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(davg("value").alias("v"))
    )
    a = hourly.select(
        "event_type",
        F.col("h").alias("h1"),
        F.col("v").alias("v1"),
    )
    b = hourly.select(
        "event_type",
        F.col("h").alias("h2"),
        F.col("v").alias("v2"),
    )
    hrs = F.expr(
        "(unix_micros(h2) - unix_micros(h1)) div 3600000000"
    ).cast("bigint")
    # Re-spread the probe side of the pair fan-out (guide §2.5): the
    # hourly series is a few thousand rows, so AQE coalesces the agg
    # feeding it to ONE partition — and the O(k²) pair explosion plus
    # its map-side (event_type, slope) combine then run single-task
    # (measured: a 2.7 s one-task stage writing the pair shuffle).
    # The b-side is broadcast (time-bounded series under the 32 MB
    # threshold), so the probe side needs no co-location at all — a
    # round-robin respread of the tiny series buys full-width
    # parallelism for the quadratic stage at the cost of shuffling a
    # few thousand rows.
    a = a.repartition(spark.sparkContext.defaultParallelism)
    # No broadcast HINT on the b side (optimization r17, ADVICE r16):
    # the hint was unconditional, so a wide event_type x hour series
    # would be force-broadcast past the driver.  AQE's runtime join
    # re-planning IS the data-derived gate: the b side's TRUE
    # materialized size picks BroadcastHashJoin when it fits (verified
    # in the executed plan at sf0.1; interleaved A/B hint-vs-AQE read
    # 2.16-2.66 vs 2.17-2.29 s — free) and falls back to a shuffle
    # join with skew handling when it does not.  A pin+count gate was
    # also measured and REVERTED: the count job + cache materialization
    # cost +0.3-0.9 s/run interleaved.
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("h1") < F.col("h2"))
        .select(
            "event_type",
            F.round((F.col("v2") - F.col("v1")) / hrs, 6).alias("slope"),
        )
    )
    # Optimization r16 (guide §2.3, aggregate before you shuffle): the
    # selected value at rank ceil(n/2) under ORDER BY (slope, h1, h2)
    # is the ceil(n/2)-th smallest SLOPE — the (h1, h2) tiebreak only
    # permutes rows WITHIN equal slopes, never which slope holds a
    # given rank — so the discrete median reduces to an order
    # statistic over (slope, multiplicity).  Aggregating to per-slope
    # counts first collapses the O(k²)-pair stream map-side (measured
    # sf0.1: the window input drops ~1.5M wide rows -> ~100k grouped
    # rows, the 21 MB single-task shuffle write -> ~1 MB), and the
    # per-type sort that remains is over distinct slopes only.
    # Result-identical by the rank argument above; the DuckDB oracle
    # keeps the original row_number formulation.
    cnt = pairs.groupBy("event_type", "slope").agg(F.count("*").alias("c"))
    wt = Window.partitionBy("event_type")
    cum = cnt.select(
        "event_type",
        "slope",
        "c",
        F.sum("c")
        .over(wt.orderBy("slope").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(wt).alias("n"),
    )
    k = F.ceil(0.5 * F.col("n")).cast("bigint")
    return (
        cum.filter((F.col("cum") >= k) & (F.col("cum") - F.col("c") < k))
        .select(
            "event_type",
            F.col("slope").alias("theil_sen_slope"),
            F.col("n").alias("n_pairs"),
        )
    )


@query("ts_dtw_pairs", group="timeseries", tier="C")
def ts_dtw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dynamic-time-warping distance between every pair of
    event-type hourly series: each series is the rounded hourly mean,
    z-normalized, and DTW runs under a Sakoe-Chiba band of radius 24
    (one day of allowed warp).  Tier C — the DP recursion is
    sequential per pair; the golden test replays the identical DP in
    pure Python (tests/test_units_stats.py).

    Scale shape: the only corpus-sized work is the hourly hash agg
    (series length is time-bounded at ~720 points, independent of
    row count); the pair grid is |types|^2/2 rows carrying two small
    arrays each, and the Arrow-batched kernel is O(len*band) per
    pair.  At 100 TB with thousands of series the same plan holds —
    pairs explode combinatorially long before any single DP does."""
    import math

    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(davg("value").alias("v"))
    )
    series = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("h", "v"))).alias("pts")
    ).select("event_type", F.col("pts.v").alias("vs"))
    a = series.select(
        F.col("event_type").alias("type_a"), F.col("vs").alias("va")
    )
    b = series.select(
        F.col("event_type").alias("type_b"), F.col("vs").alias("vb")
    )
    # |types| x |types| constant grid (25 rows) — broadcast NLJ by design
    grid = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))

    def _dtw(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                x, y = list(row.va), list(row.vb)

                def _norm(s):
                    m = sum(s) / len(s)
                    var = sum((t - m) ** 2 for t in s) / len(s)
                    sd = math.sqrt(var) or 1.0
                    return [(t - m) / sd for t in s]

                x, y = _norm(x), _norm(y)
                n, m, band = len(x), len(y), 24
                inf = float("inf")
                prev = [inf] * (m + 1)
                prev[0] = 0.0
                for i in range(1, n + 1):
                    cur = [inf] * (m + 1)
                    lo = max(1, i - band)
                    hi = min(m, i + band)
                    for j in range(lo, hi + 1):
                        c = (x[i - 1] - y[j - 1]) ** 2
                        cur[j] = c + min(
                            prev[j], cur[j - 1], prev[j - 1]
                        )
                    prev = cur
                out.append(
                    (
                        row.type_a,
                        row.type_b,
                        len(row.va),
                        len(row.vb),
                        round(math.sqrt(prev[m]), 4),
                    )
                )
            yield pd.DataFrame(
                out, columns=["type_a", "type_b", "n_a", "n_b", "dtw_dist"]
            )

    return grid.mapInPandas(
        _dtw,
        schema=(
            "type_a string, type_b string, n_a int, n_b int, dtw_dist double"
        ),
    )


@query(
    "dq_k_anonymity",
    group="dq",
    oracle="""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         ntile(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS bal_decile
  FROM customer
), grp AS (
  SELECT c_nationkey, c_mktsegment, bal_decile, count(*) AS k
  FROM qi GROUP BY c_nationkey, c_mktsegment, bal_decile
)
SELECT min(k) AS min_k,
       count(*) AS n_groups,
       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_risky_rows,
       round(CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE)
             / sum(k), 6) AS pct_risky,
       CAST(sum(k) AS BIGINT) AS n_rows
FROM grp
""",
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census over the customer quasi-identifier tuple
    (nation, market segment, account-balance decile): the minimum
    equivalence-class size (the dataset's k), class count, and the
    row mass in classes below k=5 — the rows a release would have to
    suppress or generalize (Sweeney 2002).  The decile is an
    ntile(10) over a TOTAL order (balance + custkey) so class
    boundaries are engine-identical.

    Scale shape: one global ntile window (dimension-sized input
    here; at fact scale the decile boundaries come from a quantile
    sketch and the window disappears), one hash agg on the QI tuple,
    one scalar rollup."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.ntile(10)
        .over(Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc()))
        .alias("bal_decile"),
    )
    grp = qi.groupBy("c_nationkey", "c_mktsegment", "bal_decile").agg(
        F.count("*").alias("k")
    )
    risky = F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(F.lit(0)))
    return grp.agg(
        F.min("k").alias("min_k"),
        F.count("*").alias("n_groups"),
        risky.cast("bigint").alias("n_risky_rows"),
        F.round(risky.cast("double") / F.sum("k"), 6).alias("pct_risky"),
        F.sum("k").cast("bigint").alias("n_rows"),
    )
