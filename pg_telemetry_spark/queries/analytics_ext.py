"""Round-2 extension operators — SURVEY.md §2.13.

Product-analytics composites (funnel, retention, profiling), further
statistics (correlation/regression aggregates, rolling z-score
anomaly, EWMA), window extras (percent_rank/cume_dist/ntile), and
LLM-pipeline additions (document chunking, greedy sequence packing,
PII redaction, deterministic stratified sampling, edit-distance
pairs).  All tier A: every one carries a DuckDB oracle.

Scale notes are per-query; the shared rules (SCALE.md) apply — every
shape here is scan → narrow map → hash-agg/window on a natural key,
no driver-side data paths, no crossJoins.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg_telemetry_spark.session import iter_checkpoint, scratch_dir
from pg_telemetry_spark.registry import query
from pg_telemetry_spark.tables import load_table

#: events view needs the nanos→timestamp rewrite on the DuckDB side
#: (same convention as queries/aggs.py).
EVENTS_V = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    "value, props FROM events)"
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------- windows


@query(
    "win_pct_ntile",
    group="windows",
    oracle=f"""
SELECT event_id, event_type, value,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cdist,
       ntile(4) OVER w AS quartile
FROM {EVENTS_V} e
WHERE event_type IN ('purchase', 'signup')
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
""",
)
def win_pct_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile quartiles per event type.
    The window orders by (value, event_id): ntile assignment depends
    on ROW order, so the tie-break is what makes it engine-portable."""
    e = _events(spark, sf_dir).filter(F.col("event_type").isin("purchase", "signup"))
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


# ------------------------------------------------------------------- aggs


@query(
    "agg_corr_regr",
    group="aggs",
    oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS price_per_qty,
       round(regr_intercept(l_extendedprice, l_quantity), 2) AS price_intercept,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / least-squares regression aggregates
    per return flag — single-pass moment sketches in both engines
    (mergeable partials, so the shuffle carries 5 doubles per group).
    Ratio outputs (corr, slope) round to 6; the intercept mixes
    ~1e4-magnitude sums so it rounds to 2 (double precision edge)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("price_per_qty"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
            "price_intercept"
        ),
        F.count("*").alias("n"),
    )


# ------------------------------------------------------------- timeseries


@query(
    "ts_zscore_anomaly",
    group="timeseries",
    oracle=f"""
WITH scored AS (
  SELECT event_id, user_id, ts, value,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sigma,
         count(*) OVER w AS n_win
  FROM {EVENTS_V} e
  WHERE event_type = 'error'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, value,
       round((value - mu) / sigma, 6) AS zscore
FROM scored
WHERE n_win >= 5 AND sigma > 0 AND abs((value - mu) / sigma) > 2.5
""",
)
def ts_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: each error event scored against
    the mean/stddev of its user's PRECEDING 19 events (never itself —
    self-inclusion masks spikes).  A pure window shape: one shuffle on
    the series key, O(1) state per row at any scale."""
    e = _events(spark, sf_dir).filter(F.col("event_type") == "error")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, -1)
    )
    scored = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_win"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        scored.filter((F.col("n_win") >= 5) & (F.col("sigma") > 0) & (F.abs(z) > 2.5))
        .select("event_id", "user_id", "ts", "value", F.round(z, 6).alias("zscore"))
    )


@query(
    "ts_ewma",
    group="timeseries",
    oracle=f"""
WITH series AS (
  SELECT user_id, event_type, list(value ORDER BY ts, event_id) AS vs
  FROM {EVENTS_V} e
  WHERE user_id < 500
  GROUP BY user_id, event_type
)
SELECT user_id, event_type, len(vs) AS n_points,
       round(list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma
FROM series
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha=0.2) per series.

    EWMA is a left fold (a recurrence, not a window aggregate): the
    series is assembled as a deterministically ordered array —
    ``array_sort(collect_list(struct(ts, event_id, value)))`` — and
    folded with a higher-order ``aggregate``, seeded with the first
    value (both engines fold strictly left-to-right, so the doubles
    are bit-identical).  One hash-agg shuffle on the series key; the
    array length is the series length, which a telemetry layout bounds
    per partition (day-partitioned series)."""
    e = _events(spark, sf_dir).filter(F.col("user_id") < 500)
    vs = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    series = e.groupBy("user_id", "event_type").agg(vs.alias("vs"))
    ewma = F.aggregate(
        F.slice("vs", 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at("vs", 1),
        lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
    )
    return series.select(
        "user_id",
        "event_type",
        F.size("vs").alias("n_points"),
        F.round(ewma, 6).alias("ewma"),
    )


# ---------------------------------------------------------------- scalars


@query(
    "fn_levenshtein",
    group="scalars",
    oracle="""
WITH heads AS (
  SELECT doc_id, substring(text, 1, 24) AS head FROM documents WHERE doc_id < 60
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       levenshtein(a.head, b.head) AS edit_dist
FROM heads a JOIN heads b ON a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 12
""",
)
def fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance pairs over short document prefixes — the fuzzy
    string-match primitive (typo-tolerant entity matching).  The demo
    windows to 60 docs; the scale path blocks candidates first (LSH /
    length bands) and only then pays the O(m·n) distance, exactly like
    the Jaccard verify pipeline."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", F.substring("text", 1, 24).alias("head"))
    )
    a = d.select(F.col("doc_id").alias("id1"), F.col("head").alias("h1"))
    b = d.select(F.col("doc_id").alias("id2"), F.col("head").alias("h2"))
    dist = F.levenshtein("h1", "h2")
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .filter(dist <= 12)
        .select("id1", "id2", dist.alias("edit_dist"))
    )


# --------------------------------------------------------------- workload


@query(
    "wl_funnel",
    group="workload",
    oracle=f"""
WITH stages AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'view') AS t_view,
         min(ts) FILTER (WHERE event_type = 'click') AS t_click,
         min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
  FROM {EVENTS_V} e
  GROUP BY user_id
)
SELECT count(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
       count(*) FILTER (WHERE t_click > t_view) AS n_click_after_view,
       count(*) FILTER (WHERE t_purchase > t_click AND t_click > t_view)
         AS n_full_funnel
FROM stages
""",
)
def wl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: first
    timestamp per stage per user, then ordered-progression counts.
    One hash-agg on user_id plus a global fold — the canonical product
    funnel at any scale (NULL comparisons drop non-converters
    naturally in both engines)."""
    e = _events(spark, sf_dir)
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return stages.agg(
        F.count_if(F.col("t_view").isNotNull()).alias("n_view"),
        F.count_if(F.col("t_click") > F.col("t_view")).alias("n_click_after_view"),
        F.count_if(
            (F.col("t_purchase") > F.col("t_click"))
            & (F.col("t_click") > F.col("t_view"))
        ).alias("n_full_funnel"),
    )


@query(
    "wl_retention",
    group="workload",
    oracle=f"""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM {EVENTS_V} e GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM {EVENTS_V} e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day,
       count(DISTINCT user_id) AS cohort_size,
       count(DISTINCT user_id) FILTER (WHERE day_offset = 1) AS retained_d1,
       count(DISTINCT user_id) FILTER (WHERE day_offset = 7) AS retained_d7
FROM activity
GROUP BY cohort_day
""",
)
def wl_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, retention
    measured at day +1 and +7.  Two hash-aggs on user_id/cohort keys;
    the distinct day-offset set per user is bounded by the retention
    horizon, so state never grows with event volume."""
    e = _events(spark, sf_dir)
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_size"),
        F.countDistinct(F.when(F.col("day_offset") == 1, F.col("user_id"))).alias(
            "retained_d1"
        ),
        F.countDistinct(F.when(F.col("day_offset") == 7, F.col("user_id"))).alias(
            "retained_d7"
        ),
    )


@query(
    "wl_profile_columns",
    group="workload",
    oracle="""
SELECT 'o_custkey' AS col, count(*) AS n_rows,
       count(*) - count(o_custkey) AS n_nulls,
       count(DISTINCT o_custkey) AS n_distinct
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice)
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority)
FROM orders
""",
)
def wl_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling sweep: per-column row/null/distinct counts — the
    first query any ingest QA runs.  Expressed as one pass per column
    on the Spark side via a single multi-aggregate then unpivoted
    in-plan (stack), so the table is scanned ONCE, not once per column
    (the oracle's UNION ALL shape is the semantic spec, not the plan)."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("nn_custkey"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.count("o_totalprice").alias("nn_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.count("o_orderpriority").alias("nn_prio"),
        F.countDistinct("o_orderpriority").alias("nd_prio"),
    )
    return agg.select(
        F.expr(
            "stack(4, "
            "'o_custkey', n_rows, n_rows - nn_custkey, nd_custkey, "
            "'o_orderstatus', n_rows, n_rows - nn_status, nd_status, "
            "'o_totalprice', n_rows, n_rows - nn_price, nd_price, "
            "'o_orderpriority', n_rows, n_rows - nn_prio, nd_prio"
            ") AS (col, n_rows, n_nulls, n_distinct)"
        )
    )


# -------------------------------------------------------------------- llm


@query(
    "llm_chunk_docs",
    group="llm_ext",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 2000
)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
       len(list_slice(t, i * 40 + 1, i * 40 + 50)) AS n_chunk_tokens,
       md5(array_to_string(list_slice(t, i * 40 + 1, i * 40 + 50), ' '))
         AS chunk_md5
FROM toks, unnest(range(0, CAST(floor((len(t) - 1) / 40) AS BIGINT) + 1))
     AS u(i)
""",
)
def llm_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: overlapping 50-token windows, stride 40 —
    the context-window preprocessing every training/RAG pipeline runs.
    A narrow explode (each doc → ceil(n/40) chunk rows) with zero
    shuffle; chunk identity is (doc_id, chunk_id) and content is
    md5-fingerprinted for the hash-match."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    n_chunks = F.floor((F.size("t") - 1) / 40).cast("int") + 1
    chunks = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice("t", F.col("chunk_id") * 40 + 1, 50)
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


@query(
    "llm_pack_sequences",
    group="llm_ext",
    oracle="""
WITH sized AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
  FROM documents
), packed AS (
  SELECT doc_id, lang, n_tok,
         CAST(floor(
           (sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ) / 512.0) AS BIGINT) AS bin_id
  FROM sized
)
SELECT lang, coalesce(bin_id, 0) AS bin_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc
FROM packed
GROUP BY lang, coalesce(bin_id, 0)
""",
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into ~512-token training bins per
    language: bin id = floor(running-token-sum-before / 512) over a
    deterministic doc order — the streaming packer (each bin may
    overflow by at most one doc, the standard trade for a one-pass
    shuffle-light packing; optimal bin packing is NP-hard and
    pointless at corpus scale).  One window + one hash-agg, both on
    the lang partition key.

    Scale note: a running sum totally orders each lang partition, so
    one lang = one window task.  At 100 TB the partition key becomes
    (lang, shard) with shard = a hash bucket of doc_id — bins never
    need to cross shards (packing quality is unaffected; bin ids get
    a shard prefix), which caps task size at corpus/shards regardless
    of language skew."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.withColumn(
        "bin_id",
        F.coalesce(F.floor(F.sum("n_tok").over(w) / 512.0), F.lit(0)).cast("long"),
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "llm_pii_redact",
    group="llm_ext",
    oracle=r"""
WITH synth AS (
  SELECT doc_id,
         concat('reach u', CAST(doc_id AS VARCHAR), '@example.com or +1-555-',
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' :: ',
                substring(text, 1, 60)) AS raw
  FROM documents WHERE doc_id < 3000
)
SELECT doc_id,
       regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
                      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted,
       len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
       len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS n_phones
FROM synth
""",
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-redact emails and phone numbers (planted
    deterministically from doc_id so the fixture actually contains
    PII) and count what was removed — the compliance pass every
    training corpus runs before release.  Pure narrow map; the regex
    subset used (character classes, bounded repeats) behaves
    identically under Java regex and RE2."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 3000)
    raw = F.concat(
        F.lit("reach u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" :: "),
        F.substring("text", 1, 60),
    )
    email_re = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    phone_re = r"\+1-555-[0-9]{4}"
    synth = d.select("doc_id", raw.alias("raw"))
    return synth.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("raw", email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all("raw", F.lit(email_re), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(phone_re), 0)).alias("n_phones"),
    )


@query(
    "ts_resample_ohlc",
    group="timeseries",
    oracle=f"""
WITH ranked AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM {EVENTS_V} e
  WHERE user_id < 200
)
SELECT user_id, bucket,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       round(max(value), 6) AS high,
       round(min(value), 6) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_ticks,
       round(sum(value), 6) AS volume
FROM ranked
GROUP BY user_id, bucket
""",
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling — open/high/low/close per (series, hour), the
    telemetry/finance downsample that keeps first/last semantics.
    open/close are single-pass ``min_by``/``max_by`` over the
    composite (ts, event_id) order (tie-broken, so both engines pick
    the same row); one hash-agg on the natural (series, bucket) key."""
    e = _events(spark, sf_dir).filter(F.col("user_id") < 200)
    order = F.struct("ts", "event_id")
    return e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.min_by("value", order).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.max_by("value", order).alias("close"),
        F.count("*").alias("n_ticks"),
        F.round(F.sum("value"), 6).alias("volume"),
    )


@query(
    "agg_mode_portable",
    group="aggs",
    oracle=f"""
WITH buckets AS (
  SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS vb, count(*) AS n
  FROM {EVENTS_V} e GROUP BY event_type, CAST(floor(value / 50) AS BIGINT)
)
SELECT event_type, vb AS modal_bucket, n AS modal_count
FROM buckets
QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY n DESC, vb ASC) = 1
""",
)
def agg_mode_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value bucket) per event type with an
    EXPLICIT tie-break — native ``mode()`` aggregates leave ties
    engine-defined, so the portable formulation is count + windowed
    argmax, the same two-shuffle shape at any scale (the count
    pre-aggregates, so the window sees one row per distinct value)."""
    e = _events(spark, sf_dir)
    buckets = e.groupBy(
        "event_type", F.floor(F.col("value") / 50).cast("long").alias("vb")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("vb").asc())
    return (
        buckets.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("vb").alias("modal_bucket"),
            F.col("n").alias("modal_count"),
        )
    )


@query(
    "fn_url_extract",
    group="scalars",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         concat('https://', source, '.example.', lang, '/docs/',
                CAST(doc_id AS VARCHAR), '?page=', CAST(doc_id % 7 AS VARCHAR),
                '&ref=', lang) AS url
  FROM documents WHERE doc_id < 5000
)
SELECT doc_id, url,
       regexp_extract(url, 'https://([^/]+)/', 1) AS host,
       regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, 'page=([0-9]+)', 1) AS page_param
FROM urls
""",
)
def fn_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing via regex groups (host / path / query param) — the
    web-corpus normalization primitive.  Regex-based rather than
    ``parse_url`` so the exact same pattern semantics run on any
    engine; a pure narrow map."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5000)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example."),
        F.col("lang"),
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?page="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&ref="),
        F.col("lang"),
    )
    urls = d.select("doc_id", url.alias("url"))
    return urls.select(
        "doc_id",
        "url",
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"),
        F.regexp_extract("url", r"https://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract("url", r"page=([0-9]+)", 1).alias("page_param"),
    )


@query(
    "src_binaryfile",
    group="sources",
    oracle="""
SELECT concat('doc_', CAST(doc_id AS VARCHAR), '.txt') AS file_name,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < 40
""",
)
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-file ingestion through the ``binaryFile`` source — the
    path multimodal corpora (images/audio) arrive by: land files,
    read (path, length, bytes), fingerprint content.  The oracle
    recomputes length/md5 from the source table, so this is a true
    write→read→decode round-trip parity check.  At scale binaryFile
    scans parallelize per file with pushed path filters; payload bytes
    stay opaque binary until a mapInPandas decode (operators/
    multimodal.py)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    out_dir = scratch_dir("pgts_binfiles_")

    def land(rows) -> None:
        # executor-side landing (local FS here, shared FS on a
        # cluster) — file contents never route through the driver
        import os

        for r in rows:
            with open(os.path.join(out_dir, f"doc_{r.doc_id}.txt"), "wb") as f:
                f.write(r.text.encode("utf-8"))

    d.foreachPartition(land)
    files = spark.read.format("binaryFile").load(out_dir)
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "wl_dau_wau_mau",
    group="workload",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM {EVENTS_V} e
), bounds AS (
  SELECT max(d) AS max_d FROM ud
), contrib AS (
  SELECT user_id, d + CAST(i AS INTEGER) AS target_d, i
  FROM ud, unnest(range(0, 30)) u(i)
)
SELECT target_d AS day,
       count(DISTINCT CASE WHEN i = 0 THEN user_id END) AS dau,
       count(DISTINCT CASE WHEN i < 7 THEN user_id END) AS wau,
       count(DISTINCT user_id) AS mau
FROM contrib, bounds
WHERE target_d <= bounds.max_d
GROUP BY target_d
""",
)
def wl_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user counts (DAU / 7-day WAU / 30-day MAU) per
    day in ONE aggregate: each (user, active-day) row is exploded into
    the ≤30 future days it contributes to, tagged with its offset, and
    a single conditional count-distinct per day does the rest.  The
    contribute-forward expansion is the scale shape for sliding
    distinct counts — a bounded 30× narrow fan-out shuffled once on
    the day key, instead of a distinct-over-range-window (which Spark
    cannot do) or 30 self-joins.  At extreme scale swap the exact
    distinct for the HLL-sketch variant (see agg_hll_rollup)."""
    e = _events(spark, sf_dir)
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    contrib = ud.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"),
    ).select("user_id", F.date_add("d", F.col("i")).alias("target_d"), "i")
    bounds = ud.agg(F.max("d").alias("max_d"))
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("target_d") <= F.col("max_d"))
        .groupBy(F.col("target_d").alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("i") == 0, F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(F.when(F.col("i") < 7, F.col("user_id"))).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
    )


@query(
    "wl_attribution",
    group="workload",
    oracle=f"""
WITH touches AS (
  SELECT user_id, ts, event_id, event_type,
         lag(CASE WHEN event_type IN ('view', 'click') THEN event_type END
             IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lt_type,
         lag(CASE WHEN event_type IN ('view', 'click') THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lt_ts
  FROM {EVENTS_V} e
)
SELECT CASE WHEN lt_ts IS NOT NULL
             AND ts - lt_ts <= INTERVAL 3 DAY THEN lt_type
            ELSE 'organic' END AS channel,
       count(*) AS n_purchases
FROM touches
WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def wl_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent view/click within a 3-day lookback, else 'organic'.  The
    as-of lookup is lag(IGNORE NULLS) — one window over the series
    key, no join — Spark's equivalent is last(ignorenulls) over the
    preceding frame (same pattern win_ignorenulls pins)."""
    e = _events(spark, sf_dir)
    touch_type = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    touch_ts = F.when(F.col("event_type").isin("view", "click"), F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touches = e.select(
        "event_type",
        "ts",
        F.last(touch_type, ignorenulls=True).over(w).alias("lt_type"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("lt_ts"),
    )
    channel = F.when(
        F.col("lt_ts").isNotNull()
        & (F.col("ts") - F.col("lt_ts") <= F.expr("INTERVAL 3 DAY")),
        F.col("lt_type"),
    ).otherwise("organic")
    return (
        touches.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(F.count("*").alias("n_purchases"))
    )


@query(
    "llm_bigram_lm",
    group="llm_ext",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) u(i)
  WHERE len(t) >= 2
), uni AS (
  SELECT w1, count(*) AS u_n FROM grams GROUP BY w1
), bi AS (
  SELECT w1, w2, count(*) AS b_n FROM grams GROUP BY w1, w2
), vocab AS (
  SELECT count(DISTINCT w1) AS v FROM grams
)
SELECT g.doc_id,
       count(*) AS n_bigrams,
       round(avg(ln((b.b_n + 1.0) / (u.u_n + vocab.v))), 6) AS avg_logprob
FROM grams g
JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
JOIN uni u ON g.w1 = u.w1
CROSS JOIN vocab
GROUP BY g.doc_id
""",
)
def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality scoring: train corpus bigram
    counts IN the plan, then score every document by its mean add-1-
    smoothed bigram log-probability — the model-based fluency filter
    (low avg logprob ≈ disfluent/garbled text) that complements the
    heuristic llm_quality features.  Count tables join back on the
    bigram key (uniform hash shuffles); the vocabulary size arrives as
    a broadcast 1-row aggregate, the same no-collect scalar pattern as
    llm_tfidf."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + F.lit(1)).alias("w2"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    uni = grams.groupBy("w1").agg(F.count("*").alias("u_n"))
    bi = grams.groupBy("w1", "w2").agg(F.count("*").alias("b_n"))
    vocab = grams.agg(F.countDistinct("w1").alias("v"))
    scored = (
        grams.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp", F.log((F.col("b_n") + 1.0) / (F.col("u_n") + F.col("v")))
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_logprob"),
    )


@query(
    "sql_recursive_hierarchy",
    group="sql",
    oracle="""
WITH RECURSIVE r AS (
  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
  FROM customer WHERE c_custkey = 0 OR c_custkey % 97 = 0
  UNION ALL
  SELECT c.c_custkey, r.root, r.depth + 1
  FROM customer c
  JOIN r ON CAST(floor(c.c_custkey / 3) AS BIGINT) = r.node
  WHERE c.c_custkey <> 0 AND c.c_custkey % 97 <> 0
)
SELECT node, root, depth FROM r
""",
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE equivalence: root/depth for every node of a
    deterministic forest (parent = floor(key/3); keys divisible by 97,
    plus 0, are roots).  Spark has no WITH RECURSIVE — the idiomatic
    translation is an iterative frontier BFS: each round joins the
    frontier to its children (one equi-join), localCheckpoints to keep
    lineage flat, and stops when the frontier empties.  Rounds =
    hierarchy depth (≈log₃ max key); the per-round emptiness check is
    a scalar count, never row data, so the loop is driver-light and
    each round is a fully distributed join — the same shape at 100 TB
    (org charts, category trees, thread ancestry are all shallow)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    is_root = (F.col("node") == 0) | (F.col("node") % 97 == 0)
    children = c.filter(~is_root).select(
        "node", F.floor(F.col("node") / 3).cast("long").alias("parent")
    )
    # lazy checkpoints: each level's emptiness count materializes it
    frontier = c.filter(is_root).select(
        "node", F.col("node").alias("root"), F.lit(0).alias("depth")
    ).transform(iter_checkpoint, eager=False)
    out = frontier
    while frontier.count() > 0:  # scalar emptiness check per level
        frontier = (
            children.join(
                frontier.select(F.col("node").alias("parent"), "root", "depth"),
                "parent",
            )
            .select("node", "root", (F.col("depth") + 1).alias("depth"))
            .transform(iter_checkpoint, eager=False)
        )
        out = out.unionByName(frontier)
    return out


@query(
    "fn_try_safe",
    group="scalars",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
              ELSE string_split(text, ' ')[1] END AS maybe_num,
         string_split(text, ' ') AS toks,
         CAST(doc_id % 5 AS DOUBLE) AS denom
  FROM documents WHERE doc_id < 4000
)
SELECT doc_id,
       TRY_CAST(maybe_num AS BIGINT) AS parsed,
       round(CAST(doc_id AS DOUBLE) / nullif(denom, 0.0), 6) AS safe_div,
       toks[25] AS elem_25
FROM raw
""",
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface under ANSI mode: try_cast on a
    sometimes-numeric string, try_divide for the zero denominator,
    try_element_at past the array end — each returns NULL where strict
    ANSI evaluation would abort the job (one poison row must not kill
    a 100 TB pass; the oracle pins the NULL semantics via TRY_CAST /
    nullif-division / DuckDB's out-of-range list access)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 4000)
    toks = F.split("text", " ")
    raw = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.col("doc_id").cast("string")
        ).otherwise(F.element_at(toks, 1)).alias("maybe_num"),
        toks.alias("toks"),
        (F.col("doc_id") % 5).cast("double").alias("denom"),
    )
    return raw.select(
        "doc_id",
        F.expr("try_cast(maybe_num AS BIGINT)").alias("parsed"),
        F.round(
            F.try_divide(F.col("doc_id").cast("double"), F.col("denom")), 6
        ).alias("safe_div"),
        F.try_element_at("toks", F.lit(25)).alias("elem_25"),
    )


@query(
    "agg_listagg",
    group="aggs",
    oracle="""
SELECT l_orderkey,
       string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS flags,
       string_agg(CAST(l_linenumber AS VARCHAR), ','
                  ORDER BY l_linenumber, l_returnflag) AS line_seq
FROM lineitem
WHERE l_orderkey < 2000
GROUP BY l_orderkey
""",
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg / string_agg WITHIN GROUP):
    concatenates each order's line flags in line order — the ordered
    variant agg_collect's sort-then-join can't express when the sort
    key differs from the output value.  Uses Spark 4's native listagg
    via SQL WITHIN GROUP syntax.  The fixture has duplicate line
    numbers per order, so the ORDER BY carries the output value as a
    tie-break — without it the concatenation order among ties is
    engine-defined."""
    li = load_table(spark, sf_dir, "lineitem")
    li.filter(F.col("l_orderkey") < 2000).createOrReplaceTempView(
        "_listagg_lineitem"
    )
    return spark.sql(
        """
        SELECT l_orderkey,
               listagg(l_returnflag, '')
                 WITHIN GROUP (ORDER BY l_linenumber, l_returnflag) AS flags,
               listagg(CAST(l_linenumber AS STRING), ',')
                 WITHIN GROUP (ORDER BY l_linenumber, l_returnflag) AS line_seq
        FROM _listagg_lineitem
        GROUP BY l_orderkey
        """
    )


@query(
    "wl_session_paths",
    group="workload",
    oracle=f"""
WITH base AS (
  SELECT user_id, event_id, ts, event_type, epoch(ts) AS ep
  FROM {EVENTS_V} e WHERE user_id < 300
), tagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= 1800 THEN 0 ELSE 1 END AS is_new
  FROM base
), sid AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM tagged
)
SELECT user_id, session_id, count(*) AS n_events,
       string_agg(substring(event_type, 1, 1), '>' ORDER BY ts, event_id)
         AS path
FROM sid
GROUP BY user_id, session_id
""",
)
def wl_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session event-type paths ('v>c>p') — the Sankey / journey
    input: gaps-and-islands sessionization (30-min gap, same semantics
    ts_session pins) followed by ordered in-session string aggregation
    (listagg WITHIN GROUP over the unique (ts, event_id) order).  Two
    windows and one agg, all on the user/session key."""
    e = _events(spark, sf_dir).filter(F.col("user_id") < 300)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000.0)
    tagged = e.select(
        "user_id", "event_id", "ts", "event_type", ep.alias("ep")
    ).withColumn(
        "is_new",
        F.when((F.col("ep") - F.lag("ep").over(w)) <= 1800, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    sid = tagged.withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sid.createOrReplaceTempView("_session_path_events")
    return spark.sql(
        """
        SELECT user_id, session_id, count(*) AS n_events,
               listagg(substring(event_type, 1, 1), '>')
                 WITHIN GROUP (ORDER BY ts, event_id) AS path
        FROM _session_path_events
        GROUP BY user_id, session_id
        """
    )


@query(
    "wl_rollup_cascade",
    group="workload",
    oracle=f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       round(max(value), 6) AS max_value,
       round(round(sum(value), 6) / count(*), 6) AS avg_value
FROM {EVENTS_V} e
GROUP BY event_type, date_trunc('day', ts)
""",
)
def wl_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading mergeable rollups: raw → hourly → daily, with the
    daily tier derived FROM THE HOURLY TIER, never from raw — the
    warehouse property that makes multi-granularity telemetry cheap
    (each coarser tier re-aggregates ~24× fewer rows, and the hourly
    partials are exactly what the streaming collector maintains
    incrementally).  Only mergeable shapes survive the cascade:
    count/sum/max re-aggregate; avg must be carried as sum÷count and
    derived at the end (a naive avg-of-avgs is wrong under uneven
    bucket sizes).  The oracle computes the same daily numbers
    directly from raw — equality IS the mergeability proof."""
    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "hour").alias("day")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
        F.max("max_value").alias("max_value"),
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("max_value", 6).alias("max_value"),
        # avg from the ROUNDED sum: the cascaded partial sums associate
        # differently than a direct sum, so the raw quotients can differ
        # in the last double digit; the rounded sums are hash-equal, so
        # quotients of them are too
        F.round(F.round("sum_value", 6) / F.col("n_events"), 6).alias("avg_value"),
    )


@query(
    "win_ratio_to_report",
    group="windows",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6)
         AS share_of_customer,
       round(o_totalprice / sum(o_totalprice) OVER (), 6) AS share_of_total
FROM orders
WHERE o_custkey < 300
""",
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each order's share of its customer's spend and
    of the filtered total — unbounded window sums as denominators (the
    empty OVER () is a single global partition: fine for a filtered
    slice, a deliberate anti-pattern on unbounded data, where the
    denominator becomes a broadcast 1-row aggregate instead)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w_cust = Window.partitionBy("o_custkey")
    w_all = Window.partitionBy()
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.round(
            F.col("o_totalprice") / F.sum("o_totalprice").over(w_cust), 6
        ).alias("share_of_customer"),
        F.round(
            F.col("o_totalprice") / F.sum("o_totalprice").over(w_all), 6
        ).alias("share_of_total"),
    )


@query(
    "fn_bit_ops",
    group="scalars",
    oracle="""
SELECT event_id,
       event_id & 255 AS low_byte,
       event_id >> 8 AS high_bits,
       xor(event_id, 12345) AS xored,
       event_id | 4096 AS with_flag,
       CAST(bit_count(CAST(event_id AS BIGINT)) AS INTEGER) AS popcount
FROM events
WHERE event_id < 5000
""",
)
def fn_bit_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface (mask/shift/xor/flag/popcount) — flag-field
    decoding and hash mixing; all JVM-side narrow maps."""
    e = _events(spark, sf_dir).filter(F.col("event_id") < 5000)
    return e.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.expr("shiftright(event_id, 8)").alias("high_bits"),
        F.col("event_id").bitwiseXOR(F.lit(12345)).alias("xored"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.bit_count("event_id").alias("popcount"),
    )


@query(
    "agg_skew_kurt",
    group="aggs",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         avg(l_quantity) AS mu,
         stddev_pop(l_quantity) AS sd,
         avg(l_quantity * l_quantity * l_quantity) AS m3raw
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((m3raw - 3 * mu * sd * sd - mu * mu * mu) / (sd * sd * sd), 6)
         AS skewness
FROM m
""",
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness per return flag, computed from raw moments
    (count/mean/stddev_pop/E[x³]) so the estimator definition is
    pinned by the formula itself, not by an engine's choice of
    sample-vs-population native skewness() — moment sums are one-pass
    and mergeable, the same partial-aggregation story as
    agg_corr_regr."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.avg(q).alias("mu"),
        F.stddev_pop(q).alias("sd"),
        F.avg(q * q * q).alias("m3raw"),
    )
    skew = (
        F.col("m3raw")
        - 3 * F.col("mu") * F.col("sd") * F.col("sd")
        - F.col("mu") * F.col("mu") * F.col("mu")
    ) / (F.col("sd") * F.col("sd") * F.col("sd"))
    return m.select("l_returnflag", "n", F.round(skew, 6).alias("skewness"))


@query(
    "llm_sample_stratified",
    group="llm_ext",
    oracle="""
WITH tagged AS (
  SELECT doc_id, lang,
         (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
         AS bucket
  FROM documents
)
SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM tagged
WHERE bucket < 26
GROUP BY lang
""",
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% stratified sample per language via md5-digit
    bucketing of the stable doc_id (the same engine-independent trick
    as llm_split_hash: identical membership on any engine, any run,
    any cluster size — which `sample(fraction, seed)` cannot give).
    A narrow map + small agg; at scale the sample predicate pushes
    into the scan of a bucket-partitioned layout."""
    d = load_table(spark, sf_dir, "documents")
    hexd = "0123456789abcdef"
    bucket = (
        (F.expr(f"instr('{hexd}', substring(md5(CAST(doc_id AS STRING)), 1, 1))") - 1)
        * 16
        + (F.expr(f"instr('{hexd}', substring(md5(CAST(doc_id AS STRING)), 2, 1))") - 1)
    )
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 26)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@query(
    "wl_ab_test_stats",
    group="workload",
    oracle=f"""
WITH assigned AS (
  SELECT event_type, value,
         CASE WHEN (instr('0123456789abcdef',
                          substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant
  FROM {EVENTS_V} e
), stats AS (
  SELECT event_type, variant, count(*) AS n, avg(value) AS mean_v,
         var_samp(value) AS var_v
  FROM assigned GROUP BY event_type, variant
)
SELECT a.event_type,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       round(a.mean_v, 6) AS mean_a, round(b.mean_v, 6) AS mean_b,
       round((a.mean_v - b.mean_v)
             / sqrt(a.var_v / a.n + b.var_v / b.n), 4) AS welch_z
FROM stats a JOIN stats b
  ON a.event_type = b.event_type AND a.variant = 'A' AND b.variant = 'B'
ORDER BY a.event_type
""",
)
def wl_ab_test_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assign to variants by the md5
    hash of their stable id (deterministic, engine-portable — the
    production property: a user keeps their variant across sessions,
    engines, and reprocessing), then per-metric Welch z-scores
    compare the arms.  One aggregation computes both arms' moments;
    the self-join that pairs A with B is over a 10-row frame.  The
    z-scores land near 0 on the uniform fixture — the SHAPE
    (deterministic assignment + single-pass moments + paired
    readout) is the operator."""
    e = _events(spark, sf_dir)
    hexd = "0123456789abcdef"
    variant = F.when(
        (F.expr(f"instr('{hexd}', substring(md5(CAST(user_id AS STRING)), 1, 1))") - 1)
        % 2
        == 0,
        "A",
    ).otherwise("B")
    stats = (
        e.select("event_type", "value", variant.alias("variant"))
        .groupBy("event_type", "variant")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mean_v"),
            F.var_samp("value").alias("var_v"),
        )
    )
    a = stats.filter(F.col("variant") == "A").select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("mean_v").alias("mean_a_raw"),
        F.col("var_v").alias("var_a"),
    )
    b = stats.filter(F.col("variant") == "B").select(
        F.col("event_type").alias("b_event_type"),
        F.col("n").alias("n_b"),
        F.col("mean_v").alias("mean_b_raw"),
        F.col("var_v").alias("var_b"),
    )
    z = (F.col("mean_a_raw") - F.col("mean_b_raw")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return (
        a.join(b, a.event_type == b.b_event_type)
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.round("mean_a_raw", 6).alias("mean_a"),
            F.round("mean_b_raw", 6).alias("mean_b"),
            F.round(z, 4).alias("welch_z"),
        )
        .orderBy("event_type")
    )


@query(
    "wl_mad_anomaly",
    group="workload",
    oracle=f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS median_v
  FROM {EVENTS_V} e GROUP BY event_type
), mad AS (
  SELECT e.event_type, m.median_v,
         quantile_cont(abs(e.value - m.median_v), 0.5) AS mad_v
  FROM {EVENTS_V} e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type, m.median_v
)
SELECT e.event_type,
       round(d.median_v, 6) AS median_v,
       round(d.mad_v, 6) AS mad_v,
       CAST(sum(CASE WHEN abs(e.value - d.median_v)
                          > 3 * 1.4826 * d.mad_v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM {EVENTS_V} e JOIN mad d ON e.event_type = d.event_type
GROUP BY e.event_type, d.median_v, d.mad_v
ORDER BY e.event_type
""",
)
def wl_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    estimator that survives the very outliers it hunts (mean/stddev
    z-scores get dragged by the anomaly; medians don't).  Three
    passes, each against a broadcast of the previous 5-row result:
    per-series median, then MAD (median of absolute deviations),
    then the 3σ-equivalent count using the 1.4826 normal-consistency
    factor.  At 100 TB the exact medians come from the same sorted
    per-group state as any exact percentile; the streaming variant
    would swap in approx_percentile."""
    e = _events(spark, sf_dir)
    med = e.groupBy(F.col("event_type").alias("m_event_type")).agg(
        F.percentile("value", F.lit(0.5)).alias("median_v")
    )
    mad = (
        e.join(F.broadcast(med), e.event_type == F.col("m_event_type"))
        .groupBy(F.col("event_type").alias("d_event_type"), "median_v")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("median_v")), F.lit(0.5)).alias(
                "mad_v"
            )
        )
    )
    return (
        e.join(F.broadcast(mad), e.event_type == F.col("d_event_type"))
        .groupBy("event_type", "median_v", "mad_v")
        .agg(
            F.sum(
                (
                    F.abs(F.col("value") - F.col("median_v"))
                    > 3 * 1.4826 * F.col("mad_v")
                ).cast("bigint")
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            F.round("median_v", 6).alias("median_v"),
            F.round("mad_v", 6).alias("mad_v"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


@query(
    "agg_grouping_id",
    group="aggs",
    oracle="""
SELECT coalesce(o_orderstatus, '(all)') AS status,
       coalesce(o_orderpriority, '(all)') AS priority,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
       CAST(grouping_id(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY gid, status, priority
""",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() / grouping_id() metadata over a CUBE — the ONLY
    sound way to tell a subtotal row from a natural NULL in the
    grouped column (coalescing to '(all)' without the grouping bit
    silently merges the two).  Both engines assign identical bit
    positions (leftmost column = most significant bit), which this
    query pins.  Zero extra cost at scale: the bits ride the same
    partial-aggregate expansion the cube already does."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "g_status",
            "g_priority",
            "gid",
            "n_orders",
        )
        .orderBy("gid", "status", "priority")
    )


@query(
    "wl_pareto_8020",
    group="workload",
    oracle="""
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS revenue
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, o_custkey ASC
                            ROWS UNBOUNDED PRECEDING) AS running,
         sum(revenue) OVER () AS total,
         row_number() OVER (ORDER BY revenue DESC, o_custkey ASC) AS rnk
  FROM rev
)
SELECT CAST(max(rnk) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN running < 0.8 * total THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS n_top_for_80pct,
       round((sum(CASE WHEN running < 0.8 * total THEN 1 ELSE 0 END) + 1.0)
             / max(rnk), 4) AS top_share_of_base
FROM ranked
""",
)
def wl_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) readout: how many top customers
    cover 80% of revenue, and what share of the base they are.  A
    per-customer aggregate, one ordered running-sum window, and a
    3-column scalar summary; the running share is a sequential fold
    in rank order so both engines cross the 0.8 boundary on the
    identical partial sum.  The global window is |customers|-sized —
    fine for a dimension; at raw-fact scale the same readout comes
    off the pre-aggregated revenue rollup."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
    w_run = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rnk = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey").asc())
    ranked = rev.select(
        F.sum("revenue").over(w_run).alias("running"),
        F.sum("revenue").over(w_all).alias("total"),
        F.row_number().over(w_rnk).alias("rnk"),
    )
    below = F.sum((F.col("running") < 0.8 * F.col("total")).cast("bigint"))
    return ranked.agg(
        F.max("rnk").alias("n_customers"),
        (below + 1).alias("n_top_for_80pct"),
        F.round((below + 1.0) / F.max("rnk"), 4).alias("top_share_of_base"),
    )


@query(
    "fn_url_normalize",
    group="scalars",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         concat(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END, '://',
                CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END,
                '.example.', lang,
                CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
                '/docs/', CAST(doc_id % 500 AS VARCHAR),
                CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
                '?',
                CASE WHEN doc_id % 2 = 0
                     THEN concat('ref=', lang, '&utm_source=feed&page=',
                                 CAST(doc_id % 7 AS VARCHAR))
                     ELSE concat('page=', CAST(doc_id % 7 AS VARCHAR),
                                 '&ref=', lang) END) AS url
  FROM documents WHERE doc_id < 5000
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^[a-zA-Z]+://([^/?]+)', 1)) AS hostport,
         regexp_extract(url, '^[a-zA-Z]+://[^/?]+([^?]*)', 1) AS path,
         regexp_extract(url, '\\?(.*)$', 1) AS qs
  FROM urls
), canon AS (
  SELECT doc_id,
         concat('https://',
                regexp_replace(hostport, ':443$', ''),
                regexp_replace(path, '/$', ''),
                '?',
                array_to_string(
                  list_sort(list_filter(string_split(qs, '&'),
                                        p -> p NOT LIKE 'utm_%')), '&'))
           AS canonical_url
  FROM parts
)
SELECT canonical_url,
       count(*) AS n_variants,
       min(doc_id) AS min_doc
FROM canon GROUP BY canonical_url
""",
)
def fn_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the web-crawl dedup key: lowercase
    scheme+host, strip the default :443 port and trailing slash, drop
    utm_* tracking params, SORT the remaining query params; grouping
    by the canonical form collapses the case/port/param-order/tracking
    variants of the same resource (the synthetic corpus plants all
    four variant classes via doc_id residues).

    Scale shape: pure narrow map (regex extracts + array
    filter/sort/join on short param lists — engine-portable, no UDF)
    into one hash agg on the canonical key; at 100 TB this is the
    map-side normalize every crawler runs before llm_dedup_exact."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5000)
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".example."),
        F.col("lang"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        (F.col("doc_id") % 500).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("ref="),
                F.col("lang"),
                F.lit("&utm_source=feed&page="),
                (F.col("doc_id") % 7).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("page="),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("&ref="),
                F.col("lang"),
            )
        ),
    )
    parts = d.select("doc_id", url.alias("url")).select(
        "doc_id",
        F.lower(F.regexp_extract("url", r"^[a-zA-Z]+://([^/?]+)", 1)).alias(
            "hostport"
        ),
        F.regexp_extract("url", r"^[a-zA-Z]+://[^/?]+([^?]*)", 1).alias("path"),
        F.regexp_extract("url", r"\?(.*)$", 1).alias("qs"),
    )
    canonical = F.concat(
        F.lit("https://"),
        F.regexp_replace("hostport", ":443$", ""),
        F.regexp_replace("path", "/$", ""),
        F.lit("?"),
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split("qs", "&"), lambda p: ~p.startswith("utm_")
                )
            ),
            "&",
        ),
    )
    return (
        parts.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_variants"), F.min("doc_id").alias("min_doc"))
    )


@query(
    "wl_window_funnel",
    group="workload",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM {EVENTS_V} e
), v AS (SELECT user_id, t FROM ev WHERE event_type = 'view'),
c AS (SELECT user_id, t FROM ev WHERE event_type = 'click'),
p AS (SELECT user_id, t FROM ev WHERE event_type = 'purchase'),
s2 AS (
  SELECT v.user_id, v.t AS t1, min(c.t) AS t2
  FROM v LEFT JOIN c
    ON c.user_id = v.user_id AND c.t > v.t AND c.t <= v.t + 3600000000
  GROUP BY v.user_id, v.t
), s3 AS (
  SELECT s2.user_id, s2.t1, s2.t2, min(p.t) AS t3
  FROM s2 LEFT JOIN p
    ON p.user_id = s2.user_id AND s2.t2 IS NOT NULL
   AND p.t > s2.t2 AND p.t <= s2.t1 + 3600000000
  GROUP BY s2.user_id, s2.t1, s2.t2
), depth AS (
  SELECT user_id,
         max(CASE WHEN t3 IS NOT NULL THEN 3
                  WHEN t2 IS NOT NULL THEN 2
                  ELSE 1 END) AS depth
  FROM s3 GROUP BY user_id
)
SELECT depth, count(*) AS n_users FROM depth GROUP BY depth ORDER BY depth
""",
)
def wl_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-``windowFunnel``-style strict-order funnel: per
    user, the deepest view → click → purchase chain where each next
    stage lands strictly after the previous one and the WHOLE chain
    fits inside 1 hour of the anchoring view event (``wl_funnel`` is
    the unwindowed first-timestamp variant; this is the
    time-boxed per-anchor one).

    Scale shape: two left joins that are hash-equi-joins on user_id
    with residual range predicates — never a time-domain explode or a
    BNLJ; per-user event counts bound the fan-out.  Timestamps are
    epoch MICROSECOND integers on both engines, so chain comparisons
    are exact."""
    W_US = 3_600_000_000
    e = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        # ts is TIMESTAMP_NTZ; the session TZ is pinned UTC so the
        # cast to instant is lossless and engine-identical
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    v = e.filter(F.col("event_type") == "view").select("user_id", F.col("t").alias("t1"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("t").alias("ct")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("t").alias("pt")
    )
    s2 = (
        v.join(
            c,
            (F.col("c_uid") == F.col("user_id"))
            & (F.col("ct") > F.col("t1"))
            & (F.col("ct") <= F.col("t1") + F.lit(W_US)),
            "left",
        )
        .groupBy("user_id", "t1")
        .agg(F.min("ct").alias("t2"))
    )
    s3 = (
        s2.join(
            p,
            (F.col("p_uid") == F.col("user_id"))
            & F.col("t2").isNotNull()
            & (F.col("pt") > F.col("t2"))
            & (F.col("pt") <= F.col("t1") + F.lit(W_US)),
            "left",
        )
        .groupBy("user_id", "t1", "t2")
        .agg(F.min("pt").alias("t3"))
    )
    depth = s3.groupBy("user_id").agg(
        F.max(
            F.when(F.col("t3").isNotNull(), F.lit(3))
            .when(F.col("t2").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
        ).alias("depth")
    )
    return (
        depth.groupBy("depth").agg(F.count("*").alias("n_users")).orderBy("depth")
    )


@query(
    "wl_churn_rate",
    group="workload",
    oracle=f"""
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM {EVENTS_V} e
), days AS (
  SELECT DISTINCT day FROM activity
), paired AS (
  SELECT a.day, a.user_id,
         CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS churned
  FROM activity a
  LEFT JOIN activity b
    ON b.user_id = a.user_id
   AND b.day = CAST(a.day + INTERVAL 1 DAY AS DATE)
  WHERE EXISTS (SELECT 1 FROM days d
                WHERE d.day = CAST(a.day + INTERVAL 1 DAY AS DATE))
)
SELECT day, count(*) AS active_users,
       CAST(sum(churned) AS BIGINT) AS churned_users,
       round(CAST(sum(churned) AS DOUBLE) / count(*), 6) AS churn_rate
FROM paired GROUP BY day ORDER BY day
""",
)
def wl_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily churn: of the users active on day d, the fraction with
    NO activity on day d+1 (days with no successor day in the data
    are excluded — their churn is right-censored, the classic
    subscription-analytics correction; the fixture spans ~30 days so
    the day grain is the meaningful one).

    Scale shape: activity is one DISTINCT on (user, day) — rows
    collapse to user-days before any join — then a self
    LEFT-equi-join on (user, day+1) and an integer aggregate; the
    day lattice used for censoring is a broadcast semi-join.  Only
    integer counts aggregate, one final division."""
    e = _events(spark, sf_dir)
    activity = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    days = activity.select("day").distinct()
    nxt = activity.select(
        F.col("user_id").alias("b_uid"),
        F.col("day").alias("b_day"),
    )
    paired = (
        activity.join(
            F.broadcast(days.select(F.col("day").alias("d_ok"))),
            F.date_add(F.col("day"), 1) == F.col("d_ok"),
            "left_semi",
        )
        .join(
            nxt,
            (F.col("b_uid") == F.col("user_id"))
            & (F.col("b_day") == F.date_add(F.col("day"), 1)),
            "left",
        )
        .select(
            "day",
            F.when(F.col("b_uid").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
                "churned"
            ),
        )
    )
    return (
        paired.groupBy("day")
        .agg(
            F.count("*").alias("active_users"),
            F.sum("churned").alias("churned_users"),
            F.round(
                F.sum("churned").cast("double") / F.count("*"), 6
            ).alias("churn_rate"),
        )
        .orderBy("day")
    )
