"""Data-engineering surface: slowly-changing dimensions, CDC apply,
bloom-pruned joins, data-quality auditing, and mergeable frequency
sketches.

These are the operations a warehouse/lakehouse team runs AROUND the
analytics: maintaining dimension history (SCD2), folding a change log
into a snapshot (CDC), pruning a fact scan with a membership sketch
before the join (the hand-rolled equivalent of Spark's runtime bloom
filters), continuously asserting table health (constraint +
referential audits), and estimating frequencies with bounded-memory
mergeable sketches (count-min, Misra-Gries).

Determinism notes: every tier-A op here avoids engine-specific
hashing in the RESULT — the bloom filter only prunes (the exact semi
join restores precision, so xxhash64 never leaks into the output),
and the count-min sketch hashes through md5 hex digits, which DuckDB
and Spark compute identically.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg_telemetry_spark.registry import query
from pg_telemetry_spark.tables import load_table, respread_if_narrow

EVENTS_V = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    "value, props FROM events)"
)


# --------------------------------------------------------------------------
# SCD2 / CDC
# --------------------------------------------------------------------------


@query(
    "wl_scd2_history",
    group="workload",
    oracle="""
WITH versions AS (
  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
         1 AS version
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', round(o_totalprice * 1.1, 6), 2
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 'X', round(o_totalprice * 1.2, 6), 3
  FROM orders WHERE o_orderkey % 20 = 0
)
SELECT o_orderkey, o_orderstatus, o_totalprice, version AS valid_from,
       coalesce(lead(version) OVER (PARTITION BY o_orderkey
                                    ORDER BY version) - 1, 999999) AS valid_to,
       CAST(lead(version) OVER (PARTITION BY o_orderkey
                                ORDER BY version) IS NULL AS INTEGER) AS is_current
FROM versions
""",
)
def wl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history: two deterministic change waves
    land on the orders snapshot and every key keeps its FULL version
    chain with [valid_from, valid_to] ranges and a current flag —
    unlike SCD1 (wl_upsert_scd1) nothing is overwritten.  The chain
    is stitched by one lead() window per key; at 100 TB the window
    partitions by the dimension key, so it shuffles once on the same
    key the merge already hashed on — history maintenance costs one
    extra window over the merged frame, not a rescan."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.lit(1).alias("version"),
    )
    wave2 = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 1.1, 6).alias("o_totalprice"),
            F.lit(2).alias("version"),
        )
    )
    wave3 = (
        o.filter(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 1.2, 6).alias("o_totalprice"),
            F.lit(3).alias("version"),
        )
    )
    versions = base.unionByName(wave2).unionByName(wave3)
    w = Window.partitionBy("o_orderkey").orderBy("version")
    nxt = F.lead("version").over(w)
    return versions.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("version").alias("valid_from"),
        F.coalesce(nxt - 1, F.lit(999999)).alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


@query(
    "wl_cdc_apply",
    group="workload",
    oracle="""
WITH changelog AS (
  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
         'I' AS op, 1 AS seq
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus, round(o_totalprice + 5.0, 2), 'U', 2
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2), 'D', 3
  FROM orders WHERE o_orderkey % 13 = 0
), latest AS (
  SELECT * FROM changelog
  QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1
)
SELECT o_orderstatus, count(*) AS n_rows,
       round(sum(o_totalprice), 2) AS sum_totalprice
FROM latest WHERE op <> 'D'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def wl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log fold: an insert/update/delete stream collapses
    to the live snapshot by latest-sequence-wins per key, tombstones
    dropped AFTER picking the winner (a delete must beat the earlier
    update, not be filtered before it loses to one).  One window
    shuffle on the key; the snapshot aggregate rides the same
    partitioning.  This is the batch core of every merge-on-read
    table format."""
    o = load_table(spark, sf_dir, "orders")
    ins = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    upd = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") + 5.0, 2).alias("o_totalprice"),
            F.lit("U").alias("op"),
            F.lit(2).alias("seq"),
        )
    )
    dels = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.lit("D").alias("op"),
            F.lit(3).alias("seq"),
        )
    )
    log = ins.unionByName(upd).unionByName(dels)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Bloom-pruned join
# --------------------------------------------------------------------------

_BLOOM_BITS = 1 << 16  # 64 Ki bits = 1 Ki longs ≈ 8 KB broadcast
_BLOOM_SEEDS = (17, 41, 97)


def _bloom_positions(col: str) -> list:
    return [
        F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(_BLOOM_BITS))
        for s in _BLOOM_SEEDS
    ]


@query(
    "join_bloom_prune",
    group="joins",
    oracle="""
SELECT count(*) AS n_lines,
       round(coalesce(sum(l.l_extendedprice * (1 - l.l_discount)), 0.0), 2) AS revenue
FROM lineitem l
WHERE l.l_orderkey IN (SELECT o_orderkey FROM orders
                       WHERE o_orderpriority = '1-URGENT'
                         AND o_orderdate >= TIMESTAMP '2001-01-01')
""",
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with a hand-rolled bloom-filter pre-prune: the
    selective dim side (urgent 2001 orders) aggregates into an 8 KB
    bitmap (map word-index → OR-ed 64-bit word, k=3 xxhash64 probes),
    which broadcasts and filters the fact scan BEFORE the exact
    left-semi join.  False positives are removed by the join, so the
    bloom never affects the result — only the volume entering the
    shuffle.  This is precisely what Spark's runtime row-level
    filtering injects for you on a real cluster; spelled out as an
    operator so the pruning is available on engines/builds where the
    rule doesn't fire (and so the plan shows the mechanics: at 100 TB
    the shuffle input drops by the dim's selectivity, here ~98%)."""
    dim = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")

    pos = F.explode(F.array(*_bloom_positions("o_orderkey"))).alias("pos")
    words = (
        dim.select(pos)
        .select(
            F.expr("CAST(pos DIV 64 AS INT)").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "word"))).alias("bf")
    )

    might_contain = None
    for s in _BLOOM_SEEDS:
        p = f"pmod(xxhash64(l_orderkey, {s}), {_BLOOM_BITS})"
        hit = F.expr(
            f"coalesce(element_at(bf, CAST({p} DIV 64 AS INT)), 0L)"
            f" & shiftleft(1L, CAST({p} % 64 AS INT)) != 0"
        )
        might_contain = hit if might_contain is None else (might_contain & hit)

    pruned = li.join(F.broadcast(bloom)).filter(might_contain).drop("bf")
    return (
        pruned.join(
            dim.select("o_orderkey"), pruned.l_orderkey == F.col("o_orderkey"), "left_semi"
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.coalesce(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Data-quality audits
# --------------------------------------------------------------------------


@query(
    "dq_constraints",
    group="dq",
    oracle="""
SELECT 'orders_pk_unique' AS check_name,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
FROM orders
UNION ALL
SELECT 'orders_custkey_complete',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_status_domain',
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_price_positive',
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_date_in_range',
       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                       OR o_orderdate > TIMESTAMP '2030-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
ORDER BY check_name
""",
)
def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative table-health audit (Deequ-style): primary-key
    uniqueness, completeness, value domain, range — each emitted as a
    (check_name, violations) row.  All five checks fold into ONE
    aggregation over ONE scan (count_distinct included), then unpivot
    via stack — the audit costs a single pass however many checks are
    registered, which is what makes running it on every ingest batch
    affordable at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        (F.count("*") - F.count_distinct("o_orderkey")).alias("orders_pk_unique"),
        F.sum(F.col("o_custkey").isNull().cast("bigint")).alias(
            "orders_custkey_complete"
        ),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("bigint")).alias(
            "orders_status_domain"
        ),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias(
            "orders_price_positive"
        ),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp_ntz"))
                | (F.col("o_orderdate") > F.lit("2030-01-01").cast("timestamp_ntz"))
            ).cast("bigint")
        ).alias("orders_date_in_range"),
    )
    checks = [
        "orders_pk_unique",
        "orders_custkey_complete",
        "orders_status_domain",
        "orders_price_positive",
        "orders_date_in_range",
    ]
    stack = ", ".join(f"'{c}', {c}" for c in checks)
    return agg.select(
        F.expr(f"stack({len(checks)}, {stack}) AS (check_name, violations)")
    ).orderBy("check_name")


@query(
    "dq_referential",
    group="dq",
    oracle="""
SELECT 'lineitem_orderkey' AS fk, CAST(count(*) AS BIGINT) AS orphans
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem_partkey', CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
UNION ALL
SELECT 'lineitem_suppkey', CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
UNION ALL
SELECT 'orders_custkey', CAST(count(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
ORDER BY fk
""",
)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign
    key in the star (lineitem→orders/part/supplier, orders→customer)
    as left-anti join counts.  The dimension sides broadcast, so each
    check is a scan + broadcast-anti + count with no wide shuffle;
    the three lineitem checks share one cached scan under the
    session table cache.  Zero rows orphaned is the expected fixture
    answer — the check VALUE is the audit trail, the check SHAPE is
    the operator under test."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    checks = [
        (
            "lineitem_orderkey",
            li.join(
                F.broadcast(o.select("o_orderkey")),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ),
        ),
        (
            "lineitem_partkey",
            li.join(
                F.broadcast(load_table(spark, sf_dir, "part").select("p_partkey")),
                li.l_partkey == F.col("p_partkey"),
                "left_anti",
            ),
        ),
        (
            "lineitem_suppkey",
            li.join(
                F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey")),
                li.l_suppkey == F.col("s_suppkey"),
                "left_anti",
            ),
        ),
        (
            "orders_custkey",
            o.join(
                F.broadcast(load_table(spark, sf_dir, "customer").select("c_custkey")),
                o.o_custkey == F.col("c_custkey"),
                "left_anti",
            ),
        ),
    ]
    out = None
    for name, df in checks:
        one = df.agg(F.count("*").alias("orphans")).select(
            F.lit(name).alias("fk"), "orphans"
        )
        out = one if out is None else out.unionByName(one)
    return out.orderBy("fk")


@query(
    "dq_entropy_chi2",
    group="dq",
    oracle=f"""
WITH cells AS (
  SELECT event_type, user_id % 4 AS cohort, CAST(count(*) AS DOUBLE) AS n
  FROM {EVENTS_V} e GROUP BY event_type, user_id % 4
), tot AS (
  SELECT sum(n) AS n_total FROM cells
), rowt AS (
  SELECT event_type, sum(n) AS n_row FROM cells GROUP BY event_type
), colt AS (
  SELECT cohort, sum(n) AS n_col FROM cells GROUP BY cohort
), chi AS (
  SELECT sum(power(c.n - r.n_row * ct.n_col / t.n_total, 2)
             / (r.n_row * ct.n_col / t.n_total)) AS chi2
  FROM cells c
  JOIN rowt r ON c.event_type = r.event_type
  JOIN colt ct ON c.cohort = ct.cohort
  CROSS JOIN tot t
), ent AS (
  SELECT -sum((n_row / t.n_total) * ln(n_row / t.n_total)) AS entropy
  FROM rowt CROSS JOIN tot t
)
SELECT round(ent.entropy, 6) AS type_entropy_nats,
       round(chi.chi2, 4) AS chi2_type_x_cohort,
       12 AS dof
FROM ent CROSS JOIN chi
""",
)
def dq_entropy_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit primitives: Shannon entropy of the
    event-type marginal (nats) and the chi-squared independence
    statistic of event_type × user-cohort, both computed from ONE
    contingency aggregation — the cell counts are tiny (|types| ×
    |cohorts| = 20 rows), so the marginals, the expectation grid and
    both statistics are post-aggregation arithmetic on a broadcast-
    sized frame.  The formulas are pinned in SQL so any engine
    reproduces them bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.groupBy("event_type", (F.col("user_id") % 4).alias("cohort"))
        .agg(F.count("*").cast("double").alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("n_total"))
    rowt = cells.groupBy("event_type").agg(F.sum("n").alias("n_row"))
    colt = cells.groupBy("cohort").agg(F.sum("n").alias("n_col"))
    expected = F.col("n_row") * F.col("n_col") / F.col("n_total")
    chi = (
        cells.join(rowt, "event_type")
        .join(colt, "cohort")
        .join(F.broadcast(tot))
        .agg(F.sum(F.pow(F.col("n") - expected, 2) / expected).alias("chi2"))
    )
    ent = (
        rowt.join(F.broadcast(tot))
        .agg(
            (-F.sum((F.col("n_row") / F.col("n_total")) * F.log(F.col("n_row") / F.col("n_total"))))
            .alias("entropy")
        )
    )
    return (
        ent.join(F.broadcast(chi))
        .select(
            F.round("entropy", 6).alias("type_entropy_nats"),
            F.round("chi2", 4).alias("chi2_type_x_cohort"),
            F.lit(12).alias("dof"),
        )
    )


# --------------------------------------------------------------------------
# Frequency sketches
# --------------------------------------------------------------------------

_CMS_W = 32
_CMS_SEEDS = (3, 11, 29, 53)


def _cms_bucket_sql(seed: int) -> str:
    """Engine-portable md5-derived bucket in [0, _CMS_W): identical
    text evaluates identically in Spark SQL and DuckDB (both md5 hex
    and instr are shared), so the sketch — and thus the estimate — is
    bit-reproducible across engines."""
    h = f"md5(concat('{seed}:', event_type))"
    d = "0123456789abcdef"
    return (
        f"((instr('{d}', substring({h}, 1, 1)) - 1) * 16"
        f" + (instr('{d}', substring({h}, 2, 1)) - 1)) % {_CMS_W}"
    )


@query(
    "agg_cms_freq",
    group="aggs",
    oracle=f"""
WITH sketch AS (
  SELECT seed, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    {" UNION ALL ".join(
        f"SELECT {seed} AS seed, {_cms_bucket_sql(seed)} AS bucket FROM {EVENTS_V} e"
        for seed in _CMS_SEEDS
    )}
  ) hashed
  GROUP BY seed, bucket
), probes AS (
  SELECT DISTINCT event_type FROM {EVENTS_V} e
), est AS (
  SELECT p.event_type,
         min(s.cnt) AS est_count
  FROM probes p
  JOIN sketch s
    ON s.bucket = CASE s.seed
         {" ".join(f"WHEN {seed} THEN {_cms_bucket_sql(seed).replace('event_type', 'p.event_type')}" for seed in _CMS_SEEDS)}
       END
  GROUP BY p.event_type
), exact AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_count
  FROM {EVENTS_V} e GROUP BY event_type
)
SELECT e.event_type, e.exact_count, s.est_count,
       CAST(s.est_count >= e.exact_count AS INTEGER) AS no_undercount
FROM exact e JOIN est s ON e.event_type = s.event_type
ORDER BY e.event_type
""",
)
def agg_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, fully deterministic:
    d=4 md5-derived hash rows × w=32 buckets accumulate per-(seed,
    bucket) counts in one map-combined aggregation (the sketch is a
    128-cell table — mergeable across partitions, batches, or days by
    simple addition, which is the whole point at 100 TB).  Point
    estimates take the min across rows; w is deliberately small so
    collisions actually occur and the one-sided error (est ≥ exact,
    never under) is exercised, which the `no_undercount` column
    asserts per key.  Exact counts ride along for the delta."""
    e = load_table(spark, sf_dir, "events")
    # one scan, 4 sketch rows per event via inline explode — the
    # unionByName form re-read the events parquet once PER SEED
    hashed = e.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(seed).alias("seed"),
                        F.expr(_cms_bucket_sql(seed)).alias("bucket"),
                    )
                    for seed in _CMS_SEEDS
                ]
            )
        )
    )
    sketch = hashed.groupBy("seed", "bucket").agg(F.count("*").alias("cnt"))

    probes = e.select("event_type").distinct()
    probe_buckets = None
    for seed in _CMS_SEEDS:
        one = probes.select(
            "event_type",
            F.lit(seed).alias("seed"),
            F.expr(_cms_bucket_sql(seed)).alias("bucket"),
        )
        probe_buckets = one if probe_buckets is None else probe_buckets.unionByName(one)
    est = (
        probe_buckets.join(sketch, ["seed", "bucket"])
        .groupBy("event_type")
        .agg(F.min("cnt").alias("est_count"))
    )
    exact = e.groupBy("event_type").agg(F.count("*").alias("exact_count"))
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_count",
            "est_count",
            (F.col("est_count") >= F.col("exact_count")).cast("int").alias(
                "no_undercount"
            ),
        )
        .orderBy("event_type")
    )


@query("agg_heavy_hitters_mg", group="aggs", tier="C")
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters with k=4 counters over a skewed key
    (two thirds of events collapse onto one synthetic 'hot' key; the
    rest spread across ~150 user keys).  Each partition summarizes
    its rows into ≤ k-1 (item, weight) counters via an Arrow-batched
    mapInPandas pass — bounded memory regardless of partition size —
    and the per-partition counters (≤ (k-1) × partitions rows) merge
    through one tiny final Misra-Gries fold on a single partition.
    Guarantee (unit-tested): any key with true frequency > n/k
    survives, and every estimate is within n/k of truth.  Rows-only
    (tier C): counter weights depend on partitioning, which is the
    documented nature of the sketch; the SURVIVOR SET for the skewed
    fixture is stable and the unit test pins it."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        F.when(F.col("event_id") % 3 != 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
        .alias("item")
    )

    k = 4

    def mg_fold(counters: dict, item: str, weight: int) -> None:
        if item in counters:
            counters[item] += weight
        elif len(counters) < k - 1:
            counters[item] = weight
        else:
            dec = min(weight, min(counters.values()))
            for key in list(counters):
                counters[key] -= dec
                if counters[key] <= 0:
                    del counters[key]
            if weight > dec:
                counters[item] = weight - dec

    def partition_summary(batches):
        counters: dict = {}
        for pdf in batches:
            for item in pdf["item"]:
                mg_fold(counters, item, 1)
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "weight": list(counters.values())}
            )

    def merge_summaries(batches):
        counters: dict = {}
        for pdf in batches:
            for item, weight in zip(pdf["item"], pdf["weight"]):
                mg_fold(counters, item, int(weight))
        yield pd.DataFrame(
            {"item": list(counters), "weight": list(counters.values())}
        )

    schema = "item string, weight long"
    partials = keyed.mapInPandas(partition_summary, schema=schema)
    return (
        partials.coalesce(1)
        .mapInPandas(merge_summaries, schema=schema)
        .orderBy(F.col("weight").desc(), F.col("item"))
    )


# --------------------------------------------------------------------------
# Embedding quantization
# --------------------------------------------------------------------------


@query(
    "llm_embed_quantize",
    group="llm_ext",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings WHERE vec_id < 500
), scaled AS (
  SELECT vec_id,
         list_aggregate(list_transform(vec, x -> abs(x)), 'max') / 127.0 AS scale,
         vec
  FROM v
)
SELECT vec_id, round(scale, 9) AS scale,
       CAST(list_aggregate(list_transform(vec,
              x -> CAST(floor(x / scale + 0.5) AS BIGINT)), 'sum') AS BIGINT)
         AS qsum,
       CAST(list_aggregate(list_transform(vec,
              x -> CAST(abs(CAST(floor(x / scale + 0.5) AS BIGINT)) AS BIGINT)),
            'max') AS BIGINT) AS qmax_abs
FROM scaled
ORDER BY vec_id
""",
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the storage/serving
    prep step for large ANN indexes: 4× smaller vectors, SIMD int8
    dot products): per-vector scale = max|x|/127, elements mapped by
    floor(x/scale + 0.5) — written as floor(+0.5) instead of round()
    because engines disagree on round-half semantics but agree on
    floor.  A pure narrow map over the vector column (zero shuffle);
    emitted as per-vector checksums (qsum, qmax_abs) plus the scale
    so the oracle pins every element without hashing 64-wide rows.
    qmax_abs ≤ 127 by construction — the unit test asserts the int8
    range survives the trip."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    vec = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    v = emb.select("vec_id", vec.alias("vec"))
    scaled = v.select(
        "vec_id",
        (F.expr("array_max(transform(vec, x -> abs(x)))") / 127.0).alias("scale"),
        "vec",
    )
    q = "CAST(floor(x / scale + 0.5) AS BIGINT)"
    return scaled.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.expr(
            f"CAST(aggregate(transform(vec, x -> {q}), 0L, (a, b) -> a + b) AS BIGINT)"
        ).alias("qsum"),
        F.expr(
            f"CAST(array_max(transform(vec, x -> abs({q}))) AS BIGINT)"
        ).alias("qmax_abs"),
    ).orderBy("vec_id")


@query(
    "agg_bitmap_distinct",
    group="aggs",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS nd_users
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates — the mergeable
    exact alternative to HLL (agg_hll_rollup) when the key domain is
    dense integers: values bucket into 32k-bit bitmaps
    (bitmap_bucket_number / bitmap_bit_position), each (group,
    bucket) folds to one bitmap via bitmap_construct_agg, and counts
    sum across buckets — buckets partition the value space, so the
    sum is exact.  Unlike count(DISTINCT) the partial state is a
    fixed-size bitmap instead of a hash set of values, it merges
    with OR (pre-aggregable into rollup tables), and at 100 TB the
    shuffle carries |groups|×|buckets| bitmaps, not the raw keys.
    Oracle: plain count(DISTINCT) — the result must be identical."""
    e = load_table(spark, sf_dir, "events")
    partials = e.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    return (
        partials.groupBy("event_type")
        .agg(F.expr("sum(bitmap_count(bm))").alias("nd_users"))
        .orderBy("event_type")
    )


@query(
    "dq_benford",
    group="dq",
    oracle="""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0
), d AS (
  SELECT CAST(floor(cents / power(10, length(CAST(cents AS VARCHAR)) - 1))
              AS INT) AS digit
  FROM c
), g AS (
  SELECT digit, count(*) AS n FROM d GROUP BY digit
), tot AS (
  SELECT sum(n) AS t FROM g
), fr AS (
  SELECT digit, n, round(CAST(n AS DOUBLE) / t, 6) AS obs_frac,
         round(log10(1 + 1.0 / digit), 6) AS exp_frac, t
  FROM g, tot
)
SELECT digit, n, obs_frac, exp_frac,
       round(t * (obs_frac - exp_frac) * (obs_frac - exp_frac) / exp_frac, 6)
           AS chi2_term
FROM fr
""",
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals — the
    classic fabricated/corrupted-numeric-data detector (Benford 1938;
    standard in audit/DQ suites): observed first-significant-digit
    frequencies vs log10(1 + 1/d), with the per-digit chi-squared
    contribution.

    Determinism: the first digit comes from INTEGER arithmetic on
    exact cents (string-length decade, floor division — never
    log10(value), whose last-ulp could straddle a decade boundary
    differently per libm); obs/exp fractions are rounded to 6
    decimals BEFORE the chi2 term so both engines square identical
    doubles.  Shape at 100 TB: one map-side-combined hash agg to 9
    rows, then scalar math — the cheapest possible full-scan screen,
    and the scan prunes to the single projected column."""
    o = load_table(spark, sf_dir, "orders")
    c = o.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents")
    )
    d = c.select(
        F.floor(
            F.col("cents")
            / F.pow(F.lit(10.0), F.length(F.col("cents").cast("string")) - 1)
        )
        .cast("int")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(F.count("*").alias("n"))
    tot = g.agg(F.sum("n").alias("t"))
    fr = g.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("obs_frac"),
        F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias("exp_frac"),
        "t",
    )
    return fr.select(
        "digit",
        "n",
        "obs_frac",
        "exp_frac",
        F.round(
            F.col("t")
            * (F.col("obs_frac") - F.col("exp_frac"))
            * (F.col("obs_frac") - F.col("exp_frac"))
            / F.col("exp_frac"),
            6,
        ).alias("chi2_term"),
    )


@query(
    "dq_outlier_iqr",
    group="dq",
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       count(*) AS n_rows,
       round(q.q1, 6) AS q1,
       round(q.q3, 6) AS q3,
       count(*) FILTER (WHERE l.l_extendedprice
                              < q.q1 - 1.5 * (q.q3 - q.q1)) AS n_low,
       count(*) FILTER (WHERE l.l_extendedprice
                              > q.q3 + 1.5 * (q.q3 - q.q1)) AS n_high,
       min(l.l_orderkey) FILTER (WHERE l.l_extendedprice
                              > q.q3 + 1.5 * (q.q3 - q.q1)) AS min_high_order
FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
GROUP BY l.l_returnflag, q.q1, q.q3
""",
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per return flag: exact interpolated
    quartiles (quantile_cont parity), 1.5-IQR fences, per-group
    outlier counts below/above with a sample order key for triage.

    Scale shape: the quartiles come from rank-k selection, not from
    Spark's exact percentile aggregate — percentile buffers every
    value of a group inside one aggregation buffer (at sf10 that is
    20M doubles per returnflag, and it OOMed the 100x leg in both r9
    runs that hit it).  Round 11 replaced the r9 histogram-CDF (whose
    per-flag window still sorted ~all distinct prices through 3 task
    sorts — prices are near-unique doubles) with the two-level
    agg_weighted_median recipe: bucket price into 100-unit cells
    (~1000 cells over the [900, 105000] span), locate the cell
    holding each of quantile_cont's two row-ranks floor((n-1)*q)+1
    and +2 with a window over the TINY per-cell table, then sort only
    the straddling cells' rows (ties between equal prices cannot
    change the picked VALUE) and interpolate ``lo + frac*(hi-lo)``
    exactly.  The fence passes are unchanged: a BROADCAST 3-row join
    and one map-side counting aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    # A respread of the single-split lineitem scan would be HASH-SAFE
    # here (every aggregation is exact arithmetic and the quantile
    # picks are tie-insensitive) but was measured a structural
    # regression and reverted (optimization r17: 14 jobs / 26 tasks ->
    # 21 jobs / 395 tasks; the pin materialization plus 32-wide
    # near-empty stages cost more than the single-task map side saves
    # at this volume — guide §1.2, empirical loop wins).
    base = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.floor(F.col("l_extendedprice") / F.lit(100.0)).cast("long").alias(
            "cell"
        ),
    )
    cells = base.groupBy("l_returnflag", "cell").agg(
        F.count("*").alias("cnt")
    )
    wc = Window.partitionBy("l_returnflag").orderBy("cell")
    marked = cells.select(
        "l_returnflag",
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
        F.sum("cnt").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    targets = None
    for p, ptag in ((0.25, "q1"), (0.75, "q3")):
        for step, stag in ((1, "lo"), (2, "hi")):
            # 1-based row rank of quantile_cont's lower/upper element;
            # the 'hi' rank can exceed n at the top — then no cell
            # matches, the pick is NULL, and coalesce(v_hi, v_lo)
            # keeps the interpolation exact (frac is 0 there)
            k = (
                F.floor((F.col("n") - 1) * F.lit(p)).cast("bigint")
                + F.lit(step)
            )
            one = marked.filter(
                (F.col("offset") < k) & (k <= F.col("cum_end"))
            ).select(
                "l_returnflag",
                "cell",
                "offset",
                F.lit(f"{ptag}_{stag}").alias("tag"),
                k.alias("k"),
                "n",
            )
            targets = one if targets is None else targets.unionByName(one)
    wq = Window.partitionBy("l_returnflag", "tag").orderBy("l_extendedprice")
    picks = (
        base.join(F.broadcast(targets), ["l_returnflag", "cell"])
        .withColumn("rg", F.col("offset") + F.row_number().over(wq))
        .filter(F.col("rg") == F.col("k"))
        .groupBy("l_returnflag")
        .agg(
            F.max(
                F.when(F.col("tag") == "q1_lo", F.col("l_extendedprice"))
            ).alias("v1_lo"),
            F.max(
                F.when(F.col("tag") == "q1_hi", F.col("l_extendedprice"))
            ).alias("v1_hi"),
            F.max(
                F.when(F.col("tag") == "q3_lo", F.col("l_extendedprice"))
            ).alias("v3_lo"),
            F.max(
                F.when(F.col("tag") == "q3_hi", F.col("l_extendedprice"))
            ).alias("v3_hi"),
            F.max("n").alias("n"),
        )
    )

    def _interp(p: float, lo: str, hi: str) -> F.Column:
        rank = (F.col("n") - 1) * F.lit(p)
        frac = rank - F.floor(rank)
        return F.col(lo) + frac * (F.coalesce(F.col(hi), F.col(lo)) - F.col(lo))

    q = picks.select(
        "l_returnflag",
        _interp(0.25, "v1_lo", "v1_hi").alias("q1"),
        _interp(0.75, "v3_lo", "v3_hi").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo, hi = F.col("q1") - 1.5 * iqr, F.col("q3") + 1.5 * iqr
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_if(F.col("l_extendedprice") < lo).alias("n_low"),
            F.count_if(F.col("l_extendedprice") > hi).alias("n_high"),
            F.min(F.when(F.col("l_extendedprice") > hi, F.col("l_orderkey"))).alias(
                "min_high_order"
            ),
        )
        .select(
            "l_returnflag",
            "n_rows",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
            "n_low",
            "n_high",
            "min_high_order",
        )
    )


@query("agg_tdigest", group="aggs", tier="C")
def agg_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest percentile rollup (Dunning & Ertl 2019) over event
    values per event_type: per-Arrow-batch partial digests built
    map-side (mapInPandas, numpy kernel — no shuffle of raw values),
    merged per group behind ONE shuffle of centroid arrays (~2*delta
    doubles per partial, vs millions of raw rows), then p50/p95/p99
    interpolated from the merged digest.

    This is the MERGEABLE-sketch pattern (same family as
    agg_hll_rollup): at 100 TB the partial-digest table is a
    per-(group, partition) artifact that re-aggregates to any grain
    without re-reading raw data.  Tier C: the sketch is approximate
    by design; tests/test_units_tdigest.py pins rank error <= 0.01
    vs exact quantiles and exact-match on the count column."""
    import numpy as np
    import pandas as pd

    from pg_telemetry_spark.operators.tdigest import (
        merge_centroids,
        quantile,
    )

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    # Respread the single-split events scan before the Arrow kernel
    # (optimization r17, VERDICT r16 #4): the partial-digest build ran
    # on ONE core because the fixture file loads as one split, and the
    # table-level rebalance is blocked by the hash-parity invariant
    # for OTHER events consumers (plain double sums).  A query-local
    # respread is lawful HERE because t-digest is a mergeable sketch
    # with a tolerance contract (tier C: rank error <= 0.01 pinned in
    # tests/test_units_tdigest.py; counts exact under any
    # partitioning) — partial composition may shift estimates within
    # tolerance, never counts.  No-op at warehouse scale (multi-split
    # scans skip the respread).
    e = respread_if_narrow(e, f"{sf_dir}/events.parquet")

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for et, grp in pdf.groupby("event_type", sort=True):
                v = grp["value"].to_numpy(dtype="float64")
                m, w = merge_centroids(v, np.ones(len(v)))
                yield pd.DataFrame(
                    {
                        "event_type": [et],
                        "means": [m.tolist()],
                        "weights": [w.tolist()],
                    }
                )

    part = e.mapInPandas(
        partials, schema="event_type string, means array<double>, weights array<double>"
    )

    def reduce_group(key, pdf):
        m = np.concatenate([np.asarray(x) for x in pdf["means"]])
        w = np.concatenate([np.asarray(x) for x in pdf["weights"]])
        mm, mw = merge_centroids(m, w)
        p50, p95, p99 = quantile(mm, mw, [0.5, 0.95, 0.99])
        return pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_rows": [int(round(mw.sum()))],
                "n_centroids": [len(mm)],
                "p50_est": [round(p50, 6)],
                "p95_est": [round(p95, 6)],
                "p99_est": [round(p99, 6)],
            }
        )

    return part.groupBy("event_type").applyInPandas(
        reduce_group,
        schema=(
            "event_type string, n_rows long, n_centroids long, "
            "p50_est double, p95_est double, p99_est double"
        ),
    )


@query(
    "dq_psi_drift",
    group="dq",
    oracle="""
WITH tagged AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
              THEN 'early' ELSE 'late' END AS period,
         least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin
  FROM orders
), c AS (
  SELECT bin,
         count(*) FILTER (WHERE period = 'early') AS n_early,
         count(*) FILTER (WHERE period = 'late') AS n_late
  FROM tagged GROUP BY bin
), tot AS (
  SELECT sum(n_early) AS te, sum(n_late) AS tl, count(*) AS nb FROM c
)
SELECT c.bin, c.n_early, c.n_late,
       round((c.n_early + 1.0) / (tot.te + tot.nb), 6) AS p_early,
       round((c.n_late + 1.0) / (tot.tl + tot.nb), 6) AS p_late,
       round(((c.n_early + 1.0) / (tot.te + tot.nb)
              - (c.n_late + 1.0) / (tot.tl + tot.nb))
             * ln(((c.n_early + 1.0) / (tot.te + tot.nb))
                  / ((c.n_late + 1.0) / (tot.tl + tot.nb))), 6) AS psi_term
FROM c CROSS JOIN tot
""",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift screen: order totals binned
    into fixed-width buckets (deterministic bounds, never data-driven
    quantile edges), early (<1998) vs late period frequencies with
    add-one smoothing, per-bin PSI terms — sum > 0.2 is the classic
    retrain/investigate alarm.  The monitoring query every feature
    pipeline schedules.

    Scale shape: one map-side bin projection + a 10-key hash agg; the
    denominators ride a broadcast 1-row scalar (llm_tfidf pattern).
    Fixed bins make the report reproducible across engines and runs —
    quantile edges would drift with the data under comparison."""
    o = load_table(spark, sf_dir, "orders")
    tagged = o.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "early"
        )
        .otherwise("late")
        .alias("period"),
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint"), F.lit(9)
        ).alias("bin"),
    )
    c = tagged.groupBy("bin").agg(
        F.count_if(F.col("period") == "early").alias("n_early"),
        F.count_if(F.col("period") == "late").alias("n_late"),
    )
    tot = c.agg(
        F.sum("n_early").alias("te"),
        F.sum("n_late").alias("tl"),
        F.count("*").alias("nb"),
    )
    pe = (F.col("n_early") + 1.0) / (F.col("te") + F.col("nb"))
    pl = (F.col("n_late") + 1.0) / (F.col("tl") + F.col("nb"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_early",
            "n_late",
            F.round(pe, 6).alias("p_early"),
            F.round(pl, 6).alias("p_late"),
            F.round((pe - pl) * F.log(pe / pl), 6).alias("psi_term"),
        )
    )
