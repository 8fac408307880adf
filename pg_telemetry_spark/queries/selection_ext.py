"""Data-selection operators for training-corpus construction
(round 9, batch 6): DSIR importance resampling and a hashed-feature
linear quality classifier — the two standard "pick the good subset"
primitives between dedup and tokenization in an LLM data pipeline.

- ``llm_dsir_resample`` follows Data Selection with Importance
  Resampling (Xie et al. 2023): estimate target vs raw unigram
  distributions over HASHED feature buckets (bounded vocabulary by
  construction), score each document with its summed log importance
  ratio, keep the top 20%.
- ``llm_fasttext_score`` is the fastText-style supervised filter
  shape (Joulin et al. 2017) used by CCNet-descended pipelines: mean
  of hashed-bigram weights under a FIXED deterministic weight table
  (the container has no trained model; the weights stand in for the
  learned vector, the pipeline — hash, lookup, average, threshold —
  is the real one).

Both hash through md5 hex digits (engine-portable: Spark and DuckDB
md5 agree byte-for-byte) and follow the detsum decimal discipline for
every float aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg_telemetry_spark.queries.detsum import DSUM_SQL, dsum
from pg_telemetry_spark.cache import pin
from pg_telemetry_spark.registry import query
from pg_telemetry_spark.session import local_frame
from pg_telemetry_spark.tables import load_table

#: feature-hash width for both operators (2 md5 hex digits)
_NB = 256

_HEX = "0123456789abcdef"


def _md5_bucket_sql(expr: str) -> str:
    """First-2-hex-digit md5 bucket in [0, 256) — portable SQL."""
    h = f"md5({expr})"
    return (
        f"((instr('{_HEX}', substring({h}, 1, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring({h}, 2, 1)) - 1))"
    )


def _md5_bucket_col(col) -> F.Column:
    h = F.md5(col)
    return (F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    )


_WORDS_SQL = """
  SELECT doc_id, source, lang, w
  FROM (SELECT doc_id, source, lang,
               unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
"""


@query(
    "llm_dsir_resample",
    group="llm_ext",
    oracle=f"""
WITH words AS ({_WORDS_SQL}), feat AS (
  SELECT doc_id, source, lang, {_md5_bucket_sql("w")} AS b FROM words
), tgt AS (
  SELECT b, count(*) AS c FROM feat WHERE lang = 'en' GROUP BY b
), raw AS (
  SELECT b, count(*) AS c FROM feat GROUP BY b
), tot AS (
  SELECT (SELECT count(*) FROM feat WHERE lang = 'en') AS nt,
         (SELECT count(*) FROM feat) AS nr
), lr AS (
  SELECT raw.b,
         round(ln((CAST(coalesce(tgt.c, 0) + 1 AS DOUBLE) / (tot.nt + {_NB}))
                  / (CAST(raw.c + 1 AS DOUBLE) / (tot.nr + {_NB}))), 6) AS logr
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
), scored AS (
  SELECT f.doc_id, f.source, {DSUM_SQL.format(x="lr.logr")} AS weight
  FROM feat f JOIN lr ON f.b = lr.b
  GROUP BY f.doc_id, f.source
), ranked AS (
  SELECT doc_id, source, weight,
         row_number() OVER (ORDER BY weight DESC, doc_id ASC) AS rnk,
         count(*) OVER () AS n
  FROM scored
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN rnk <= CAST(floor(0.2 * n) AS BIGINT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       {DSUM_SQL.format(x="weight")} AS sum_weight
FROM ranked
GROUP BY source
ORDER BY source
""",
)
def llm_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): hashed-unigram
    (256-bucket) target and raw distributions — target = the English
    slice standing in for the curated seed corpus — add-one smoothed;
    per-document weight = decimal-exact sum of per-token PRE-ROUNDED
    log importance ratios; keep the global top 20% by (weight,
    doc_id) and report per-source selection counts — the mix shift
    DSIR induces is exactly what the report shows.

    Scale shape: tokenize is a narrow explode; the bucket
    distributions are two 256-row aggregates; the per-token log-ratio
    attach is a BROADCAST join against a 256-row table; doc scoring
    is one hash agg on doc_id.  The top-20% cut here is a global
    row_number over doc weights — dimension-sized at fixture scale;
    at 100 TB the identical selection comes from a t-digest
    80th-percentile threshold (`agg_tdigest`) applied map-side,
    trading the global sort for a sketch broadcast."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            "doc_id",
            "source",
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select("doc_id", "source", "lang", _md5_bucket_col(F.col("w")).alias("b"))
    )
    words = pin(words)
    tgt = words.filter(F.col("lang") == "en").groupBy("b").agg(F.count("*").alias("ct"))
    raw = words.groupBy("b").agg(F.count("*").alias("cr"))
    nt = words.filter(F.col("lang") == "en").count()
    nr = words.count()
    lr = (
        raw.join(tgt, "b", "left")
        .select(
            "b",
            F.round(
                F.log(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double") / (nt + _NB))
                    / ((F.col("cr") + 1).cast("double") / (nr + _NB))
                ),
                6,
            ).alias("logr"),
        )
    )
    scored = (
        words.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(dsum("logr").alias("weight"))
    )
    w_rank = Window.orderBy(F.col("weight").desc(), F.col("doc_id").asc())
    ranked = scored.select(
        "doc_id",
        "source",
        "weight",
        F.row_number().over(w_rank).alias("rnk"),
        F.count("*").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    out = (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("rnk") <= F.floor(0.2 * F.col("n")).cast("bigint")).cast(
                    "bigint"
                )
            ).alias("n_selected"),
            dsum("weight").alias("sum_weight"),
        )
        .orderBy("source")
    )
    return out


_FT_SEED = 2654435761  # Knuth multiplicative constant — fixed "weights"


@query(
    "llm_fasttext_score",
    group="llm_ext",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS arr
  FROM documents
), bg AS (
  SELECT doc_id, source,
         {_md5_bucket_sql("bgw")} AS b
  FROM (SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(arr) - 1),
                                     i -> concat(arr[i], '_', arr[i+1]))) AS bgw
        FROM toks)
), wt AS (
  SELECT b.doc_id, b.source,
         (b.b * {_FT_SEED}) % 201 - 100 AS w_c
  FROM bg b
), ds AS (
  SELECT doc_id, source,
         count(*) AS n,
         CAST(sum(w_c) AS BIGINT) AS s_c
  FROM wt GROUP BY doc_id, source
), scored AS (
  SELECT source, s_c,
         (s_c * 10000 - (((s_c * 10000) % n) + n) % n) / n AS mean_micro
  FROM ds
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN s_c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(mean_micro) AS BIGINT) AS sum_mean_micro
FROM scored GROUP BY source ORDER BY source
""",
)
def llm_fasttext_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped quality filter (Joulin et al. 2017; the
    CCNet / LLaMA-pipeline "keep what looks like Wikipedia" gate):
    hash each token bigram into 256 buckets, look up a FIXED
    deterministic weight per bucket (stand-in for the trained
    embedding — no model ships in this container), score a document
    as the mean bucket weight, classify positive above 0.  Reported
    per source: document count, positives, and the sum of per-doc
    mean scores in exact integer MICRO-units.

    Determinism note: the mean is integer arithmetic end to end —
    weights are centi-unit integers, the per-doc mean is a floor
    division computed by the pmod identity (a - pmod(a, n)) / n,
    which both engines evaluate exactly (a plain round(sum/count, 6)
    double mean diverged by 1 ulp at sf0.1: ~5k boundary chances per
    source — caught by the round-9 decade sweep).

    Bigram pairing stays INSIDE the token array on both engines
    (zip_with over two shifted slices / list_transform over
    positions) — no per-token explode-then-self-join, so consecutive
    order is structural, not a sort contract, and the pairing is a
    narrow map.

    Scale shape: the whole feature path is narrow (array ops +
    explode); weights are a 256-entry arithmetic expression (no
    table at all); scoring is one hash agg per doc + one per
    source."""
    d = load_table(spark, sf_dir, "documents")
    arr = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    toks = d.select("doc_id", "source", arr.alias("arr"))
    bg = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("arr"), 1, F.size("arr") - 1),
                F.slice(F.col("arr"), 2, F.size("arr") - 1),
                lambda x, y: F.concat(x, F.lit("_"), y),
            )
        ).alias("bgw"),
    ).select("doc_id", "source", _md5_bucket_col(F.col("bgw")).alias("b"))
    wt = bg.select(
        "doc_id",
        "source",
        ((F.col("b") * _FT_SEED) % 201 - 100).alias("w_c"),
    )
    ds = wt.groupBy("doc_id", "source").agg(
        F.count("*").alias("n"),
        F.sum("w_c").cast("bigint").alias("s_c"),
    )
    num = F.col("s_c") * 10000
    mean_micro = (num - F.pmod(num, F.col("n"))) / F.col("n")
    scored = ds.select("source", "s_c", mean_micro.cast("bigint").alias("mean_micro"))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("s_c") > 0).cast("bigint")).alias("n_pos"),
            F.sum("mean_micro").cast("bigint").alias("sum_mean_micro"),
        )
        .orderBy("source")
    )


_MMR_K = 20
_MMR_SIGS = 16
_MMR_LAMBDA = 0.7
#: retrieval-pool bound: the greedy re-ranks the top-POOL docs by
#: relevance (MMR's published deployment shape), not the corpus
_MMR_POOL = 200


def _mmr_minhash_cols():
    """16 md5-derived minhash components over the exploded word set —
    engine-portable hashing (hex prefix to int), reproducible in the
    golden's local python replay."""
    return [
        F.min(
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("w"))), 1, 8), 16, 10).cast(
                "long"
            )
        ).alias(f"mh{i}")
        for i in range(_MMR_SIGS)
    ]


@query("llm_mmr_diversify", group="llm_ext", tier="C")
def llm_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998) of a diverse 20-doc subset: greedily pick the document
    maximizing ``0.7 * relevance - 0.3 * max-sim-to-selected``, where
    relevance is vocabulary size normalized by the corpus max and
    similarity is the matching fraction of 16 md5-minhash components
    (a Jaccard estimate) — the diversity-aware sampler used to cap
    near-redundant training batches.

    Scale shape (round-9 rewrite): MMR as published RE-RANKS a
    retrieval pool, not a corpus — the r9-early version ran the
    greedy over ALL remaining docs, which cost 20 corpus scans + 20
    collects (36.6 s at sf1, the most expensive query of the leg, and
    heading to x10 that at sf10 for a k=20 answer).  Now: signatures
    are ONE groupBy over exploded words (16 min-aggregates, map-side
    combinable), the candidate pool is ONE TakeOrderedAndProject of
    the top-200 by relevance (vocab desc, doc_id asc — the corpus max
    vocab is inside the pool by construction), and the k=20 greedy
    runs on those 200 driver-side rows (200 x 20 x 16 integer
    comparisons — constant work, same bounded-collect class as the
    BPE merge loop but ONE collect instead of 21).
    Tier C: the greedy trajectory is order-sequential by definition;
    golden replays the same pool-bounded algorithm in local python
    (tests/test_units_selection.py)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    sigs = words.groupBy("doc_id").agg(
        F.countDistinct("w").alias("vocab"), *_mmr_minhash_cols()
    ).select(
        "doc_id",
        "vocab",
        F.array(*[F.col(f"mh{i}") for i in range(_MMR_SIGS)]).alias("sig"),
    )
    pool = (
        sigs.orderBy(F.desc("vocab"), F.asc("doc_id"))
        .limit(_MMR_POOL)
        .collect()
    )  # ONE bounded collect: the 200-row candidate pool
    vocab = {r["doc_id"]: r["vocab"] for r in pool}
    sig = {r["doc_id"]: list(r["sig"]) for r in pool}
    max_vocab = max(vocab.values())

    picked: list[tuple] = []  # (rank, doc_id, score)
    chosen: list[int] = []
    remaining = set(vocab)
    for rank in range(1, _MMR_K + 1):
        best = None
        for doc in remaining:
            rel = vocab[doc] / max_vocab
            sim = (
                max(
                    sum(a == b for a, b in zip(sig[doc], sig[s])) / _MMR_SIGS
                    for s in chosen
                )
                if chosen
                else 0.0
            )
            score = round(_MMR_LAMBDA * rel - (1 - _MMR_LAMBDA) * sim, 9)
            if best is None or (score, -doc) > (best[0], -best[1]):
                best = (score, doc)
        picked.append((rank, best[1], best[0]))
        chosen.append(best[1])
        remaining.discard(best[1])
    return local_frame(
        spark, picked, "rank int, doc_id bigint, score double"
    )


@query(
    "llm_oov_rate",
    group="curation",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, w
  FROM (SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE w <> ''
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS n FROM toks GROUP BY w
  ) QUALIFY row_number() OVER (ORDER BY n DESC, w ASC) <= 1000
), scored AS (
  SELECT t.doc_id, t.source,
         count(*) AS n_tok,
         count(*) FILTER (WHERE v.w IS NULL) AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.w = v.w
  GROUP BY t.doc_id, t.source
)
SELECT source,
       count(*) AS n_docs,
       round(CAST(sum(n_oov) AS DOUBLE) / sum(n_tok), 6) AS oov_rate,
       count(*) FILTER (WHERE n_oov * 10 > n_tok * 3) AS n_docs_high_oov
FROM scored GROUP BY source ORDER BY source
""",
)
def llm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage gate: build the corpus top-1000 token
    vocabulary (count desc, token asc tie-break), then measure each
    document's out-of-vocabulary token rate and flag documents above
    30% OOV — the standard tokenizer-fit / gibberish screen run
    before committing a corpus to an existing tokenizer.

    Scale shape: the vocabulary is a TopK aggregate
    (TakeOrderedAndProject, no full sort) and is joined back as a
    1000-row BROADCAST; per-doc rates aggregate integers only
    (SUM(oov)/SUM(tok) as one final division; the 30% flag is the
    integer cross-multiplication ``10*oov > 3*tok``), so the hash
    match holds at any scale with zero float-sum order sensitivity."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    w_rank = Window.orderBy(F.col("n").desc(), F.col("w").asc())
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 1000)
        .select(F.col("w").alias("vw"))
    )
    scored = (
        toks.join(F.broadcast(vocab), toks.w == vocab.vw, "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_tok"),
            F.count_if(F.col("vw").isNull()).alias("n_oov"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum("n_oov").cast("double") / F.sum("n_tok"), 6
            ).alias("oov_rate"),
            F.count_if(
                F.col("n_oov") * 10 > F.col("n_tok") * 3
            ).alias("n_docs_high_oov"),
        )
        .orderBy("source")
    )
