"""Extended LLM-pipeline operators: text analysis (language-ID,
quality scoring, token counting, fingerprinting), SimHash near-dup,
IVF approximate nearest neighbor, and multimodal binary plumbing.

These go beyond the SURVEY §2.10 core per the driver's north star;
the text-analysis four are fully oracle-checked (tier A/B), the
index-structure ops are tier C with structural/recall unit tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg_telemetry_spark.operators.ann import build_ivf_index, ivf_topk
from pg_telemetry_spark.operators.multimodal import (
    decode_features,
    sample_frames,
    with_fake_media,
)
from pg_telemetry_spark.operators.simhash import hamming, simhash, simhash_chunk_candidates
from pg_telemetry_spark.queries.llm import (
    _DUP_OFFSET,
    _near_dup_corpus,
    _near_dup_pairs,
)
from pg_telemetry_spark.registry import query
from pg_telemetry_spark.session import local_frame, memo, scratch_dir
from pg_telemetry_spark.tables import load_table


@query(
    "llm_langid",
    group="llm_ext",
    oracle="""
WITH bigrams AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_transform(range(1, length(text)),
                                             i -> substring(text, i, 2)))) AS bg
  FROM documents
), profile AS (
  SELECT lang, bg, count(*) AS n,
         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, bg ASC) AS rn
  FROM bigrams GROUP BY lang, bg
), top_profile AS (
  SELECT lang AS profile_lang, bg FROM profile WHERE rn <= 20
), scores AS (
  SELECT b.doc_id, p.profile_lang, count(*) AS overlap
  FROM (SELECT DISTINCT doc_id, bg FROM bigrams) b
  JOIN top_profile p ON b.bg = p.bg
  GROUP BY b.doc_id, p.profile_lang
)
SELECT doc_id, profile_lang AS predicted_lang, overlap
FROM scores
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY overlap DESC, profile_lang ASC) = 1
""",
)
def llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram-profile language ID: build a top-20 bigram profile
    per language from the corpus, score each doc by profile overlap,
    predict argmax (tie -> alphabetical).  The fixture text is
    synthetic so accuracy is not the point — the distributed
    train-profile/score/argmax shape is."""
    d = load_table(spark, sf_dir, "documents")

    def build_bigrams() -> DataFrame:
        # The fixture lands in ONE parquet row group, so without a
        # spread the explode (corpus x chars-per-doc) runs on a single
        # core; shuffling the tiny raw text first costs ~nothing and
        # parallelizes the expensive leg.  At warehouse scale the scan
        # is already many-split and AQE elides the extra exchange.
        return d.repartition(spark.sparkContext.defaultParallelism).select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length("text") - 1),
                        lambda i: F.substring(F.col("text"), i, 2),
                    )
                )
            ).alias("bg"),
        )

    # The explode is the expensive leg (corpus x chars-per-doc rows) and
    # feeds BOTH the profile build and the scoring join — persist so it
    # is computed once per session, not once per consumer.
    bigrams = memo(
        spark, ("langid_bigrams", sf_dir), lambda: build_bigrams().persist()
    )
    prof_w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bg").asc())
    top_profile = (
        bigrams.groupBy("lang", "bg")
        .agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(prof_w))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("profile_lang"), "bg")
    )
    scores = (
        # no .distinct() needed: array_distinct in the explode already
        # makes (doc_id, bg) unique, so the oracle's DISTINCT is a no-op
        # here and eliding it saves a full shuffle of the exploded rows.
        bigrams.select("doc_id", "bg")
        .join(F.broadcast(top_profile), "bg")
        .groupBy("doc_id", "profile_lang")
        .agg(F.count("*").alias("overlap"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("overlap").desc(), F.col("profile_lang").asc())
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("profile_lang").alias("predicted_lang"), "overlap")
    )


@query(
    "llm_quality",
    group="llm_ext",
    oracle="""
WITH stopwords AS (
  SELECT term FROM (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY term
  ORDER BY count(*) DESC, term ASC LIMIT 10
), tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tok_stats AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         round(CAST(any_value(d.n_chars) - count(*) + 1 AS DOUBLE) / count(*), 6)
           AS avg_word_len,
         round(CAST(count(*) FILTER (WHERE t.term IN (SELECT term FROM stopwords))
                    AS DOUBLE) / count(*), 6) AS stopword_ratio
  FROM tok t JOIN documents d USING (doc_id)
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, avg_word_len, stopword_ratio,
       round(1.0 / (1.0 + exp(-(CAST(n_tokens AS DOUBLE) / 50.0
                                + stopword_ratio * 2.0 - 2.0))), 6) AS quality_score
FROM tok_stats
""",
)
def llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: token count, mean word length,
    stopword ratio (stopwords = corpus top-10 terms), combined into a
    logistic quality score — the standard pretraining-corpus filter
    features, all JVM-side.

    The stopword list is computed IN the plan: top-10 terms collapse to
    a one-row array that cross-joins (broadcast) onto every doc — no
    driver collect, one lazy plan, so query construction never blocks
    on an action and the whole thing ships as a single job."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = (
        d.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(10)
        .agg(F.collect_list("term").alias("stop_terms"))
    )
    d = d.crossJoin(F.broadcast(stop_arr))
    n_tokens = F.size(toks)
    stop_ratio = F.round(
        F.size(
            F.filter(toks, lambda t: F.array_contains(F.col("stop_terms"), t))
        ).cast("double")
        / n_tokens,
        6,
    )
    avg_word_len = F.round(
        (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 6
    )
    score = F.round(
        1.0
        / (
            1.0
            + F.exp(-(n_tokens.cast("double") / 50.0 + stop_ratio * 2.0 - 2.0))
        ),
        6,
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


@query(
    "llm_token_count",
    group="llm_ext",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
       length(text) AS n_chars
FROM documents
""",
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | other symbols) — the cheap token-budget
    estimators a corpus pipeline runs before the real tokenizer."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "re_tokens"
        ),
        F.length("text").alias("n_chars"),
    )


@query(
    "llm_fingerprint",
    group="llm_ext",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(t, w -> ascii(substring(w, 1, 1)) * 31 + length(w))),
                   (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint,
       CASE WHEN len(t) >= 5 THEN
         list_min(list_transform(range(1, len(t) - 3),
           i -> (((((ascii(substring(t[i], 1, 1)) * 31 + length(t[i])) * 131
                  + ascii(substring(t[i+1], 1, 1)) * 31 + length(t[i+1])) * 131
                  + ascii(substring(t[i+2], 1, 1)) * 31 + length(t[i+2])) * 131
                  + ascii(substring(t[i+3], 1, 1)) * 31 + length(t[i+3])) * 131
                  + ascii(substring(t[i+4], 1, 1)) * 31 + length(t[i+4])) % 1000000007))
       ELSE NULL END AS min_window_hash
FROM toks
""",
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint + winnowing-style
    minimum window hash over word 5-grams (cross-engine-identical
    integer arithmetic — no engine-specific hash functions)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def whash(w):
        return F.ascii(F.substring(w, 1, 1)) * 31 + F.length(w)

    fingerprint = F.aggregate(
        F.transform(toks, whash).cast("array<bigint>"),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 131 + x) % 1_000_000_007,
    )

    def window_hash(t, i):
        acc = None
        for off in range(5):
            # bigint from the first term: the un-modded polynomial
            # reaches ~1.2e12 (int32 overflows under ANSI mode)
            term = whash(F.element_at(t, i + F.lit(off))).cast("bigint")
            acc = term if acc is None else (acc * 131 + term)
        return acc % 1_000_000_007

    min_window = F.when(
        F.size(toks) >= 5,
        F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 4),
                lambda i: window_hash(F.split("text", " "), i).cast("bigint"),
            )
        ),
    )
    return d.select(
        "doc_id",
        fingerprint.alias("fingerprint"),
        min_window.alias("min_window_hash"),
    )


@query("llm_simhash", group="llm_ext", tier="C")
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection on the injected-near-dup corpus:
    chunk-indexed candidate pairs with Hamming distance ≤ 6.  The unit
    test asserts injected near-copies land within the ball and random
    pairs stay outside."""
    corpus = _near_dup_corpus(spark, sf_dir)
    fp = simhash(corpus)
    return simhash_chunk_candidates(fp).filter(F.col("hamming") <= 6)


@query("llm_ann_ivf", group="llm_ext", tier="C")
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 neighbors for 10 probes (nprobe=4 of ~16
    cells — searches ~25% of the corpus instead of 100%).

    TEACHING BASELINE, not the retrieval-grade op (r14 adjudication of
    VERDICT r13 #2): stride centroids are arbitrary corpus vectors, so
    cell boundaries carry no geometry and measured recall floors at
    0.38–0.6 (ANN_RECALL.json) — pushing it to 0.8 would need nprobe
    scanning >50% of the corpus, i.e. brute force wearing an index.
    The op stays because it isolates exactly the quantizer choice
    against llm_ann_ivf_kmeans (same search path, recall 1.0 on both
    measured geometries); use THAT for retrieval."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assigned = build_ivf_index(emb, stride=32)
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return ivf_topk(centroids, assigned, probes, k=5, nprobe=4)


@query("llm_ann_ivf_kmeans", group="llm_ext", tier="C")
def llm_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-trained coarse centroids (deterministic
    sampled Lloyd, 3 rounds, 16 cells, unit-normalized) — the
    production quantizer for clustered real-world embeddings, vs the
    zero-training stride quantizer of llm_ann_ivf.  Same search path
    (nprobe-cell equi-join), so the two queries isolate exactly the
    quantizer choice."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assigned = build_ivf_index(emb, method="kmeans", k=16, iters=3)
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return ivf_topk(centroids, assigned, probes, k=5, nprobe=4)


@query("llm_dedup_cc_star", group="llm_ext", tier="C")
def llm_dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters via large-star/small-star contraction (Kiveris
    et al.) — identical labels to llm_dedup_cc, but O(log n) rounds on
    ANY graph shape, including the adversarial long chains where plain
    min-label propagation needs diameter rounds.  Consumes the same
    persisted pair set; the unit test pins star == propagation ==
    local union-find."""
    from pg_telemetry_spark.operators.components import connected_components_star

    pairs = _near_dup_pairs(spark, sf_dir, threshold=0.5)
    labels = connected_components_star(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_kept"),
    )


@query("llm_multimodal_binary", group="llm_ext", tier="C")
def llm_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary multimodal plumbing end-to-end: binary payload +
    typed metadata struct -> mapInPandas decode/feature stub -> frame
    sampling (1->N) -> per-doc feature summary.  The decode is a
    clearly-marked deterministic fake (no codec libs in container);
    schema, partitioning, and Arrow batch shapes are the real thing."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = with_fake_media(d)
    feats = decode_features(media)
    frames = sample_frames(media).groupBy("doc_id").agg(
        F.count("*").alias("n_sampled_frames"),
        F.sum("frame_len").alias("sampled_bytes"),
    )
    return feats.join(frames, "doc_id").select(
        "doc_id", "byte_len", "checksum", "mean_byte", "decoder",
        "n_sampled_frames", "sampled_bytes",
    )


@query(
    "llm_dedup_embed",
    group="llm_ext",
    tier="B",
    oracle="""
WITH v AS (
  SELECT d.doc_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM v a JOIN v b ON a.doc_id < b.doc_id
  WHERE round(list_dot_product(a.vec, b.vec), 6) >= 0.35
),
nb AS (
  SELECT id1 AS doc_id, id2 AS nb FROM pairs
  UNION ALL SELECT id2 AS doc_id, id1 AS nb FROM pairs
  UNION ALL SELECT doc_id, doc_id AS nb FROM v
)
SELECT doc_id, min(nb) AS rep_id, count(*) - 1 AS n_neighbors,
       CAST(min(nb) < doc_id AS INTEGER) AS is_dup
FROM nb GROUP BY doc_id
""",
)
def llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over documents: pair any two docs
    whose embedding cosine >= 0.35 (the fixture tail — vectors are
    random unit norm, max pairwise sim ~0.44), then greedily elect the
    min-doc_id single-hop neighbor as each doc's representative.

    The pair search is the Arrow/BLAS blockwise matmul with the
    NEIGHBOR AGGREGATION PUSHED INTO THE KERNEL
    (operators/similarity.py:sim_join_neighbor_stats) — each grid
    cell emits (id, min partner, count) partials instead of every
    qualifying pair, the map-side-combine pattern: at the sf10 ladder
    that is ~10M partial rows in place of ~52M exploded pair rows.
    The rep election is then one tiny shuffle on doc_id.  Scale path
    past broadcastable corpora: LSH/IVF blocking and a min-rep
    fixpoint for full connected components (O(diameter) joins)."""
    from pg_telemetry_spark.operators.similarity import sim_join_neighbor_stats

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id).select("doc_id", "embedding")
    stats = sim_join_neighbor_stats(joined, threshold=0.35, id_col="doc_id")
    # broadcast the stats side: three narrow columns, at most one row
    # per doc (16 MB per 10⁶ docs) — the corpus side then never
    # reshuffles for the rep election
    return joined.join(
        F.broadcast(stats), joined.doc_id == stats.id, "left"
    ).select(
        "doc_id",
        F.least(
            F.col("doc_id"), F.coalesce("min_nb", F.col("doc_id"))
        ).alias("rep_id"),
        F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
        (F.coalesce("min_nb", F.col("doc_id")) < F.col("doc_id"))
        .cast("int")
        .alias("is_dup"),
    )


#: (kind, sf_dir) -> (directory, write-time schemas) of every built
#: disk index.  Process-lifetime, NOT session-lifetime: bench revives a
#: dead SparkContext mid-leg, and an in-memory ``.persist()`` keyed on
#: the session vanished with the old JVM — the timed probe then rebuilt
#: the whole O(corpus) index inside the measured region (driver-facing
#: 17.8 s vs a measured 4.7 s probe).  Parquet on local disk survives
#: any number of JVM deaths and is the warehouse posture the operators
#: claim: the index is a materialized TABLE written once at ingest,
#: read back by every probe.
_DISK_INDEXES: dict[tuple[str, str], tuple[str, dict]] = {}


def _disk_index(spark: SparkSession, kind: str, sf_dir: str, build) -> tuple:
    """Read-back frames of the ``kind`` index of ``sf_dir``, in the
    order of ``build()``'s ``{table name: DataFrame}``.

    The first call per process writes every table of ``build()`` as
    Parquet under a scratch dir (:func:`session.scratch_dir`, removed
    at exit).  The frames read the tables back with their WRITE-TIME
    schemas — exact by construction, and no footer inference (measured
    ~87 ms per ``spark.read.parquet``, x9 reads per probe build) — and
    are memoized per session: plan reuse only, every probe still scans
    disk."""
    import hashlib
    import os

    if (kind, sf_dir) not in _DISK_INDEXES:
        token = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        base_dir = scratch_dir(f"{kind}_idx_{token}_")
        schemas = {}
        for name, df in build().items():
            df.write.mode("overwrite").parquet(os.path.join(base_dir, name))
            schemas[name] = df.schema
        _DISK_INDEXES[kind, sf_dir] = (base_dir, schemas)
    base_dir, schemas = _DISK_INDEXES[kind, sf_dir]
    return memo(
        spark,
        ("disk_index", kind, sf_dir),
        lambda: tuple(
            spark.read.schema(schema).parquet(f"{base_dir}/{name}")
            for name, schema in schemas.items()
        ),
    )


def _incr_base_index(spark: SparkSession, sf_dir: str):
    """Pre-built LSH index of the base corpus (shingles, signatures,
    buckets, bucket stats) plus the landed delta batch, written ONCE
    per process as Parquet tables (:func:`_disk_index`) and read back
    from disk by every probe.  Real systems pay index build once at
    ingest and amortize it over every delta; benching the probe
    without this would re-bill the O(corpus) build to each run (it
    once dominated the bench at 10.2 s).  Disk-backed (not
    ``.persist()``) so a SparkContext revival can never fold the build
    back into a timed probe."""
    from pg_telemetry_spark.operators.minhash import lsh_index

    def build() -> dict:
        # build the four tables from ONE pipeline run (shingles feed
        # signatures feed buckets feed stats — separate builds would
        # re-shingle the corpus four times); land the delta too — in
        # the warehouse posture the incoming batch is itself a table
        # on disk, not a derivation the probe must recompute
        corpus = _near_dup_corpus(spark, sf_dir)
        base = corpus.filter(F.col("doc_id") < _DUP_OFFSET)
        # REBALANCE before every index write (optimization r16, guide
        # §6): the narrow-map tables (shingles, delta) otherwise
        # inherit the scan's split count and land as dozens of KB-
        # sized files — measured 32 files / ~64 KB each at sf0.1 — so
        # every probe's scan stages pay ~32 tasks per table for data
        # that fits one.  The AQE rebalance hint sizes output
        # partitions to advisoryPartitionSizeInBytes: one file at
        # fixture scale, 64 MB files at warehouse scale — the same
        # knob both ways, no local constant.
        names = ("shingles", "signatures", "buckets", "stats")
        tables = dict(zip(names, lsh_index(base)))
        tables["delta"] = corpus.filter(F.col("doc_id") >= _DUP_OFFSET)
        return {name: df.hint("rebalance") for name, df in tables.items()}

    return _disk_index(spark, "incr", sf_dir, build)


@query("llm_dedup_incr", group="llm_ext", tier="C")
def llm_dedup_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: the original documents are the
    already-indexed corpus (shingle + LSH-bucket tables written once
    to disk by :func:`_incr_base_index` — the warehouse-scale shape
    where the index is a materialized table, not per-query work); the
    injected near-copies arrive as a landed delta table that is
    shingled, minhashed, and bucket-probed WITHOUT rescanning history.
    Both sides are Parquet on disk so no SparkContext event can fold
    index or corpus construction into the probe (VERDICT r9 weak #1).
    The unit test proves base-pairs ∪ delta-pairs == full rebuild."""
    from pg_telemetry_spark.operators.minhash import incremental_near_duplicates

    sh_idx, sg_idx, bk_idx, st_idx, delta = _incr_base_index(spark, sf_dir)
    pairs, _sh, _sg, _bk, _st = incremental_near_duplicates(
        sh_idx, sg_idx, bk_idx, st_idx, delta, threshold=0.5
    )
    return pairs


@query("llm_ann_lsh", group="llm_ext", tier="C")
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH approximate top-5 neighbors for 10
    probes.  The (nbits, tables) operating point is solved from the
    measured k-NN cosine of a bounded sample (operators/ann.lsh_plan
    — the hyperplane analog of llm_band_tuning's band/row math): hard
    isotropic geometry provisions more/shorter tables, clustered
    real-world geometry resolves to fewer/longer ones.  Replaces the
    single 8-bit table whose uniform-probe recall floored at 0.12
    (VERDICT r13 #1); recall is pinned by unit tests on BOTH planted
    near-copies and the uniform fixture's true top-5.

    Routing note (VERDICT r15 #2): this query PINS the LSH method to
    exercise the operator on the fixture, but the production entry
    decision is operators/ann.ann_route — on this isotropic geometry
    (measured s_k ~ 0.32) the solved plan probes 0.36-0.41 of the
    corpus per query, past the LSH_MAX_CANDIDATE_FRAC = 0.25
    crossover, so a user pipeline should take exact brute-force
    (llm_cosine_topk) here and reserve the LSH index for clustered
    corpora (measured frac 0.05-0.14).  llm_ann_route surfaces the
    decision; SCALE.md documents the rule and the measured fractions."""
    from pg_telemetry_spark.operators.ann import multitable_lsh_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return multitable_lsh_ann_topk(emb, probes, k=5)


def _ann_plan_and_planes(nbits: int, tables: int):
    from pg_telemetry_spark.operators.ann import REF_BITS, _hyperplanes, _ref_hyperplanes

    planes = [_hyperplanes(nbits, 64, seed=t) for t in range(tables)]
    return planes, _ref_hyperplanes(tables, REF_BITS, 64)


def _ann_base_index(spark: SparkSession, sf_dir: str):
    """Materialized multi-table LSH ANN index of the base corpus
    (embeddings with vec_id >= 10): ``index`` (tbl, bucket, sub, id),
    ``hot`` (tbl, bucket), ``vectors`` (the exact-scoring side), a
    1-row ``meta`` table carrying the solved (nbits, tables) so a
    probe regenerates the md5-deterministic planes WITHOUT touching
    the corpus, and the landed ``delta`` batch.  Written once per
    process as Parquet (:func:`_disk_index`) — the warehouse posture
    multitable_lsh_ann_topk's docstring promises, where every query
    rebuilt codes from scratch."""
    from pg_telemetry_spark.operators.ann import (
        build_lsh_ann_index,
        estimate_neighbor_cos,
        lsh_plan,
    )

    def build() -> dict:
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= 10)
        n = corpus.count()
        s_k = estimate_neighbor_cos(corpus)
        nbits, tables, _, _ = lsh_plan(n, s_k)
        planes, ref_planes = _ann_plan_and_planes(nbits, tables)
        index, hot = build_lsh_ann_index(corpus, planes, ref_planes, n=n)
        # rebalance-on-write: same file-sizing rationale as
        # _incr_base_index (guide §6) — narrow-map outputs otherwise
        # land one KB-sized file per scan split
        return {
            "index": index.hint("rebalance"),
            "hot": hot.hint("rebalance"),
            "vectors": corpus.select("vec_id", "embedding").hint("rebalance"),
            "meta": local_frame(
                spark, [(nbits, tables)], "nbits int, tables int"
            ),
            # the arriving batch is itself a landed table, not a derivation
            "delta": emb.filter(F.col("vec_id") < 10)
            .select("vec_id", "embedding")
            .hint("rebalance"),
        }

    return _disk_index(spark, "ann", sf_dir, build)


@query("llm_ann_incr", group="llm_ext", tier="C")
def llm_ann_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN retrieval against a MATERIALIZED index
    (VERDICT r14 #2, the llm_dedup_incr template): the corpus
    (embeddings vec_id >= 10) is indexed once to Parquet
    (_ann_base_index); a delta batch of 10 new vectors arrives as a
    landed table and is probed O(delta) — the delta side is coded
    with one matmul pass and every probe-derived frame is broadcast,
    so the index and vector tables are touched only on the streamed
    side of BroadcastHashJoins (plan pinned exchange-free over index
    scans by tests/test_ann_index_plan.py; probe-cost ladder measured
    flat across a 10x index in BASELINE.md).  Returns exact-scored
    top-5 (probe_id, neighbor_id, sim).  The maintenance write path
    (delta index rows via lsh_ann_index_delta) is pinned by unit
    test to equal a fresh rebuild on stable hot sets."""
    from pg_telemetry_spark.operators.ann import lsh_ann_probe

    index, hot, vectors, meta, delta = _ann_base_index(spark, sf_dir)
    m = meta.head()
    planes, ref_planes = _ann_plan_and_planes(m.nbits, m.tables)
    probes = delta.select(F.col("vec_id").alias("probe_id"), "embedding")
    return lsh_ann_probe(index, hot, probes, planes, ref_planes, vectors, k=5)


@query("llm_ann_compact", group="llm_ext", tier="C")
def llm_ann_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index compaction under hot-set evolution (VERDICT r15 #1):
    a base index is built all-cold, a delta batch appends through
    lsh_ann_index_delta, and the width threshold then tightens (the
    production trigger: hot_bucket_width shrinks relative to bucket
    widths as the corpus grows into its buckets).  lsh_ann_compact
    detects the crossing buckets FROM THE INDEX'S OWN cold-row
    widths, re-splits only their members from stored vectors (one
    bounded matmul over the affected rows), re-caps any over-cap hot
    sub-bucket, and reports which (tbl, bucket) partitions a
    dynamic-partition-overwrite write would rewrite.  Returns a
    one-row stats frame; append+delta+compact == fresh rebuild is
    pinned by tests/test_ann_index_plan.py::
    test_ann_compact_equals_rebuild_on_evolving_hot_set, and the
    compaction cost is measured on the 10x ladder in
    ANN_INCR_SCALE.json.

    The evolved threshold here is derived deterministically from the
    bucket-width profile (the 3rd-widest cold bucket minus one), so a
    crossing exists at every fixture scale; the width scan that
    derives it is a <= tables * 2^nbits row aggregate."""
    from pg_telemetry_spark.operators.ann import (
        lsh_ann_compact,
        lsh_ann_index_delta,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    delta = emb.filter(F.col("vec_id") % 7 == 0)
    planes, ref_planes = _ann_plan_and_planes(6, 2)
    n = emb.count()
    # build ALL-COLD (threshold above any width), then evolve the
    # threshold down — the append-then-tighten maintenance scenario
    from pg_telemetry_spark.operators.ann import build_lsh_ann_index

    base_idx, hot0 = build_lsh_ann_index(
        base, planes, ref_planes, hot_width=n + 1, n=n
    )
    # eager-checkpoint the appended index once (optimization r16): it
    # feeds SEVEN consumers (the width collect, the compaction's two
    # drift scans + kept/affected/recapped joins, and the before
    # count) — without truncation each re-derives the base build +
    # delta coding; measured 41 jobs per run at sf0.1 for a 4-row
    # answer.  In the warehouse posture this materialization is the
    # index table itself (Parquet), exactly like _ann_base_index.
    from pg_telemetry_spark.session import iter_checkpoint

    appended = iter_checkpoint(
        base_idx.unionByName(
            lsh_ann_index_delta(delta, planes, ref_planes, hot0)
        )
    )
    widths = sorted(
        (
            r.w
            for r in appended.filter(F.col("sub") < 0)
            .groupBy("tbl", "bucket")
            .agg(F.count("*").alias("w"))
            .collect()
        ),
        reverse=True,
    )
    hw2 = max(1, (widths[min(2, len(widths) - 1)] if widths else 1) - 1)
    new_index, new_hot, touched = lsh_ann_compact(
        appended, hot0, emb, planes, ref_planes, hot_width=hw2
    )
    # two aggregate consumers (after + max_cold_after) read new_index
    from pg_telemetry_spark.cache import pin as _pin

    new_index = _pin(new_index)
    before = appended.groupBy().agg(F.count("*").alias("idx_rows_before"))
    after = new_index.groupBy().agg(
        F.count("*").alias("idx_rows_after"),
        F.max(F.when(F.col("sub") >= 0, F.lit(1)).otherwise(F.lit(0))).alias(
            "has_split_rows"
        ),
    )
    max_cold_after = (
        new_index.filter(F.col("sub") < 0)
        .groupBy("tbl", "bucket")
        .agg(F.count("*").alias("w"))
        .agg(F.max("w").alias("max_cold_width_after"))
    )
    return (
        before.crossJoin(after)
        .crossJoin(max_cold_after)
        .select(
            F.lit(n).alias("n_vectors"),
            F.lit(hw2).alias("hot_width"),
            "idx_rows_before",
            "idx_rows_after",
            F.lit(new_hot.count()).alias("hot_after"),
            F.lit(touched.count()).alias("touched_partitions"),
            "has_split_rows",
            "max_cold_width_after",
        )
    )


@query("llm_ann_route", group="llm_ext", tier="C")
def llm_ann_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-selection crossover as a queryable decision (VERDICT r15
    #2): measure the corpus's k-NN cosine (bounded deterministic
    sample), solve the LSH plan, and route — "lsh" when the plan's
    expected candidate fraction is <= LSH_MAX_CANDIDATE_FRAC (0.25,
    i.e. the index removes >= 4x of the scan at target recall),
    "exact" brute-force otherwise.  The fixture's isotropic
    embeddings (measured s_k ~ 0.32) plan at frac 0.42 and route to
    "exact" — the honest verdict that near-random-neighbor geometry
    is brute-force-adjacent no matter the index (measured 0.36-0.41
    of the corpus probed at recall 0.86-0.98, ANN_RECALL.json); a
    second row evaluates the rule at the measured CLUSTERED reference
    geometry (s_k = 0.7973, emb_clustered_sf1) where the plan's frac
    0.0064 keeps the index.  Full rule + measured justification:
    ann_route docstring and SCALE.md."""
    from pg_telemetry_spark.operators.ann import ann_route, estimate_neighbor_cos

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    s_k = estimate_neighbor_cos(emb)
    rows = []
    for geometry, sk in (("measured", s_k), ("clustered_ref", 0.7973)):
        method, nbits, tables, exp_recall, exp_frac = ann_route(n, sk)
        rows.append(
            (geometry, n, float(sk), method, nbits, tables, exp_recall, exp_frac)
        )
    return local_frame(
        spark,
        rows,
        "geometry string, n long, s_k double, method string, nbits int, "
        "tables int, exp_recall double, exp_frac double",
    )


@query(
    "llm_split_hash",
    group="llm_ext",
    oracle="""
WITH b AS (
  SELECT doc_id, lang,
         (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*256
       + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*16
       + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)),3,1))-1) AS bucket
  FROM documents
), tagged AS (
  SELECT doc_id, lang,
         CASE WHEN bucket < 3277 THEN 'train'
              WHEN bucket < 3686 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split, lang, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM tagged GROUP BY split, lang
""",
)
def llm_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by hashing
    the stable doc_id through md5 hex digits — engine-independent, so
    the same doc lands in the same split on any system, any run, any
    cluster size (the property `sample(fraction, seed)` does NOT give
    you across engines).  A pure narrow map: no shuffle except the
    final small count aggregate; at 100 TB the split column is
    computed on write and used as a partition key."""
    d = load_table(spark, sf_dir, "documents")
    hexd = "0123456789abcdef"
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (
        (F.expr(f"instr('{hexd}', substring(md5(CAST(doc_id AS STRING)), 1, 1))") - 1) * 256
        + (F.expr(f"instr('{hexd}', substring(md5(CAST(doc_id AS STRING)), 2, 1))") - 1) * 16
        + (F.expr(f"instr('{hexd}', substring(md5(CAST(doc_id AS STRING)), 3, 1))") - 1)
    )
    tagged = d.select(
        "doc_id",
        "lang",
        F.when(bucket < 3277, "train").when(bucket < 3686, "val").otherwise("test").alias(
            "split"
        ),
    )
    return tagged.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


@query(
    "llm_decontaminate",
    group="llm_ext",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(w) - 6, 1)),
             i -> array_to_string(list_slice(w, i, i + 7), ' ')))) AS g
  FROM toks
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 47 = 0
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams
  WHERE doc_id % 47 <> 0 GROUP BY doc_id
), hits AS (
  SELECT doc_id, count(*) AS n_overlap
  FROM grams JOIN bench USING (g)
  WHERE doc_id % 47 <> 0 GROUP BY doc_id
)
SELECT s.doc_id,
       s.n_grams,
       coalesce(h.n_overlap, 0) AS n_overlap,
       round(CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / s.n_grams, 6)
           AS contamination
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
""",
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document fraction of word
    8-grams that also appear in a held-out eval set (docs with
    doc_id % 47 == 0 stand in for the benchmark corpus) — the
    standard pre-training hygiene check that catches eval material
    embedded in training text, which exact/near dedup misses because
    the surrounding document differs.

    Scale: explode distinct 8-grams (narrow map), equi-join against
    the DISTINCT benchmark-gram set on the gram string.  No explicit
    broadcast hint: millions of 8-word gram strings (real eval
    suites) are hundreds of MB — over any sane broadcast threshold —
    so the planner must stay free to pick a shuffle join there, while
    at fixture scale the threshold/AQE pick the broadcast on their
    own.  Per-doc counts are one map-side-combined aggregate.
    Flagging/quarantining is a filter on the returned rate, left to
    the caller (policy, not engine)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    # guard the short-doc case: Spark's sequence(1, 0) is DESCENDING
    # ([1, 0]), not empty, so docs under 8 words need an explicit
    # empty-array branch (mirrors DuckDB's empty range(1, 1))
    gram_array = F.when(
        n >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - 7),
                lambda i: F.concat_ws(" ", F.slice("w", i, 8)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = d.select("doc_id", F.explode(gram_array).alias("g"))
    bench = grams.filter(F.col("doc_id") % 47 == 0).select("g").distinct()
    corpus = grams.filter(F.col("doc_id") % 47 != 0)
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        corpus.join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        F.round(
            F.coalesce("n_overlap", F.lit(0)).cast("double") / F.col("n_grams"), 6
        ).alias("contamination"),
    )


@query("llm_dedup_cc", group="llm_ext", tier="C")
def llm_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: near-dup pairs -> connected components -> one
    kept representative (the min doc_id) per component.  This is the
    step that turns pairwise similarity into an actual drop list; the
    unit test checks the labels against a local union-find.  Consumes
    the SAME persisted pair set llm_dedup_near emits (one pipeline run
    per session, not one per consumer)."""
    from pg_telemetry_spark.operators.components import connected_components

    pairs = _near_dup_pairs(spark, sf_dir, threshold=0.5)
    labels = connected_components(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_kept"),
    )


@query(
    "llm_winnowing",
    group="llm_ext",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 7
), wh AS (
  SELECT doc_id,
         list_transform(t, w -> CAST(ascii(substring(w, 1, 1)) * 31
                                     + length(w) AS BIGINT)) AS v
  FROM toks
), gh AS (
  SELECT doc_id,
         list_transform(range(1, len(v) - 2),
           i -> (((v[i] * 131 + v[i+1]) * 131 + v[i+2]) * 131 + v[i+3])
                % 1000000007) AS hs
  FROM wh
), sel AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(hs) - 2),
                j -> list_min(hs[j:j+3])))) AS fp
  FROM gh
), keepfp AS (
  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 64
)
SELECT s1.doc_id AS doc1, s2.doc_id AS doc2, count(*) AS n_shared
FROM sel s1
JOIN keepfp k ON s1.fp = k.fp
JOIN sel s2 ON s1.fp = s2.fp AND s1.doc_id < s2.doc_id
GROUP BY doc1, doc2
HAVING count(*) >= 2
""",
)
def llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint match (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): per document, hash word 4-grams with the
    cross-engine polynomial (same convention as llm_fingerprint),
    take the minimum hash of every 4-wide sliding window, and keep
    the distinct selected values — the guarantee is that any shared
    run of >= 7 tokens yields at least one shared selected
    fingerprint.  Documents are then matched on selected
    fingerprints; pairs sharing >= 2 are reported.

    Scale shape: selection is a narrow Arrow-vectorized numpy kernel
    (``operators/winnow.py`` — the r8 nested-HOF fold was interpreted
    per element and cost ~16 s for 1.5 MB of text on one core; the
    kernel is ~15 whole-batch numpy ops, integer-exact to the same
    polynomial), and it is evaluated exactly ONCE —
    the match is a single groupBy(fp) that collects the (sorted,
    distinct-by-construction) doc list per fingerprint, applies the
    MOSS-style stop-fingerprint guard (doc-frequency > 64 dropped)
    in the SAME aggregate, then explodes id-ordered pairs from the
    <= 64-wide list — bounded 64*63/2 pairs per fingerprint, never
    all-pairs, never a self-join that would re-run the fold.  (The
    r8 shape joined sel to itself through a keepfp aggregate, which
    made Spark re-evaluate the O(tokens x window) fold three times:
    37-40 s at sf0.1, 305 s at sf1.  One evaluation + two exchanges
    now.)  The guard plays the same hot-bucket role as the LSH star
    degrade: a boilerplate fingerprint shared by thousands of docs
    cannot create a quadratic pair blowup."""
    from pg_telemetry_spark.operators.winnow import winnow_select

    d = load_table(spark, sf_dir, "documents")
    sel = winnow_select(d)
    # one shuffle on fp; (doc_id, fp) is distinct by construction
    # (the kernel dedupes per doc), so the sorted list is strictly
    # increasing and doc1 < doc2 falls out of the id-ordered
    # expansion.  size-1 groups contribute no pairs; > 64 is the
    # stop-fingerprint guard.
    grouped = (
        sel.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids").between(2, 64))
    )
    ids = F.col("ids")
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, i + F.lit(1), F.size(ids)),
                lambda y: F.struct(
                    F.element_at(ids, i).alias("doc1"), y.alias("doc2")
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc1").alias("doc1"), F.col("p.doc2").alias("doc2"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query(
    "llm_embed_outlier",
    group="llm_ext",
    tier="B",
    oracle="""
WITH ex AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cent AS (
  SELECT label, i, avg(x) AS cx FROM ex GROUP BY label, i
), dist AS (
  SELECT ex.vec_id, ex.label,
         round(sqrt(sum((x - cx) * (x - cx))), 6) AS d
  FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
  GROUP BY ex.vec_id, ex.label
), dd AS (
  SELECT vec_id, label, d, CAST(d AS DECIMAL(18,6)) AS ddec FROM dist
), st AS (
  SELECT label, count(*) AS n,
         CAST(sum(ddec) AS DOUBLE) AS s1,
         CAST(sum(ddec * ddec) AS DOUBLE) AS s2
  FROM dd GROUP BY label
), fin AS (
  SELECT label, s1 / n AS mean_d,
         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd_d
  FROM st
)
SELECT dd.vec_id, dd.label,
       dd.d AS dist_to_centroid,
       round((dd.d - fin.mean_d) / fin.sd_d, 6) AS z,
       (dd.d - fin.mean_d) / fin.sd_d > 2.0 AS is_outlier
FROM dd JOIN fin USING (label)
""",
)
def llm_embed_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection: distance to the per-label centroid
    (same fully-distributed explode/avg/rejoin as llm_centroid),
    z-scored against that label's distance distribution — the
    mislabeled-example / corrupt-embedding screen a curation pipeline
    runs before contrastive training (flag z > 2).

    Determinism: the per-label mean/std are computed from EXACT
    DECIMAL sums of the rounded-6 distances (sum and sum-of-squares
    of DECIMAL(18,6) values are exact and order-independent; the
    final double formula evaluates identical operands on both
    engines).  Scale: two shuffles keyed by (label, i) and (vec_id)
    for the distances, one tiny per-label aggregate broadcast back —
    the stats side is O(labels), never O(vectors)."""
    from pg_telemetry_spark.operators.similarity import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode(as_double("embedding")).alias("i", "x")
    )
    cent = ex.groupBy("label", "i").agg(F.avg("x").alias("cx"))
    diff = F.col("x") - F.col("cx")
    dist = (
        ex.join(cent, ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.round(F.sqrt(F.sum(diff * diff)), 6).alias("d"))
    )
    dd = dist.withColumn("ddec", F.col("d").cast("decimal(18,6)"))
    st = dd.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum("ddec").cast("double").alias("s1"),
        F.sum(F.col("ddec") * F.col("ddec")).cast("double").alias("s2"),
    )
    fin = st.select(
        "label",
        (F.col("s1") / F.col("n")).alias("mean_d"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd_d"),
    )
    z = (F.col("d") - F.col("mean_d")) / F.col("sd_d")
    return dd.join(F.broadcast(fin), "label").select(
        "vec_id",
        "label",
        F.col("d").alias("dist_to_centroid"),
        F.round(z, 6).alias("z"),
        (z > 2.0).alias("is_outlier"),
    )


# LSH (bands x rows) planner grid — every config multiplies to the
# 64-permutation signature used by llm_dedup_near.
_BAND_GRID = [(4, 16), (8, 8), (16, 4), (32, 2)]


def _pow_sq_sql(expr: str, n: int) -> str:
    """expr**n as an explicit squaring chain (n a power of two) —
    both engines evaluate the SAME IEEE multiplication tree, so the
    result is bit-identical (libm pow() is not guaranteed to be)."""
    while n > 1:
        expr = f"(({expr}) * ({expr}))"
        n //= 2
    return expr


def _pow_sq_col(col: F.Column, n: int) -> F.Column:
    while n > 1:
        col = col * col
        n //= 2
    return col


def _band_tuning_oracle() -> str:
    legs = []
    for b, r in _BAND_GRID:
        p = _pow_sq_sql("s", r)
        cap = f"(1.0 - {_pow_sq_sql(f'(1.0 - {p})', b)})"
        legs.append(
            f"""
SELECT {b} AS bands, {r} AS rows_per_band, sim_bucket, pair_count,
       round({cap}, 6) AS capture_prob
FROM (SELECT sim_bucket, pair_count,
             CAST(2 * sim_bucket + 1 AS DOUBLE) / 40.0 AS s
      FROM hist)"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
), pairs AS (
  SELECT a.doc_id AS id_a,
         count(*) FILTER (WHERE b.w IS NOT NULL) AS inter,
         any_value(na.n) + any_value(nb.n)
           - count(*) FILTER (WHERE b.w IS NOT NULL) AS uni
  FROM toks a
  LEFT JOIN toks b ON b.doc_id = a.doc_id + 1 AND b.w = a.w
  JOIN (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id) na
    ON na.doc_id = a.doc_id
  JOIN (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id) nb
    ON nb.doc_id = a.doc_id + 1
  GROUP BY a.doc_id
), hist AS (
  SELECT least(CAST((20 * inter) // uni AS INTEGER), 19) AS sim_bucket,
         count(*) AS pair_count
  FROM pairs GROUP BY 1
)
{union}
ORDER BY bands, sim_bucket
"""


@query("llm_band_tuning", group="llm_ext", oracle=_band_tuning_oracle())
def llm_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planner: measure the corpus's actual
    pairwise-similarity profile on a deterministic O(N) pair sample
    (consecutive doc_ids), bucket exact Jaccard into 20 bins, and for
    each candidate (bands x rows) config report the S-curve capture
    probability ``1 - (1 - s^r)^b`` at the bucket midpoint next to the
    observed pair mass — the numbers that pick ``llm_dedup_near``'s
    banding for a given corpus instead of folklore defaults.

    Determinism: bucket indices are pure integer arithmetic
    (``(20*inter) div uni``), and the S-curve powers are explicit
    SQUARING CHAINS (both engines run the identical IEEE
    multiplication tree) rather than libm ``pow`` — so tier A hash
    matching holds.  Scale shape: the pair sample is an equi-join on
    ``doc_id+1`` (no all-pairs), the histogram is 20 rows, and the
    config grid is a constant 4-row expansion of that 20-row table."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    b = toks.select((F.col("doc_id") - 1).alias("id_a"), F.col("w").alias("bw"))
    inter = (
        toks.join(b, (F.col("doc_id") == F.col("id_a")) & (F.col("w") == F.col("bw")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc_id"), F.col("n").alias("n_a"))
    nb = sizes.select((F.col("doc_id") - 1).alias("doc_id"), F.col("n").alias("n_b"))
    pairs = (
        na.join(nb, "doc_id")
        .join(inter, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("inter", F.lit(0)).alias("inter"),
            (F.col("n_a") + F.col("n_b") - F.coalesce("inter", F.lit(0))).alias("uni"),
        )
    )
    hist = (
        pairs.select(
            F.least(
                F.expr("CAST((20 * inter) div uni AS INT)"), F.lit(19)
            ).alias("sim_bucket")
        )
        .groupBy("sim_bucket")
        .agg(F.count("*").alias("pair_count"))
    )
    # pin the <=20-row histogram (optimization r16): the 4-leg config
    # union below otherwise re-runs the whole explode/join/agg
    # pipeline once PER GRID CONFIG — measured 31 single-task jobs per
    # run at sf0.1; each leg is a constant projection of this table
    from pg_telemetry_spark.cache import pin

    hist = pin(hist)
    s = (2 * F.col("sim_bucket") + 1).cast("double") / F.lit(40.0)
    legs = []
    for bands, rows in _BAND_GRID:
        p = _pow_sq_col(s, rows)
        cap = F.lit(1.0) - _pow_sq_col(F.lit(1.0) - p, bands)
        legs.append(
            hist.select(
                F.lit(bands).alias("bands"),
                F.lit(rows).alias("rows_per_band"),
                "sim_bucket",
                "pair_count",
                F.round(cap, 6).alias("capture_prob"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("bands", "sim_bucket")


def _pq_assign(sub, books):
    """Per-subspace nearest-centroid codes via the BLAS expansion
    |a-b|^2 = |a|^2 + |b|^2 - 2ab (the same matmul trick semdedup's
    quantizer uses — the broadcast-subtract formulation materializes
    an (n, m, ks, dsub) intermediate that is pure memory traffic).
    ``sub`` is (n, m, dsub), ``books`` (m, ks, dsub); returns (n, m)
    int codes, ties to the lowest centroid index (np.argmin)."""
    import numpy as np

    n, m, _ = sub.shape
    codes = np.empty((n, m), dtype=np.int64)
    for mi in range(m):
        a = sub[:, mi, :]
        b = books[mi]
        d2 = (
            (a * a).sum(axis=1)[:, None]
            + (b * b).sum(axis=1)[None, :]
            - 2.0 * a @ b.T
        )
        codes[:, mi] = d2.argmin(axis=1)
    return codes


def _pq_train(sample, m: int = 8, ks: int = 16, dsub: int = 8, rounds: int = 8):
    """Per-subspace Lloyd k-means over a deterministic sample.

    Init = the ``ks`` lowest-sample-index subvectors; assignment ties
    break to the lowest centroid index (np.argmin) and empty cells
    keep their previous centroid, so the result is reproducible
    anywhere numpy runs.  Centroid updates are vectorized
    (np.add.at + bincount — the per-centroid boolean-mask loop cost
    seconds at ks=256)."""
    import numpy as np

    sub = sample.reshape(len(sample), m, dsub)
    books = sub[:ks].transpose(1, 0, 2).copy()  # (m, ks, dsub)
    for _ in range(rounds):
        codes = _pq_assign(sub, books)  # (n, m)
        for mi in range(m):
            c = codes[:, mi]
            sums = np.zeros((ks, dsub))
            np.add.at(sums, c, sub[:, mi, :])
            cnt = np.bincount(c, minlength=ks).astype(np.float64)
            nz = cnt > 0
            books[mi, nz] = sums[nz] / cnt[nz, None]
    return books


@query("llm_ann_pq", group="llm_ext", tier="C")
def llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-ranking (Jégou et al.
    2011, "Product Quantization for Nearest Neighbor Search", the
    ADC+R variant): split the 64-dim embedding into m=8 subvectors,
    quantize each against a 256-centroid per-subspace codebook (the
    canonical one BYTE per subspace), shortlist the top R=100 by
    Asymmetric Distance Computation over the codes, then re-rank the
    shortlist by EXACT distance on the raw vectors and return the
    top-10.

    ks=256 + re-rank is what the round-13 clustered-geometry recall
    measurement forced: at ks=16 every member of a tight cluster
    encodes to the SAME code, ADC distances tie across hundreds of
    candidates, and the id tie-break picks an arbitrary 10 — measured
    recall was literally 0.0 on gaussian-mixture embeddings (and the
    pure-ADC top-10 never exceeded 0.2 even isotropic).  Fine codes
    shrink the tie cells; the exact re-rank then fixes within-
    shortlist order (measured recall@10: 0.0 → 0.7 clustered,
    0.1-0.2 → 0.9-1.0 isotropic; ANN_RECALL.json).

    Scale story: codes are m bytes per vector (8 B vs 256 B raw), the
    ADC scan is one ``mapInPandas`` pass with NO shuffle that emits
    only its per-batch top-R (the global TakeOrdered exchange carries
    R rows per partition, not the corpus), and the codebook + LUT
    ship as a task-closure constant (m*256*8 floats = 128 KB).  The
    re-rank fetches raw vectors for just the R survivors via a
    broadcast semi-join on vec_id and computes the exact distance
    JVM-side (zip_with/aggregate, whole-stage codegen) — at 100 TB
    this is the standard layered design: coarse IVF partition → PQ
    code scan → exact re-rank on R << n rows.  Determinism: fixed
    lowest-id training sample, lowest-id k-means init, lowest-index
    argmin ties, id-tie-broken orderings at both stages.  Tier C: PQ
    distances are approximations with no SQL oracle; recall vs the
    exact brute-force top-k is pinned by a golden test."""
    import numpy as np
    import pandas as pd

    M, KS, DSUB, TOPK, NTRAIN = 8, 256, 8, 10, 2048
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # Adaptive shortlist: a FIXED R shrinks relative to n and recall
    # decays with scale (measured: R=100 recall@10 fell 0.9 -> 0.3
    # across the ladder; the R-sweep in ANN_RECALL.json "pq_r_sweep"
    # shows 0.5% of the corpus recovers 0.8-0.9).  R = n/200 keeps
    # the re-rank a fixed 0.5% fraction — still R << n rows through
    # the broadcast join — capped so the shortlist exchange stays
    # bounded on any corpus (at true 100 TB the IVF layer bounds n
    # per cell first).
    n_corpus = emb.count()  # bounded scalar (SCALE.md inventory)
    R = min(2000, max(100, n_corpus // 200))
    # deterministic codebook training sample: the NTRAIN lowest
    # vec_ids (a bounded driver collect — PQ codebooks are trained on
    # a small sample in practice; the full corpus is only ENCODED)
    seed_rows = emb.orderBy("vec_id").limit(NTRAIN).collect()
    sample = np.array([r.v for r in seed_rows], dtype=np.float64)
    books = _pq_train(sample, m=M, ks=KS, dsub=DSUB)  # (M, 256, 8)
    q_row = seed_rows[0]
    q_id = int(q_row.vec_id)
    qvec = list(map(float, q_row.v))
    q = np.array(q_row.v, dtype=np.float64).reshape(M, DSUB)
    # ADC lookup table: squared distance from each query subvector to
    # every centroid of its subspace
    lut = ((books - q[:, None, :]) ** 2).sum(axis=2)  # (M, 256)

    def adc_scan(batches):
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)  # (n, 64)
            codes = _pq_assign(X.reshape(len(pdf), M, DSUB), books)
            adc = lut[np.arange(M)[None, :], codes].sum(axis=1)  # (n,)
            out = pd.DataFrame(
                {"vec_id": pdf["vec_id"], "adc_dist": np.round(adc, 6)}
            )
            # per-batch pre-prune: only this batch's R best can reach
            # the global top-R, so the scan's output is R rows per
            # Arrow batch, not the corpus.  The query's own row is
            # excluded HERE, before head(R) — otherwise the batch
            # holding q contributes only R-1 real candidates and the
            # global shortlist can drop one boundary candidate.
            out = out[out["vec_id"] != q_id]
            yield out.sort_values(
                ["adc_dist", "vec_id"], kind="mergesort"
            ).head(R)

    scored = emb.mapInPandas(adc_scan, schema="vec_id long, adc_dist double")
    shortlist = scored.orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    ).limit(R)
    # exact re-rank: raw vectors for the R survivors only (broadcast
    # hash join on vec_id), exact squared distance in codegen
    qlit = F.array(*[F.lit(x) for x in qvec])
    rer = (
        emb.join(F.broadcast(shortlist), "vec_id")
        .withColumn(
            "exact_dist",
            F.round(
                F.aggregate(
                    F.zip_with("v", qlit, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
        .orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
        .limit(TOPK)
    )
    return rer.select(
        F.row_number()
        .over(Window.orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc()))
        .alias("rank"),
        "vec_id",
        "adc_dist",
        "exact_dist",
    )
