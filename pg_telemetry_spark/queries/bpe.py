"""Distributed BPE tokenizer training over the corpus (round 8).

Byte-pair-encoding vocabulary induction is the canonical ITERATIVE
aggregation workload of a training-data pipeline: every merge round is
a corpus-wide pair count + arg-max, and the merge table IS the
tokenizer artifact shipped to the trainer.  Two operators:

- ``llm_bpe_pairs`` (tier A): one counting round over the raw token
  stream — the exact first-iteration statistics, DuckDB-oracled.
- ``llm_bpe_train`` (tier C): k full merge rounds over the
  word-frequency table, driver loop with ONE single-row collect per
  round (the components.py convergence-witness discipline).

Scale design: classic BPE trains on the DISTINCT-word frequency table,
not the corpus — so the only corpus-sized shuffle is the initial
word-count (map-side combine onto short string keys, at 100 TB hashed
to 8 bytes exactly like llm_chunk_dedup).  Every merge round then
operates on the vocabulary (thousands-to-millions of rows — executor
resident at any corpus size), and driver traffic per round is the
single winning pair, never data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg_telemetry_spark.session import iter_checkpoint, local_frame
from pg_telemetry_spark.cache import pin
from pg_telemetry_spark.registry import query
from pg_telemetry_spark.tables import load_table


@query(
    "llm_bpe_pairs",
    group="llm_ext",
    oracle="""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
prs AS (
  SELECT substring(tok, CAST(i AS INT), 2) AS pair
  FROM toks, LATERAL (SELECT unnest(generate_series(1, length(tok) - 1)) AS i) g
  WHERE length(tok) >= 2
),
cnt AS (SELECT pair, count(*) AS n FROM prs GROUP BY pair)
SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank, pair, n
FROM cnt ORDER BY n DESC, pair LIMIT 20
""",
)
def llm_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE iteration statistics: adjacent character-pair counts
    over the whole token stream, top-20 merge candidates.  This is the
    un-deduplicated (corpus-weighted) variant — exactly what one
    counting round of BPE computes before the first merge.

    Scale shape: explode to (token, char-pair) rows but aggregate on a
    2-char key — partial (map-side) aggregation collapses each task's
    output to <= |alphabet|^2 rows before the single tiny shuffle;
    top-20 is TakeOrdered (no global sort), and the rank column is a
    window over the 20 collected survivors only."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    cnt = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    top = cnt.orderBy(F.desc("n"), "pair").limit(20)
    # rank over the 20-row TakeOrdered result — single tiny partition
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), "pair")).cast("long")
    ).select("rank", "pair", "n")


def _merge_fold(a: str, b: str) -> F.Column:
    """Rebuild ``syms`` with every leftmost non-overlapping adjacent
    (a, b) occurrence replaced by the merged symbol — the standard BPE
    replace pass, as a single JVM-side array fold (no UDF)."""
    merged = a + b
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    docs: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a document corpus.

    Returns ``[(rank, sym_a, sym_b, merged, count), ...]`` — the merge
    table, in order.  Pair counts are corpus-weighted (word frequency x
    within-word adjacent occurrences, overlapping — the GPT-2 counting
    convention); the replace pass is leftmost non-overlapping.

    One corpus-sized shuffle total (the initial word count); each of
    the k rounds shuffles only the vocabulary-sized pair frame and
    collects exactly one row (the arg-max pair).  Lineage across
    rounds is truncated with a lazy localCheckpoint per round, the
    same discipline as operators/components.py's label iteration.
    """
    vocab = (
        docs.select(F.explode(F.split(text_col, " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("wn"))
        .select(F.expr("filter(split(w, ''), s -> s != '')").alias("syms"), "wn")
    )
    vocab = pin(vocab)
    # materialize the one corpus-wide aggregation; the measured vocab
    # size then derives the merge loop's shuffle width (optimization
    # r17, same discipline as the graph/CC loops): every per-round
    # pair count is vocab-bounded, so AQE's per-stage barrier jobs
    # buy nothing inside the loop while costing one blocking job per
    # materialized stage; a vocabulary past the small cap runs under
    # the session conf unchanged.
    n_vocab = vocab.count()
    from pg_telemetry_spark.session import loop_sizing

    with loop_sizing(docs.sparkSession, n_vocab):
        return _bpe_merge_loop(vocab, n_merges)


def _bpe_merge_loop(
    vocab: DataFrame, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        pc = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS a,"
                        "             element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
                "wn",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("wn").alias("n"))
        )
        top = pc.orderBy(F.desc("n"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((r, a, b, a + b, n))
        vocab = iter_checkpoint(
            vocab.select(_merge_fold(a, b).alias("syms"), "wn"), eager=False
        )
    return merges


@query("llm_bpe_train", group="llm_ext", tier="C")
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-round distributed BPE training over the documents corpus —
    see :func:`bpe_train`.  Tier C: the merge table is produced by an
    iterative driver loop (not one SQL statement); a pure-Python
    reference implementation pins the exact merge sequence in
    tests/test_tierc_coverage.py."""
    d = load_table(spark, sf_dir, "documents")
    rows = bpe_train(d, n_merges=8)
    return local_frame(
        spark, rows, "rank BIGINT, sym_a STRING, sym_b STRING, merged STRING, n BIGINT"
    )


def bpe_apply_to_vocab(vocab: DataFrame, merges) -> DataFrame:
    """Apply a learned merge table to a (``syms``, ``wn``) vocabulary
    frame, in rank order.  Each merge is one narrow array fold over
    the VOCAB (never the corpus); k merges = k chained folds in a
    single projection pipeline."""
    out = vocab
    for _rank, a, b, _m, _n in merges:
        out = out.select(_merge_fold(a, b).alias("syms"), *[
            c for c in out.columns if c != "syms"
        ])
    return out


@query("llm_bpe_apply", group="llm_ext", tier="C")
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the BPE merges learned by
    :func:`bpe_train` — the apply half of the tokenizer loop — and
    report the per-source compression it buys: characters per BPE
    token before/after the 8 merges.

    Scale shape: merges apply to the DISTINCT-WORD vocabulary (k
    narrow folds over a vocab-sized frame), and per-word BPE token
    counts come back to documents via a broadcast join on the word —
    the corpus is scanned once for the word explode and once more
    never; no merge logic ever touches a corpus-sized row.  Tier C
    (depends on the trained merge table); the value-level golden in
    tests/test_units_bpe.py pins apply against the same pure-Python
    reference as training."""
    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=8)
    words = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("wn"))
        .select(
            "w", F.expr("filter(split(w, ''), s -> s != '')").alias("syms")
        )
    )
    tokenized = bpe_apply_to_vocab(vocab, merges).select(
        "w", F.size("syms").alias("n_bpe"), F.length("w").alias("n_chars")
    )
    joined = words.join(F.broadcast(tokenized), "w")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_words"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_bpe").alias("n_bpe_tokens"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
        ).alias("chars_per_token"),
    )
