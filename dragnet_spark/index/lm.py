"""Frozen reference-LM store: build interpolated bigram-LM counts
once from a trusted corpus, score any later batch or stream against
them.

:mod:`dragnet_spark.ops.text`'s ``unigram_logprob``/``bigram_logprob``
score a corpus under its OWN distribution — right for intra-corpus
quality ranking, wrong for ingest gating, where the model must be
FROZEN on reference data before the first byte of new data arrives
(else spam in the batch shifts the distribution it is judged by).
This store is the frozen form, the same never-rescan discipline as
the fingerprint stores (``index/fingerprints.py``): counts persist
once, every future batch joins against them.

Layout::

    <path>/_lm_store.json   {version, total_tokens, vocab_size,
                             min_count, lam_pct}
    <path>/unigrams/        (tok, c1, cu)  — corpus count + count as
                            a LEFT CONTEXT (occurrences with a
                            successor: the MLE bigram denominator)
    <path>/bigrams/         (u, v, c2) for c2 >= min_count — the
                            df-cap that keeps the table joinable at
                            web scale (the singleton-bigram tail is
                            most of the mass and carries no signal)

Scoring semantics (shared verbatim by the DuckDB oracle —
``registry/curation._lm_scores_oracle``): per bigram occurrence
(u, v) of the scored document,

    p = lam * (c2(u,v) / cu(u))            [0 when the bigram is
                                            capped out or u is OOV]
      + (1-lam) * ((c1(v) + 1) / (T + V + 1))   [add-one unigram
                                            prior: OOV v gets the
                                            floor 1/(T+V+1), never
                                            ln(0)]

with T = reference total tokens, V = reference vocab size. The log
is rounded to an e9 integer (transcendental outputs are
boundary-safe), summed as exact bigints, and the per-doc mean uses
the sign-safe truncating integer division — the engine-exactness
discipline every graded text entry follows.

Scale shape: the store build is two token-key aggregations; scoring
is one (doc, bigram) explode, two vocabulary-key left joins that AQE
broadcasts when the capped tables are small and shuffles when not,
and a doc-key aggregation. Streaming: score inside ``foreachBatch``
(compose with the live-store ingester — see
``tests/test_lm_store.py``); per micro-batch it is exactly the batch
path, so stream == batch by construction.
"""

from __future__ import annotations

from dragnet_spark.errors import ContractError

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dragnet_spark.index.store import read_meta, write_meta
from dragnet_spark.ops import spread
from dragnet_spark.ops.text import tokens

LM_MARKER = "_lm_store.json"
_VERSION = 1


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str | None):
    toks = tokens(text_col)
    n = F.size(toks)
    bg = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda u, v: F.struct(u.alias("u"), v.alias("v")),
    )
    cols = [F.col(id_col)] if id_col else []
    return (
        spread(df)
        .filter(n >= 2)
        .select(*cols, F.explode(bg).alias("b"))
        .select(*([id_col] if id_col else []),
                F.col("b.u").alias("u"), F.col("b.v").alias("v"))
    )


def build_lm_store(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    min_count: int = 2,
    lam_pct: int = 80,
) -> dict:
    """Freeze the reference corpus's LM counts at ``path``. Returns
    the meta dict. The store is immutable: gating must not let the
    judged data shift the judge, so growing the reference is a
    rebuild, not an append."""
    if not (0 < lam_pct < 100):
        raise ContractError("lam_pct must be in (0, 100)")
    tok = spread(df).select(F.explode(tokens(text_col)).alias("tok"))
    c1 = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    bg = _doc_bigrams(df, text_col, None)
    c2_all = bg.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c2"))
    cu = c2_all.groupBy("u").agg(F.sum("c2").alias("cu"))
    uni = c1.join(cu, c1.tok == cu.u, "left").select(
        "tok", "c1", F.coalesce("cu", F.lit(0)).alias("cu")
    )
    os.makedirs(path, exist_ok=True)
    uni.repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, "unigrams")
    )
    c2_all.filter(F.col("c2") >= min_count).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "bigrams"))
    stats = spark.read.parquet(os.path.join(path, "unigrams")).agg(
        F.sum("c1").alias("t"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    meta = {
        "version": _VERSION,
        "total_tokens": int(stats["t"]),
        "vocab_size": int(stats["v"]),
        "min_count": min_count,
        "lam_pct": lam_pct,
    }
    write_meta(path, LM_MARKER, meta)
    return meta


def load_lm_meta(path: str) -> dict:
    return read_meta(path, LM_MARKER)


def score_against_lm_store(
    spark: SparkSession,
    lm_path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_bigrams, mean_logp) for every document of ``df``
    with >= 2 tokens, under the FROZEN reference LM at ``lm_path``
    (module docstring has the exact formula). Unseen tokens take the
    add-one floor — a fully-OOV document scores ln((1-lam)/(T+V+1))
    per token, the store's hardest fail."""
    meta = load_lm_meta(lm_path)
    lam = meta["lam_pct"] / 100.0
    denom = float(meta["total_tokens"] + meta["vocab_size"] + 1)
    uni = spark.read.parquet(os.path.join(lm_path, "unigrams"))
    big = spark.read.parquet(os.path.join(lm_path, "bigrams"))
    dbc = (
        _doc_bigrams(df, text_col, id_col)
        .groupBy(id_col, "u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = (
        dbc.join(big, ["u", "v"], "left")
        .join(
            uni.select(F.col("tok").alias("u"), F.col("cu")), "u", "left"
        )
        .join(
            uni.select(F.col("tok").alias("v"), F.col("c1")), "v", "left"
        )
    )
    # fixed evaluation order, written identically in the SQL twin:
    # lam * (c2/cu | 0) + (1-lam) * ((c1+1)/(T+V+1))
    p = (
        F.lit(lam)
        * F.coalesce(
            F.col("c2").cast("double") / F.col("cu"), F.lit(0.0)
        )
        + F.lit(1.0 - lam)
        * ((F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.lit(1.0))
           / F.lit(denom))
    )
    per_tok = scored.select(
        id_col, "n",
        F.round(F.log(p) * F.lit(1e9), 0).cast("long").alias("logp_e9"),
    )
    per_doc = per_tok.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        F.sum(F.col("logp_e9") * F.col("n")).alias("sum_e9"),
    )
    mean = (
        (-F.expr("(-sum_e9) div n_bigrams")).cast("double") / F.lit(1e9)
    ).alias("mean_logp")
    return per_doc.select(id_col, "n_bigrams", mean)


def lm_gate(
    spark: SparkSession,
    lm_path: str,
    df: DataFrame,
    min_mean_logp: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter ``df`` to documents whose mean log-prob under the
    frozen LM is >= ``min_mean_logp``; documents with < 2 tokens are
    dropped (no bigram evidence — the length gate upstream owns
    those). Batch-shaped on purpose: inside ``foreachBatch`` it is
    the streaming gate, and stream == batch by construction."""
    scores = score_against_lm_store(
        spark, lm_path, df, text_col=text_col, id_col=id_col
    )
    keep = scores.filter(
        F.col("mean_logp") >= min_mean_logp
    ).select(id_col)
    return df.join(keep, id_col, "semi")
