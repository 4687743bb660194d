"""Frozen benchmark Bloom store: freeze the eval corpus's gram set
once, decontaminate every later batch or stream against it.

:func:`ops.decontam.benchmark_overlap_bloom` rebuilds its bitset from
the eval slice on every run — right for a one-shot audit, wasteful
for an ingest loop where the benchmark corpus is fixed and every
arriving batch must be screened. This store is the frozen form, the
same build-once discipline as the LM store (``index/lm.py``): the
bitset and the exact gram table persist once; every future batch
probes them without re-reading benchmark text.

Layout::

    <path>/_bloom_store.json  {version, m_bits, k, gram_n, n_grams}
    <path>/bitset.bin         packed bitset, m_bits/8 bytes,
                              little-endian bit order within bytes
    <path>/grams/             (gh) distinct eval gram md5 hashes —
                              the exact verify side; only bloom
                              candidates ever join it

The store is immutable by contract (a growing benchmark set is a
rebuild, not an append — same frozen-judge property as the LM
store), so the maintenance fleet view lists it but never compacts
it (``index/maintain.py``).

Scale shape: a probe broadcasts the fixed-size bitset (128 KiB
default; 128 MiB covers 10⁸ grams at ~1% fpp) to screen every
arriving gram Arrow-batched; the on-disk gram table — the part that
grows with the benchmark suite — is touched only by the
~true-hit-sized verify join. Streaming: gate inside ``foreachBatch``
ahead of the live-store ingester (see ``tests/test_bloom_store.py``);
per micro-batch it is exactly the batch path, so stream == batch by
construction.
"""

from __future__ import annotations

from dragnet_spark.errors import ContractError

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dragnet_spark.index.store import read_meta, write_meta
from dragnet_spark.ops.decontam import (
    DEFAULT_K,
    DEFAULT_M_BITS,
    bloom_build,
    overlap_report,
)
from dragnet_spark.ops.text import doc_gram_hashes

BLOOM_MARKER = "_bloom_store.json"
_VERSION = 1


def build_bloom_store(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    gram_n: int = 8,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    src_col: str | None = None,
) -> dict:
    """Freeze the benchmark corpus's distinct gram hashes at ``path``
    (bitset + exact gram table). Returns the meta dict.

    With ``src_col`` the gram table carries WHICH benchmark each gram
    belongs to — (gh, src) distinct pairs instead of bare (gh) — so
    :func:`attribute_against_bloom_store` can report per-benchmark
    hit counts. The bitset and the gate/score semantics are
    unchanged (scoring dedups to distinct gh first); a gram shared
    by several benchmarks attributes to each.
    """
    # doc_gram_hashes needs an id column; synthesize one so callers
    # can pass a bare (text) benchmark frame
    with_id = df.withColumn("__bid", F.monotonically_increasing_id())
    g = doc_gram_hashes(with_id, text_col, "__bid", gram_n)
    if src_col is not None:
        grams = (
            g.join(
                with_id.select("__bid", F.col(src_col).alias("src")),
                "__bid",
            )
            .select("gh", "src")
            .distinct()
        )
    else:
        grams = g.select("gh").distinct()
    os.makedirs(path, exist_ok=True)
    grams.write.mode("overwrite").parquet(os.path.join(path, "grams"))
    stored = spark.read.parquet(os.path.join(path, "grams"))
    bitset = bloom_build(
        stored.select("gh").distinct(), "gh", m_bits=m_bits, k=k
    )
    tmp = os.path.join(path, "bitset.bin.tmp")
    with open(tmp, "wb") as f:
        f.write(bitset)
    os.replace(tmp, os.path.join(path, "bitset.bin"))
    meta = {
        "version": _VERSION,
        "m_bits": m_bits,
        "k": k,
        "gram_n": gram_n,
        "n_grams": stored.select("gh").distinct().count(),
        "src_attribution": src_col is not None,
    }
    write_meta(path, BLOOM_MARKER, meta)
    return meta


def load_bloom_meta(path: str) -> dict:
    return read_meta(path, BLOOM_MARKER)


def score_against_bloom_store(
    spark: SparkSession,
    store_path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_grams, n_hit_grams, hit_frac, contaminated) for
    every document of ``df`` with >= gram_n tokens, against the
    FROZEN gram set at ``store_path`` — the same columns and rounding
    as :func:`ops.text.benchmark_overlap`. Shorter documents carry no
    gram evidence and are absent (definitionally clean)."""
    meta = load_bloom_meta(store_path)
    with open(os.path.join(store_path, "bitset.bin"), "rb") as f:
        bitset = f.read()
    bench = spark.read.parquet(os.path.join(store_path, "grams"))
    if meta.get("src_attribution"):
        # the gram table carries (gh, src) pairs; scoring needs each
        # gram once regardless of how many benchmarks contain it
        bench = bench.select("gh").distinct()
    grams = doc_gram_hashes(df, text_col, id_col, meta["gram_n"])
    return overlap_report(
        grams,
        bench,
        bitset,
        id_col=id_col,
        m_bits=meta["m_bits"],
        k=meta["k"],
    )


def attribute_against_bloom_store(
    spark: SparkSession,
    store_path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, bench_src, n_hit_grams) — per document, WHICH
    benchmark(s) it shares grams with and how many (occurrence-
    weighted on the document side, like the score). Requires a store
    built with ``src_col``; clean documents are absent. The removal
    decision is :func:`decontam_gate`'s; this is the audit a real
    decontamination run files — per-benchmark leak tallies.

    Same plan shape as the score: every gram screens against the
    broadcast bitset; only might-contain grams join the (gh, src)
    table, so the join stays ~true-hit-sized. A gram shared by
    several benchmarks attributes to each.
    """
    meta = load_bloom_meta(store_path)
    if not meta.get("src_attribution"):
        raise ContractError(
            "store was built without src_col; rebuild with "
            "build_bloom_store(..., src_col=...) to attribute"
        )
    with open(os.path.join(store_path, "bitset.bin"), "rb") as f:
        bitset = f.read()
    bench = spark.read.parquet(os.path.join(store_path, "grams"))
    grams = doc_gram_hashes(df, text_col, id_col, meta["gram_n"])
    from dragnet_spark.ops.decontam import bloom_candidates

    cand = bloom_candidates(
        grams, bitset, m_bits=meta["m_bits"], k=meta["k"]
    )
    return (
        cand.join(bench, "gh")  # inner: false positives drop out here
        .groupBy(id_col, F.col("src").alias("bench_src"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_grams"))
    )


def decontam_gate(
    spark: SparkSession,
    store_path: str,
    df: DataFrame,
    max_hit_frac: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter ``df`` to documents whose benchmark-overlap hit
    fraction is <= ``max_hit_frac`` (default: drop on ANY shared
    gram). Documents too short to carry a gram are kept — length
    gates upstream own those. Batch-shaped on purpose: inside
    ``foreachBatch`` it is the streaming gate, and stream == batch
    by construction."""
    scores = score_against_bloom_store(
        spark, store_path, df, text_col=text_col, id_col=id_col
    )
    drop = scores.filter(F.col("hit_frac") > max_hit_frac).select(id_col)
    return df.join(drop, id_col, "anti")
