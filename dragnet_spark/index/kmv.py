"""Incremental KMV store: a persisted bottom-k cardinality sketch a
continuous-ingest pipeline folds every arriving batch into.

Why a STORE: the live curation questions — "how big is each source's
vocabulary getting", "did yesterday's crawl actually add new tokens
or just re-crawl" — need a distinct count over EVERYTHING ingested so
far. Recomputing COUNT(DISTINCT) over the full corpus per batch is a
full-history shuffle per batch; the KMV sketch is O(groups·k) state
that folds a batch in one sketch-sized merge, and because bottom-k
merges EXACTLY (the k smallest of a union are among the union of the
k-smallest sets), N incremental folds produce BIT-IDENTICAL state to
one build over the concatenated data — the stream==batch exactness
discipline every dragnet store holds (tested in
``test_kmv_store.py``; same property the fp/band/SRP stores prove in
their soaks).

Layout (marker-file convention of index/maintain.py):

    <path>/_kmv_store.json      {version, k, value_col, group_cols}
    <path>/sketch/              (*group_cols, h) parquet — ≤ k rows
                                per group; partitioned by nothing
                                (state is sketch-sized by design)

Merges are lease-serialized and rewrite ``sketch/`` through the
shared stage-and-swap; the marker, swap and reader contract are
index/store.py's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dragnet_spark.index.lease import hold_lease
from dragnet_spark.index.store import (
    _read_store_parquet,
    _recover_staged,
    _stage_and_swap,
    read_meta,
    write_meta,
)
from dragnet_spark.ops.sketch import (
    bottom_k,
    estimate_from_sketch,
    kmv_hash,
    kmv_sketch_rows,
)

KMV_META = "_kmv_store.json"
SKETCH_DIR = "sketch"


def load_kmv_meta(path: str) -> dict:
    return read_meta(path, KMV_META)


def build_kmv_store(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    value_col: str,
    group_cols: list[str],
    k: int = 256,
) -> None:
    """Materialize the bottom-k sketch of ``df`` at ``path``."""
    sk = kmv_sketch_rows(df, value_col, list(group_cols), k)
    sk.write.mode("overwrite").parquet(os.path.join(path, SKETCH_DIR))
    write_meta(
        path,
        KMV_META,
        {
            "version": "1.0",
            "k": k,
            "value_col": value_col,
            "group_cols": list(group_cols),
            "algo": "md5-prefix-60bit",
        },
    )


def merge_kmv_batch(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Fold one arriving batch into the store: batch → bottom-k rows,
    union with the persisted sketch, re-take bottom-k, swap. The merge
    input is two sketch-sized sides — the batch's full data is
    reduced to ≤ k rows per group BEFORE touching the store."""
    meta = load_kmv_meta(path)
    k, gcols, vcol = meta["k"], meta["group_cols"], meta["value_col"]
    dest = os.path.join(path, SKETCH_DIR)
    with hold_lease(path, "kmv-merge"):
        batch = kmv_sketch_rows(df, vcol, gcols, k)
        _recover_staged(dest)
        cur = spark.read.parquet(dest).select(*gcols, "h")
        merged = bottom_k(cur.unionByName(batch), gcols, k)
        _stage_and_swap(
            dest,
            lambda stage: merged.coalesce(1).write.mode("overwrite")
            .parquet(stage),
        )


def kmv_store_estimate(spark: SparkSession, path: str) -> DataFrame:
    """(group..., est_distinct) read off the persisted sketch — no
    corpus scan, no shuffle beyond the ≤ groups·k stored rows."""
    meta = load_kmv_meta(path)
    sk = _read_store_parquet(spark, path, SKETCH_DIR)
    return estimate_from_sketch(sk, meta["group_cols"], meta["k"])


def kmv_store_contains(
    spark: SparkSession, path: str, df: DataFrame
) -> DataFrame:
    """Per-group count of a batch's values whose hash is ALREADY at or
    below the store's current k-th minimum — the cheap "is this crawl
    new material?" signal: a re-crawl's small hashes are all already
    present; fresh material lands new minima. Returns
    (group..., n_probed, n_known_minima)."""
    meta = load_kmv_meta(path)
    gcols, vcol = meta["group_cols"], meta["value_col"]
    sk = _read_store_parquet(spark, path, SKETCH_DIR)
    rows = (
        df.select(*gcols, kmv_hash(vcol).alias("h"))
        .filter(F.col("h").isNotNull())  # NULL values never enter a sketch
        .distinct()
    )
    hit = F.when(F.col("known"), 1).otherwise(0)
    return (
        rows.join(
            sk.withColumn("known", F.lit(True)), [*gcols, "h"], "left"
        )
        .groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(hit).cast("long").alias("n_known_minima"),
        )
    )
