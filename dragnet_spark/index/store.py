"""Crash-safe store plumbing shared by every materialized store kind —
the one statement of the store contract. Each store (event index, fp,
band and SRP stores, vector index, kmv, components, lm, bloom, curated
sink) keeps the parts that apply to it:

* **marker + atomic meta.** A store is a directory carrying one JSON
  marker file (each module's ``*_META``/``*_MARKER`` constant;
  index/maintain.py classifies stores by it). :func:`write_meta`
  writes it to a tmp file and ``os.replace``-s it in, so a crash
  mid-write leaves the old marker or the new one, never a torn one —
  the reference index sink's discipline (lib/index-sink.js).
* **layout token.** A store whose data keys depend on build
  parameters persists a digest of them (:func:`_layout_token`) in
  BOTH its meta and an underscore-prefixed (Spark-invisible)
  ``_dn_layout`` file inside the data directory. A maintenance job
  that crashed between its directory swap and its meta replace leaves
  the two out of sync, and :func:`_check_layout` fails loudly at
  probe/append time instead of answering against mismatched keys.
* **stage-and-swap.** Every whole-directory rewrite (compaction, kmv
  merge, components compaction, vector-index recenter) writes
  ``<dir>.compact_tmp`` beside the data directory (same filesystem),
  re-checks the lease (``ensure_lease`` — a stalled holder whose
  lease was stolen fails before clobbering the thief's work), then
  swaps with two renames through ``<dir>.compact_old``
  (:func:`_stage_and_swap`). A reader sees the old directory or the
  new one, never a partial one.
* **reader wait / repair / StoreBusyError.** The one observable window
  is between the two renames: data directory absent, data alive in
  ``.compact_old``. :func:`_recover_staged`, called before every read
  or write of a swapped directory, waits out a LIVE holder's window
  (up to ``_READER_SWAP_WAIT_S``) and proceeds against the new
  directory, raises the clean retryable ``StoreBusyError`` if the
  window does not close, and renames ``.compact_old`` back only when
  the holder is dead (a crashed swap) or is this thread — never a
  repair under a live holder. :func:`_read_store_parquet` applies the
  same discipline to a plan-time read racing the swap.

Writers and maintenance serialize on the store lease (index/lease.py);
readers stay outside it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from dragnet_spark.errors import ContractError
from dragnet_spark.index.lease import (
    StoreBusyError,
    ensure_lease,
    held_by_this_thread,
    lease_is_live,
)

LAYOUT_FILE = "_dn_layout"
#: suffix of a whole-directory rewrite's staging directory
STAGE_SUFFIX = ".compact_tmp"
_OLD_SUFFIX = ".compact_old"
#: how long a reader waits out a LIVE holder's swap window (two
#: renames — microseconds in practice) before giving up with the clean
#: retryable StoreBusyError.
_READER_SWAP_WAIT_S = 5.0


def read_meta(path: str, marker: str) -> dict:
    with open(os.path.join(path, marker)) as f:
        return json.load(f)


def write_meta(path: str, marker: str, meta: dict) -> None:
    """Atomically (re)write ``<path>/<marker>``: tmp file + replace."""
    os.makedirs(path, exist_ok=True)
    dest = os.path.join(path, marker)
    with open(dest + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(dest + ".tmp", dest)


def _layout_token(basis: dict) -> str:
    return hashlib.sha256(
        json.dumps(basis, sort_keys=True).encode()
    ).hexdigest()[:16]


def _write_layout(data_dir: str, token: str) -> None:
    with open(os.path.join(data_dir, LAYOUT_FILE), "w") as f:
        f.write(token)


def _check_layout(path: str, meta_file: str, data_dir: str, what: str) -> None:
    """Repair a crashed swap of ``data_dir`` (:func:`_recover_staged`),
    then fail loudly when its layout token disagrees with the meta
    file's. Back-compat: stores built before tokens existed (either
    side missing) are accepted unchecked."""
    _recover_staged(os.path.join(path, data_dir))
    meta_path = os.path.join(path, meta_file)
    tok_path = os.path.join(path, data_dir, LAYOUT_FILE)
    if not (os.path.exists(meta_path) and os.path.exists(tok_path)):
        return
    expect = read_meta(path, meta_file).get("layout_token")
    if not expect:
        return
    with open(tok_path) as f:
        disk = f.read().strip()
    if disk != expect:
        raise ContractError(
            f"{what} layout/meta mismatch (a maintenance job crashed "
            f"mid-swap?): data dir carries layout {disk!r} but metadata "
            f"expects {expect!r} — rebuild or re-run the maintenance job"
        )


def _wait_out_live_swap(store_root: str, settled, what: str) -> bool:
    """Poll while another holder's lease on ``store_root`` is live and
    ``settled()`` is false. Returns ``settled()`` once the lease is
    gone (False = a dead holder left the swap unfinished: repair it);
    raises ``StoreBusyError`` if the window outlasts
    ``_READER_SWAP_WAIT_S``."""
    deadline = time.monotonic() + _READER_SWAP_WAIT_S
    while lease_is_live(store_root):
        if settled():
            return True
        if time.monotonic() >= deadline:
            raise StoreBusyError(
                f"{what} is mid-maintenance (a live job holds its lease "
                f"and the directory swap hasn't landed after "
                f"{_READER_SWAP_WAIT_S:.0f}s); no data was read or "
                f"modified — retry after the maintenance job finishes."
            )
        time.sleep(0.05)
    return settled()


def _recover_staged(dest: str) -> None:
    """Repair :func:`_stage_and_swap`'s crash window: a swap that died
    strictly BETWEEN its two renames leaves ``dest`` absent with the
    data alive only in ``<dest>.compact_old`` — rename it back. A
    no-op in the healthy state; lease-aware as the module docstring
    states. Two readers can race the repair — exactly one rename
    wins; the loser just needs ``dest`` to exist afterwards."""
    old = dest + _OLD_SUFFIX

    def landed() -> bool:
        return os.path.exists(dest) or not os.path.exists(old)

    if landed():
        return
    store_root = os.path.dirname(dest)
    if not held_by_this_thread(store_root) and _wait_out_live_swap(
        store_root, landed, f"store {store_root!r}"
    ):
        return
    try:
        os.rename(old, dest)
    except OSError:
        if not os.path.exists(dest):
            raise


def _is_benign_swap_read_error(e: Exception) -> bool:
    """True when a plan-time parquet read failed because files it had
    just listed vanished — the signature of a maintenance directory
    swap racing the read, never of a wrong answer (no data row was
    produced). Matched by message because the shape arrives as a
    py4j-wrapped Java cause chain."""
    msg = str(e)
    return (
        "FileNotFoundException" in msg
        or "FILE_NOT_EXIST" in msg
        or "FAILED_READ_FILE" in msg
        or "PATH_NOT_FOUND" in msg
    )


def _read_store_parquet(spark, store_root: str, data_dir: str):
    """Plan-time parquet read of a store data dir that keeps the reader
    contract under concurrent maintenance.

    ``spark.read.parquet`` eagerly lists files and reads footers for
    schema inference (a distributed job on this Spark) — a swap
    between the listing and the footer reads surfaces as a raw
    FileNotFoundException. Under another holder's LIVE lease this
    retries while the swap settles (the post-swap directory is
    immediately readable), raising ``StoreBusyError`` if the window
    won't close. With no live lease, vanished files get exactly one
    recovery pass (the holder may have finished — or crashed mid-swap,
    the state :func:`_recover_staged` repairs) before the original
    error propagates. Under this thread's own lease the error is a
    real bug (the holder is the only writer) and is never masked."""
    dest = os.path.join(store_root, data_dir)
    deadline = time.monotonic() + _READER_SWAP_WAIT_S
    retried_quiet = False
    while True:
        try:
            return spark.read.parquet(dest)
        except Exception as e:  # noqa: BLE001 — filtered just below
            if not _is_benign_swap_read_error(e) or held_by_this_thread(
                store_root
            ):
                raise
            if lease_is_live(store_root):
                if time.monotonic() >= deadline:
                    raise StoreBusyError(
                        f"store {store_root!r} is mid-maintenance (a "
                        f"live job holds its lease and its directory "
                        f"swap kept racing this read for "
                        f"{_READER_SWAP_WAIT_S:.0f}s); no data was "
                        f"read — retry the probe after the maintenance "
                        f"job finishes."
                    ) from e
                time.sleep(0.05)
                continue
            if retried_quiet:
                raise
            retried_quiet = True
            _recover_staged(dest)


def _stage_and_swap(dest: str, write) -> None:
    """Replace directory ``dest`` whole: ``write(stage)`` fills
    ``<dest>.compact_tmp`` (Spark cannot overwrite the tree it is
    reading), then the lease check and the two-rename swap. Caller
    holds the store lease."""
    stage = dest + STAGE_SUFFIX
    old = dest + _OLD_SUFFIX
    _recover_staged(dest)
    # a previous rewrite that crashed before its first rename can
    # leave either sibling behind; clear them so the swap cannot fail
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    try:
        write(stage)
        ensure_lease(os.path.dirname(dest))
        os.rename(dest, old)
        os.rename(stage, dest)
        shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _staged_rewrite(
    df,
    part_col: str,
    dest: str,
    key_col: str,
    files_per_partition: int = 1,
) -> None:
    """Compaction through :func:`_stage_and_swap`: ``df`` rewritten
    partitioned by ``part_col``.

    ``files_per_partition`` bounds output files per partition dir by
    routing each (partition, key-hash slice) to one task. The default
    1 is right locally and for the 256-bucket fp store; for the 8-way
    band store at real scale, pass enough slices that a slice is one
    task's worth of data — one file per band would funnel 1/8 of the
    store through a single task."""
    slice_col = F.pmod(
        F.xxhash64(F.col(key_col)), F.lit(files_per_partition)
    )
    _stage_and_swap(
        dest,
        lambda stage: (
            df.repartition(F.col(part_col), slice_col)
            .write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(stage)
        ),
    )
