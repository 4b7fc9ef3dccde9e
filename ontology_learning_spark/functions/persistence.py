"""Eager materialization with a fault-tolerance- and bandwidth-aware
strategy.

``localCheckpoint(eager=True)`` truncates lineage: the blocks live only
in executor memory/disk, so losing an executor makes every downstream
stage unrecoverable (cached data would be recomputed from lineage;
locally-checkpointed data cannot be). That trade is fine in single-JVM
local mode — there is no partial executor loss to survive — and it is
the fastest way to pin a subtree that several concurrent consumer
stages would otherwise race-recompute (see plans/pipeline.py).

For SMALL (vocabulary-sized) pins on a multi-executor master the
strategy flips to a replicated persist + eager count: lineage is kept
(lost blocks are recomputable) and blocks are 2x-replicated so a
single executor loss usually doesn't even trigger a recompute. The
master alone picks between these two.

CORPUS-SCALE pins (``corpus_scale=True``) get a third strategy on
real (non-local) cluster masters: a zstd-parquet round trip. Measured
on the 320k-doc scaling corpus, the parquet form is 16x smaller than
the raw UnsafeRow blocks (33.5 MB vs 537 MB — the mention/triple
structures are highly repetitive), each consumer leg reads only its
columns (the mentions leg never touches the triples arrays and vice
versa), and the files outlive executor loss — better fault tolerance
than replicated blocks at a fraction of the write traffic. At 100 TB
input the pin is PB-scale and cannot live in executor memory at all,
so the compressed columnar form is the only viable one. On the
single-HOST sandbox masters (local[n] AND local-cluster[n,...]) the
default stays raw blocks: there the whole checkpoint fits in page
cache, its bytes are trivial against socket bandwidth at bench corpus
sizes, and the parquet encode of nested arrays costs real CPU
(+88% extraction-stage JVM core-s in matched clean-window profiles —
BENCH/BASELINE.md round 5) with nothing to buy back. On a real
cluster point ``OLS_CHECKPOINT_DIR`` at a shared filesystem (HDFS/S3).
``OLS_CORPUS_CHECKPOINT=blocks|parquet`` forces either corpus-scale
strategy regardless of master; it is how tests reach the parquet
strategy on a local master.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.clear()


atexit.register(_cleanup_scratch)


def _is_sandbox_local(master: str) -> bool:
    # local / local[n] share one JVM; local-cluster[...] runs separate
    # executor processes but still on one host sharing one page cache —
    # both keep the block strategy (see module docstring).
    return master.startswith("local")


def _parquet_checkpoint(df: DataFrame) -> DataFrame:
    """Pin ``df`` as a zstd parquet table and return the scan of it.

    The read-back is schema-pinned to ``df.schema`` — parquet would
    otherwise relax nullability, and an EMPTY input (legal in tests and
    delta replays) writes no part files at all, which an inferring read
    refuses to load.
    """
    spark = df.sparkSession
    root = os.environ.get("OLS_CHECKPOINT_DIR")
    if root:
        path = os.path.join(root, f"ckpt-{uuid.uuid4().hex}")
        _SCRATCH_DIRS.append(path)
    else:
        d = tempfile.mkdtemp(prefix="ols_ckpt_")
        _SCRATCH_DIRS.append(d)
        path = os.path.join(d, "data")
    df.write.option("compression", "zstd").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def materialize(df: DataFrame, corpus_scale: bool = False) -> DataFrame:
    """Eagerly materialize ``df`` so concurrent consumers never
    recompute its subtree. See module docstring for the strategy
    matrix; ``corpus_scale=True`` marks pins whose size tracks the
    input corpus (vs the vocabulary) and routes them to the compressed
    columnar checkpoint on multi-executor masters."""
    master = df.sparkSession.sparkContext.master or ""
    if corpus_scale:
        forced = os.environ.get("OLS_CORPUS_CHECKPOINT")
        if forced == "parquet" or (forced != "blocks" and not _is_sandbox_local(master)):
            return _parquet_checkpoint(df)
    if _is_sandbox_local(master):
        return df.localCheckpoint(eager=True)
    out = df.persist(StorageLevel.MEMORY_AND_DISK_2)
    out.count()
    return out
