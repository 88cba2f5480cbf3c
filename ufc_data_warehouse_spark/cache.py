"""The one per-session memo for every frame and probe the engine holds.

Entries are keyed by ``(applicationId, key)``: applicationId is unique per
SparkContext and survives GC churn (an id()-based key could collide after
a session is collected). What lives here: the lazy raw-layer plans and the
persisted ``api._PERSISTED`` frames per sf_dir, the dedup shingles and LSH
candidates per sf_dir, the ``spread_single_split`` partition probes per
plan, and the paths of the on-disk indexes queries write once per sf_dir.
:func:`release` is the only invalidation. It owns on-disk scratch too:
:func:`scratch` makes every directory the package writes under one
per-session root, ``<SparkFiles.getRootDirectory()>/ufc_scratch``, which
``spark.stop()`` and :func:`release` remove.

It also owns the lineage-truncation policy: :func:`truncate` is the one
place the package calls ``localCheckpoint``/``checkpoint``, so every
iterative loop (the graph operators, ``dedup.duplicate_clusters``,
``simsearch.kcenter_coreset``) honours ``RELIABLE_CHECKPOINT_CONF`` alike.

Leaf module (imports only pyspark/py4j) so ``operators/`` can use it
without an import cycle.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Hashable
from typing import TypeVar

from py4j.protocol import Py4JError
from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# Session conf that swaps executor-local lineage truncation for reliable,
# directory-backed checkpoints (see :func:`truncate`).
RELIABLE_CHECKPOINT_CONF = "spark.ufc.graph.reliableCheckpoint"

_memo: dict[tuple[str, Hashable], object] = {}


def memo(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """Return the value stored under ``key`` for this session, calling
    ``build()`` on first use."""
    k = (spark.sparkContext.applicationId, key)
    if k not in _memo:
        _memo[k] = build()
    return _memo[k]  # type: ignore[return-value]


def _scratch_root() -> str:
    return os.path.join(SparkFiles.getRootDirectory(), "ufc_scratch")


def scratch(spark: SparkSession, prefix: str) -> str:
    """A new empty directory ``prefix*`` under ``spark``'s scratch root,
    kept until :func:`release` or ``spark.stop()``."""
    root = _scratch_root()
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def release(spark: SparkSession) -> None:
    """Release everything the engine holds for ``spark``: the lazy raw
    plans and persisted ``api._PERSISTED`` frames of every sf_dir, the
    dedup shingles and LSH candidates, the spread probes, the scratch root
    (a frame that reads a :func:`scratch` dir is invalid afterwards), and
    (through ``clearCache``) query-internal persists that outlive their
    builder (title_reigns' status_changes, text_token_rarity's vocab).

    This is the only invalidation: call it after rewriting files under an
    sf_dir, or to get memory back. The next build re-derives and
    re-persists on demand (bench relies on the warm cache for
    steady-state timings, so it does NOT call this between runs —
    documented at bench.RUNS). Exposed as ``api.release_caches``."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _memo if k[0] == app]:
        value = _memo.pop(k)
        for v in value.values() if isinstance(value, dict) else (value,):
            if isinstance(v, DataFrame) and v.is_cached:
                try:
                    v.unpersist()
                except Py4JError:  # JVM side already stopped: nothing held
                    pass
    try:
        spark.catalog.clearCache()
        shutil.rmtree(_scratch_root(), ignore_errors=True)
    except Py4JError:  # JVM side already stopped: nothing held
        pass


def truncate(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate lineage inside an iterative loop.

    Default: ``localCheckpoint`` — blocks live on executor storage only,
    which is exactly right on ``local[N]`` (no executor can be lost
    without losing the driver too) and cheapest everywhere. On a real
    cluster an executor loss AFTER truncation is unrecoverable, so at
    100 TB scale set the session conf
    ``spark.ufc.graph.reliableCheckpoint=true`` AND a checkpoint
    directory (``spark.sparkContext.setCheckpointDir(...)`` on reliable
    storage): every loop truncation then uses directory-backed
    ``checkpoint()`` instead. Both forms cut the plan identically; only
    the storage/recovery story differs, so results are unchanged.
    """
    flag = "false"
    try:
        flag = df.sparkSession.conf.get(RELIABLE_CHECKPOINT_CONF, "false")
    except Py4JError:  # conf service unavailable: local default
        pass
    if str(flag).lower() == "true":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
