"""Pluggable intermediate-result materialization.

Several operators (MinHash/SimHash dedup, connected components) read a
CPU-expensive intermediate several times, or iterate and must truncate
lineage. HOW that intermediate is pinned is a deployment decision, not
an operator decision:

- ``local_checkpoint`` (default): executor-memory materialization +
  lineage truncation. Fastest locally and in tests, but pins the data
  in executor storage memory — the wrong trade at 100 TB, where a
  large shingle table would evict shuffle/cache pages or OOM.
- ``disk_persist``: ``persist(StorageLevel.DISK_ONLY)`` + eager count.
  Spillable (executor local disk), survives memory pressure; lineage
  is kept but the physical plan reads the cached blocks. Callers that
  ITERATE must pass ``truncate=True`` (below) or the logical plan
  grows with the round count.
- ``parquet_scratch``: write to scratch parquet and read back — the
  cluster-scale shape (a scratch table on the shuffle-independent
  store). Fully spillable, truncates lineage, and the re-read scan is
  columnar; survives executor loss, which executor-local
  materializations do not.

Select globally with ``SPARK_GRAFT_MATERIALIZE`` or per-call via the
``how`` argument. Operators call :func:`materialize` and stay agnostic.

Lifecycle: every materialized DataFrame is tracked; iterative callers
release superseded rounds with :func:`release` (unpersists the cached
blocks / deletes the scratch directory), and an ``atexit`` sweep
removes any scratch directories this process created, so a long-lived
session or bench run does not accumulate unbounded scratch disk.
``truncate=True`` asks for lineage truncation as part of the contract:
``local_checkpoint`` and ``parquet_scratch`` already truncate; under
``disk_persist`` the call is routed through the scratch-parquet path
(still spillable, now also a fresh-lineage scan) instead of silently
growing the plan.
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import tempfile
import uuid
import weakref

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

MODES = ("local_checkpoint", "disk_persist", "parquet_scratch")

_SCRATCH_ROOT: str | None = None
_ROOT_IS_OURS = False  # created via mkdtemp (sweep whole root at exit)

# DataFrame -> ("disk_persist", None) | ("parquet_scratch", path).
# Weak keys bound this dict's own growth, but dropping the Python
# object does NOT free the storage for every mode: local_checkpoint
# RDDs are reclaimed by Spark's ContextCleaner on collection, and the
# atexit sweep removes scratch parquet — but a disk_persist entry
# lives in the JVM CacheManager keyed by the LOGICAL PLAN and survives
# until an explicit unpersist() or session stop. Iterative/looping
# callers of that mode must call release() on superseded results
# (operators/graph.py shows the pattern: truncate the final result's
# lineage, then release the pinned input).
_LIVE: "weakref.WeakKeyDictionary[DataFrame, tuple[str, str | None]]" = (
    weakref.WeakKeyDictionary()
)
_SCRATCH_PATHS: set[str] = set()  # every dir we created, for the exit sweep

# result DataFrame -> [materialized parents its plan reads]. Lets an
# operator that pins an INTERNAL intermediate (gap_fill_hourly's bucket
# table) hand the caller a release handle without widening its return
# type: release(result) cascades to the linked parents. The list holds
# strong refs on purpose — the parent's storage must outlive any child
# plan that reads it; the weak KEY bounds growth once the child is
# dropped (ContextCleaner / atexit cover the storage then, except
# disk_persist — see the _LIVE note).
_DEPS: "weakref.WeakKeyDictionary[DataFrame, list[DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _shm_min_free_bytes() -> int:
    """tmpfs is only eligible as scratch when it has this much headroom.
    Docker defaults /dev/shm to 64 MB — staging a parquet
    materialization there would ENOSPC or, worse, compete with the JVM
    heap for RAM (r17 ADVICE). Harness artifacts measure ≲2 GB at
    sf10; 8 GiB of free shm keeps a wide margin and still admits this
    box's 126 GB tmpfs. Override via SPARK_GRAFT_SCRATCH_MIN_FREE_GB;
    parsed lazily per call (an import-time parse would crash the whole
    package on a malformed value and freeze later overrides), and a
    malformed value (unparsable, non-finite or negative) falls back to
    the default rather than raising."""
    default = 8 * 1024**3
    try:
        gb = float(os.environ.get("SPARK_GRAFT_SCRATCH_MIN_FREE_GB", "8"))
    except ValueError:
        return default
    return int(gb * 1024**3) if math.isfinite(gb) and gb >= 0 else default


def scratch_mkdtemp(prefix: str) -> str:
    """mkdtemp on the FASTEST available local scratch, for throwaway
    harness artifacts (streaming checkpoints, staged stream topics,
    round-trip staging, scratch parquet).

    r17 optimization: the default tempdir (/tmp) sits on this box's
    shared virtio disk, whose multi-second latency bursts land
    squarely on checkpoint commits and staging writes — the same wall
    session.py already moves spark.local.dir off of. Preference
    order: $SPARK_GRAFT_SCRATCH (explicit override) > /dev/shm (tmpfs)
    > system default. Local-mode harness scratch ONLY: a production
    deployment puts streaming checkpoints on durable shared storage
    (see streaming/runner.py), which this helper is not for.
    Measured: q_stream_bounded 1.13 s → 1.02 s at sf0.1, and it
    removes the sporadic 10-20 s /tmp-stall class from every
    streaming/IO key's tail.

    r18 (ADVICE hardening): /dev/shm is only used when statvfs reports
    ≥ SPARK_GRAFT_SCRATCH_MIN_FREE_GB (default 8 GiB) free — a Docker
    deployment's 64 MB shm, or a tmpfs already filled by a co-tenant,
    falls back to the system tempdir instead of ENOSPC'ing a
    checkpoint commit or squeezing the JVM; and the shared root is
    per-uid with mode 0700 (the first user on a multi-user host used
    to own the fixed path and everyone else's mkdtemp inside it died
    with PermissionError). Any tmpfs failure falls back to the system
    default rather than raising."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        os.makedirs(env, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=env)
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= _shm_min_free_bytes():
                root = f"/dev/shm/spark_graft_tmp_{os.getuid()}"
                os.makedirs(root, mode=0o700, exist_ok=True)
                # makedirs(exist_ok=True) ignores mode on a
                # PRE-EXISTING dir: /dev/shm is world-writable, so a
                # hostile local user could have squatted the path
                # first and would then own every scratch dir created
                # inside it. Only trust a root this uid owns with no
                # group/other access; anything else falls back to the
                # (safe, private) system tempdir.
                import stat as _stat  # noqa: PLC0415

                rst = os.lstat(root)
                if (
                    _stat.S_ISDIR(rst.st_mode)
                    and rst.st_uid == os.getuid()
                    and not (rst.st_mode & 0o077)
                ):
                    return tempfile.mkdtemp(prefix=prefix, dir=root)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix)


def _scratch_dir() -> str:
    global _SCRATCH_ROOT, _ROOT_IS_OURS  # noqa: PLW0603
    if _SCRATCH_ROOT is None:
        env = os.environ.get("SPARK_GRAFT_SCRATCH")
        if env:
            _SCRATCH_ROOT = env
        else:
            _SCRATCH_ROOT = scratch_mkdtemp("spark_graft_scratch_")
            _ROOT_IS_OURS = True
    return _SCRATCH_ROOT


@atexit.register
def _sweep_scratch() -> None:
    """Delete scratch this process created. A user-supplied
    ``SPARK_GRAFT_SCRATCH`` root is preserved — only our uuid subdirs
    inside it are removed."""
    if _ROOT_IS_OURS and _SCRATCH_ROOT:
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)
        return
    for path in _SCRATCH_PATHS:
        shutil.rmtree(path, ignore_errors=True)


def materialize(
    df: DataFrame, how: str | None = None, *, truncate: bool = False
) -> DataFrame:
    """Materialize ``df`` once so downstream consumers re-read instead
    of recomputing. Returns a DataFrame backed by the materialized
    data; pass it to :func:`release` when a newer round supersedes it.
    ``truncate=True`` additionally guarantees the returned plan has no
    lineage back to ``df`` (required by iterative callers). See module
    docstring for the mode trade-offs."""
    how = how or os.environ.get("SPARK_GRAFT_MATERIALIZE", "local_checkpoint")
    if how == "disk_persist" and truncate:
        # DISK_ONLY persist keeps lineage; an iterating caller would
        # build an ever-deeper plan (analyzer/stack limits at high
        # max_iter). Scratch parquet keeps the spill-to-disk property
        # this mode was chosen for AND starts a fresh scan lineage.
        how = "parquet_scratch"
    if how == "local_checkpoint":
        # EAGER is load-bearing (r17 optimization round finding): lazy
        # (eager=False) measured faster at sf0.1 (one fewer scheduling
        # round: q_dedup_minhash 1.08 s → 0.87 s) but the sf10
        # stage-bytes gate caught it recomputing the expensive parent
        # once per consumer SUBTREE when several subtrees of one job
        # read the not-yet-materialized RDD (minhash verify reads the
        # shingle table three ways): executor time 256 s → 937 s and
        # wall 10 s → 31 s at sf10; pagerank 120 s → 202 s. Eager pays
        # one extra tiny job and guarantees every consumer reads
        # materialized blocks.
        return df.localCheckpoint(eager=True)
    if how == "disk_persist":
        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()  # eager: pay the materialization here, once
        _LIVE[out] = ("disk_persist", None)
        return out
    if how == "parquet_scratch":
        path = os.path.join(_scratch_dir(), uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(path)
        _SCRATCH_PATHS.add(path)
        # Re-apply the writer's schema so column types round-trip
        # exactly. Nullability still widens to nullable — Spark marks
        # every file-source field nullable by design — which is safe
        # (values are unchanged) but means this mode's schema is not
        # bit-identical to the input's; dtypes are.
        out = df.sparkSession.read.schema(df.schema).parquet(path)
        _LIVE[out] = ("parquet_scratch", path)
        return out
    raise ValueError(f"unknown materialize mode {how!r}; known: {MODES}")


def link(child: DataFrame, parent: DataFrame) -> None:
    """Declare that ``child``'s plan reads ``parent`` (a
    :func:`materialize` result pinned inside an operator), so that
    ``release(child)`` also releases ``parent``. This is the release
    handle for operators that return a plan built over an internal
    materialization (operators/timeseries.py:gap_fill_hourly): the
    caller releases the one DataFrame it actually holds."""
    _DEPS.setdefault(child, []).append(parent)


def release(df: DataFrame) -> None:
    """Free the storage behind a :func:`materialize` result that no
    consumer will read again (e.g. the previous round's labels in an
    iterative loop). Safe on any DataFrame: non-materialized inputs
    and ``local_checkpoint`` results are a no-op (the ContextCleaner
    reclaims checkpointed RDDs when the object is collected). For
    ``disk_persist`` results this call is NOT optional in loops — the
    JVM-side cache entry outlives the Python object (see _LIVE note).
    Cascades through :func:`link` dependencies, so releasing an
    operator's RESULT frees any intermediate it pinned internally."""
    for parent in _DEPS.pop(df, []):
        release(parent)
    mode_path = _LIVE.pop(df, None)
    if mode_path is None:
        return
    mode, path = mode_path
    if mode == "disk_persist":
        df.unpersist()
    elif mode == "parquet_scratch" and path is not None:
        _SCRATCH_PATHS.discard(path)
        shutil.rmtree(path, ignore_errors=True)
