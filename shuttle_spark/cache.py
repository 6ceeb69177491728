"""Session caches: one policy for every staged relation, plan and table
statistic the engine reuses within a Spark application.

Several contract families fan out from one expensive staged relation (the
(id, grams) shingle sets, the exact near-dup pair list, the IVF-indexed
corpus); range-bucketed operators reuse table statistics (approxQuantile
boundaries, rank-bucket histograms, pagerank's |V|); ``zorder_value``
reuses a costly plan.  Every such store is a ``DFCache`` instance, and
every instance follows the same policy:

* Key.  ``cache_key(*sources, params=...)`` builds it, and no caller does:
  the application id, each source DataFrame's ``semantic_key`` (its
  canonicalized analyzed plan, so a caller that recreates the same
  DataFrame still hits) and ``source_fingerprint`` (the files under its
  scans, with size and mtime), then the parameters that change the result.
  The key holds strong refs to its sources, so the ``id(df)`` fallback of
  ``semantic_key`` cannot be recycled while an entry lives.
* Freshness.  Overwriting a source path in-session changes the
  fingerprint, so the next call misses and rebuilds.  Spark refreshes a
  persisted relation over a rewritten path itself, but not a cached plan
  (which then reads deleted files) nor a driver-side value (a stale
  statistic); one rule for every key covers all three.
* Bound.  An instance holds at most ``max_size`` entries.  A hit makes its
  entry the most recent; an insert beyond the bound drops the least
  recently used entry.
* Persistence.  An instance with a ``storage_level`` persists DataFrame
  values (a DataFrame, or each DataFrame of a tuple value) on insert and
  unpersists them when the entry is evicted, replaced or cleared.  An
  instance without one stores plans and driver-side values as they are.
  MEMORY_AND_DISK is the usual level: at 100 TB a hot staged relation
  spills instead of OOMing.

Each module clears its own instances through its public ``clear_*``
function; ``clear_all`` clears every instance alive in the process.

* Staged directories.  Every directory the engine writes (staged landing
  zones, ingest relayout copies, sink scratch, contract fixtures, the
  bucketed-table database, stream checkpoints) comes from here.
  ``staged_dir(spark, *sources, params=..., build=...)`` memoizes one per
  key under the same rule, where a source may also be a file path
  (identity: the path; freshness: its files' size and mtime), and builds
  it once; a failed build leaves no entry and no directory, so a memoized
  directory is always complete.  ``scratch_dir(prefix)`` is the
  unmemoized form (one per stream replay's checkpoint).  Root: one
  directory per process under ``_scratch_root``: ``SPARK_GRAFT_SCRATCH``,
  else a tmpfs with headroom (two size classes: staged copies need 8 GiB
  free, scratch 1 GiB), else a directory of its own in the system
  tempdir.  Lifetime: the process's directory is removed at interpreter
  exit; the first use of a root in a process removes every entry there
  that is over 2 h old and is not a live process's directory (so the
  root, ``SPARK_GRAFT_SCRATCH`` included, belongs to the engine).
  ``clear_all`` leaves directories alone: relations memoized elsewhere
  (``catalog.load_table``) read them for the life of the process.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import time
import weakref
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def semantic_key(df: DataFrame) -> tuple:
    """Stable cache identity of a DataFrame: (semanticHash, canonicalized
    plan string hash) of the ANALYZED logical plan.  Canonicalization
    normalizes expression ids, so two separately constructed but
    semantically identical DataFrames share a key (~0.8 ms/call measured).
    The paired plan-string hash makes a 32-bit semanticHash collision
    harmless.  Falls back to ``id(df)`` (safe while the cache holds a
    strong reference to the source) if the JVM call fails."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return ("sem", plan.semanticHash(), hash(plan.canonicalized().toString()))
    except Exception:
        return ("id", id(df))


def source_fingerprint(source: DataFrame | str) -> tuple:
    """Freshness token of a source's files: a hash over each file's (size,
    mtime).  A path source lists itself (a file) or its data files (a
    directory); a DataFrame lists the files under every file scan of its
    ANALYZED plan.
    Rewriting a table at the same path in-session changes it, which the
    plan identity cannot see (the rewritten table has the SAME analyzed
    plan).  The analyzed plan, not ``df.inputFiles()``: that reads the
    optimized plan, where a subtree matching a persisted relation is an
    in-memory scan without files, so a source built on a staged relation
    would read as file-less.  Driver-side metadata only: the listing Spark
    already holds to plan the scan, folded to one int.  ``("fp", 0, 0)``
    for sources without files; ``("nofp",)`` when a listed file is gone or
    the plan cannot be read — no worse than the plan key alone."""
    try:
        if isinstance(source, str):
            files = [source] if os.path.isfile(source) else [
                os.path.join(source, f) for f in os.listdir(source)
                if not f.startswith(("_", "."))
            ]
        else:
            files = []
            leaves = source._jdf.queryExecution().analyzed().collectLeaves().iterator()
            while leaves.hasNext():
                leaf = leaves.next()
                if leaf.getClass().getSimpleName() == "LogicalRelation":
                    files += leaf.relation().inputFiles()
        acc = 0
        for uri in sorted(files):
            path = uri[7:] if uri.startswith("file://") else uri
            st = os.stat(path)
            acc = hash((acc, path, st.st_size, st.st_mtime_ns))
        return ("fp", len(files), acc)
    except Exception:
        return ("nofp",)


class CacheKey(tuple):
    """A session-cache key (see the module docstring).  Hashing and
    equality are the tuple's; ``sources`` keeps the sources alive."""

    sources: tuple


def cache_key(*sources: DataFrame, params: tuple = ()) -> CacheKey:
    """The key of a value computed from ``sources`` under ``params``.
    Build it once per call and use it for every instance the call reads."""
    return _key(sources[0].sparkSession, sources, params)


def _key(spark: SparkSession, sources: tuple, params: tuple) -> CacheKey:
    key = CacheKey((
        spark.sparkContext.applicationId,
        tuple(
            (("path", os.path.abspath(s)) if isinstance(s, str)
             else semantic_key(s), source_fingerprint(s))
            for s in sources
        ),
        params,
    ))
    key.sources = sources
    return key


def _frames(value: object) -> list[DataFrame]:
    return [v for v in (value if isinstance(value, tuple) else (value,))
            if isinstance(v, DataFrame)]


_instances: weakref.WeakSet[DFCache] = weakref.WeakSet()


def clear_all() -> None:
    """Clear every ``DFCache`` instance, unpersisting what each holds: a
    timed run after it pays for every staged relation it reads."""
    for instance in list(_instances):
        instance.clear()


class DFCache:
    """LRU session cache under the module's policy.  ``storage_level``
    (a ``pyspark.StorageLevel`` name) makes it persist DataFrame values;
    caches holding fan-out relations much larger than their source (e.g.
    the exploded per-token relation, 100-200x the document count) pass
    ``"DISK_ONLY"`` so a hot staged relation never crowds working executor
    memory."""

    def __init__(self, max_size: int, storage_level: str | None = None) -> None:
        self.max_size = max_size
        self.storage_level = storage_level
        self._entries: dict[CacheKey, object] = {}
        _instances.add(self)

    def get(self, key: CacheKey):
        """The value under ``key`` (now the most recent entry), or None."""
        if key not in self._entries:
            return None
        value = self._entries[key] = self._entries.pop(key)
        return value

    def put(self, key: CacheKey, value):
        """Insert ``value`` under ``key``, persisting its DataFrames on a
        persisting instance; returns it."""
        if key in self._entries:
            self._release(self._entries.pop(key))
        while len(self._entries) >= self.max_size:
            self._release(self._entries.pop(next(iter(self._entries))))
        if self.storage_level:
            for df in _frames(value):
                df.persist(getattr(StorageLevel, self.storage_level))
        self._entries[key] = value
        return value

    def cached(self, key: CacheKey, build: Callable[[], object]):
        """The value under ``key``, built and inserted on a miss."""
        hit = self.get(key)
        return hit if hit is not None else self.put(key, build())

    def clear(self) -> None:
        for value in self._entries.values():
            self._release(value)
        self._entries.clear()

    def _release(self, value: object) -> None:
        if not self.storage_level:
            return
        for df in _frames(value):
            try:
                df.unpersist()
            except Exception:
                pass  # the session is already stopped: nothing to free

    def __len__(self) -> int:
        return len(self._entries)


_quantile_cache = DFCache(max_size=64)


def approx_quantiles_cached(
    df: DataFrame,
    cols: list[str],
    probs: list[float],
    err: float,
) -> list[list[float]]:
    """``df.approxQuantile(cols, probs, err)``, session-cached: the
    boundaries only steer the bucket BALANCE of range-bucketed operators
    (global_rank, zorder_value), never their correctness, so a long-lived
    engine computes them once per table and the warm path skips the scan."""
    key = cache_key(df, params=(
        tuple(cols),
        # the FULL (rounded) probability vector: len+endpoints alone
        # collide for non-uniform grids with shared ends
        tuple(round(p, 12) for p in probs),
        err,
    ))
    return _quantile_cache.cached(
        key, lambda: df.approxQuantile(list(cols), list(probs), err)
    )


def clear_quantile_cache() -> None:
    _quantile_cache.clear()


def _scratch_root(min_free_bytes: int = 1 << 30) -> str | None:
    """Preferred root for staged directories: a tmpfs mount when one exists
    AND has headroom.  The medium does not set the commit cost: a probe at
    sf0.1 measured the same state-store commit time with checkpoints on
    ext4 and on tmpfs.  Commits were bound by Hadoop's per-file
    ``chmod``/``readlink`` spawns, which the engine filesystem removes
    (``session.py``); tmpfs only keeps throwaway scratch off the disk.  In
    production a checkpoint location is a DURABLE path the caller passes.

    tmpfs is RAM-backed (typically capped at 50% of memory), so it
    COMPETES with executor memory: writing data-sized scratch there at
    larger SF risks ENOSPC with no recovery.  The gate is a free-space
    check (``os.statvfs``) against ``min_free_bytes``: staged table copies
    pass a much larger floor than checkpoint writers.  SPARK_GRAFT_SCRATCH
    overrides unconditionally; None falls back to a directory in the
    system tempdir (``_process_dir``)."""
    override = os.environ.get("SPARK_GRAFT_SCRATCH")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize < min_free_bytes:
                return None
        except OSError:
            return None
        d = os.path.join(shm, "shuttle_spark_scratch")
        try:
            os.makedirs(d, exist_ok=True)
            return d
        except OSError:
            return None
    return None


# root -> this process's directory under it
_process_dirs: dict[str, str] = {}
_PROCESS_DIR = re.compile(r"shuttle_(\d+)_\w+")
_SWEEP_AGE_S = 2 * 3600


def _process_dir(min_free_bytes: int) -> str:
    root = _scratch_root(min_free_bytes) or tempfile.gettempdir()
    if os.path.realpath(root) == os.path.realpath(tempfile.gettempdir()):
        # the sweep clears out its root, so never the shared tempdir
        root = os.path.join(root, "shuttle_spark_scratch")
        os.makedirs(root, exist_ok=True)
    d = _process_dirs.get(root)
    if d is None:
        _sweep(root)
        d = _process_dirs[root] = tempfile.mkdtemp(
            prefix=f"shuttle_{os.getpid()}_", dir=root
        )
    return d


def _sweep(root: str) -> None:
    """Remove every entry of ``root`` that is over 2 h old and is not a
    live process's directory: directories of processes that are gone,
    and whatever else a crash or earlier code left there.  The age gate
    spares what another process is making right now."""
    for name in os.listdir(root):
        m = _PROCESS_DIR.fullmatch(name)
        if m is not None and _alive(int(m.group(1))):
            continue
        path = os.path.join(root, name)
        try:
            if time.time() - os.lstat(path).st_mtime <= _SWEEP_AGE_S:
                continue
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.unlink(path)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    """Whether process ``pid`` (or one reusing its pid) exists."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (OSError, OverflowError):
        return True  # exists, but is not ours to signal
    return True


@atexit.register
def _remove_process_dirs() -> None:
    # a forked child inherits the table but owns none of it
    for d in _process_dirs.values():
        if os.path.basename(d).startswith(f"shuttle_{os.getpid()}_"):
            shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new directory, unmemoized, removed at interpreter exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=_process_dir(1 << 30))


_staged: dict[CacheKey, str] = {}


def staged_dir(
    spark: SparkSession,
    *sources: DataFrame | str,
    params: tuple,
    build: Callable[[str], None] | None = None,
) -> str:
    """The directory staged from ``sources`` under ``params`` (the first
    param names it), made and passed to ``build`` on the first call with
    this key in the process.  ``build`` may replace the directory's
    contents and the directory itself (a Spark overwrite does)."""
    key = _key(spark, sources, params)
    d = _staged.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix=f"{params[0]}_", dir=_process_dir(8 << 30))
        try:
            if build is not None:
                build(d)
        except BaseException:
            shutil.rmtree(d, ignore_errors=True)
            raise
        _staged[key] = d
    return d
