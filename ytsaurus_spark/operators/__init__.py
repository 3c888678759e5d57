"""Operation layer: MapReduce operation types, QL helpers, and the
LLM-data-pipeline operators, all expressed as DataFrame transforms."""

from __future__ import annotations

import atexit
import itertools
import re
import shutil
import tempfile
import threading
import weakref
from contextvars import ContextVar

from pyspark.sql import DataFrame

# the open owner scope: JVM handles of the cache entries ``materialize``
# created in it, in creation order; None outside every scope
_OWNED: ContextVar[list | None] = ContextVar("materialize_owner", default=None)

# the process's scratch root, made on first use (``scratch_dir``)
_SCRATCH_ROOT: str | None = None
_SCRATCH_LOCK = threading.Lock()


def scratch_dir(prefix: str) -> str:
    """A fresh directory for a scenario's files (tables, queues, tracker
    results): the engine's one way to make scratch storage.

    Every such directory lives under one root per process, created on
    first use — so a ``TMPDIR`` or ``tempfile.tempdir`` set before then is
    honoured — and removed with everything in it when the process exits.
    Never earlier: a frame derived from a query's result keeps no
    reference to that result, so the files must outlive every frame the
    process can still hold (SCALE.md, "fold, push, or persist")."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="ytspark_scratch_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def materialize(df: DataFrame) -> DataFrame:
    """``df.persist()`` (MEMORY_AND_DISK): the engine's one way to cache a
    frame that several consumers read (SCALE.md, "fold, push, or
    persist"). Lazy, like persist: the first action fills the cache.

    Inside an owner scope (``owned``) the call records the CacheManager
    entry it created — the JVM handle, never the Python frame, so a
    scope whose result IS a materialized frame can still be released.
    An identical plan that is already cached (a star view, the caller's
    own persist) is not recorded: it stays with its first owner. Outside
    every scope (an operator called directly) this is a plain persist
    and the cache is the caller's to release."""
    entries = _OWNED.get()
    if entries is None:
        return df.persist()
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    created = not cache.lookupCachedData(df._jdf).isDefined()
    df = df.persist()
    if created:
        entries.append(df._jdf)
    return df


def _release(entries: list) -> None:
    """Unpersist ``entries`` newest first: an uncache replans every
    dependent entry that is not loaded yet, and the newest entries are
    the dependents. Non-blocking; nothing to do once the context is
    stopped (its caches went with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is None:
        return
    while entries:
        entries.pop().unpersist(False)


def owned(build, *args):
    """``build(*args)`` as the owner of every cache ``materialize``
    creates while it runs, nested operator calls included. The caches
    live exactly as long as the returned frame: they are released when
    that frame is garbage-collected (run the action, drop the frame), or
    at once if ``build`` raises. A call inside an open scope adds to that
    scope instead of opening its own."""
    if _OWNED.get() is not None:
        return build(*args)
    entries: list = []
    token = _OWNED.set(entries)
    try:
        out = build(*args)
    except BaseException:
        _release(entries)
        raise
    finally:
        _OWNED.reset(token)
    if entries:
        weakref.finalize(out, _release, entries).atexit = False
    return out


_ROUND = itertools.count()


def iterate(state: DataFrame, step, rounds: int, until=None) -> DataFrame:
    """``rounds`` applications of ``step`` (state frame -> next state
    frame): the engine's one driver-side loop, the chain of operations a
    YTsaurus controller resubmits round after round.

    One policy, read from each round's analysed plan. ``step`` gets the
    state under a unique alias; a round that reads it more than once (a
    union with it, two joins) would double its plan and its recomputation
    every round, so it is cut eagerly with ``localCheckpoint``, and the
    previous round's cut is released once the new one is filled (the cut
    lineage no longer reaches it). A round that reads its state once stays
    lazy: its chain grows by one round and consumers share its exchanges.
    The last cut is left to Spark's ContextCleaner, not to an owner scope:
    a frame derived from the result keeps no reference to it.

    ``until(new, old)`` runs after every round (one scalar job) and stops
    the loop at the first round it returns True; if no round does, the
    loop raises. A step that returns the frame it was handed stops the
    loop at no cost (nothing left to do)."""
    cut = None  # the last round this call checkpointed (its JVM RDD)
    for _ in range(rounds):
        tag = f"__iterate_{next(_ROUND)}"
        arg = state.alias(tag)
        nxt = step(arg)
        if nxt is arg:
            return state
        plan = nxt._jdf.queryExecution().analyzed().toString()
        fresh = None
        if len(re.findall(rf"SubqueryAlias {tag}$", plan, re.M)) > 1:
            nxt = nxt.localCheckpoint()
            fresh = nxt._jdf.logicalPlan().rdd()
        done = until is not None and until(nxt, state)
        if fresh is not None:
            if cut is not None:
                cut.unpersist(False)
            cut = fresh
        state = nxt
        if done:
            return state
    if until is not None:
        raise RuntimeError(f"no convergence within {rounds} rounds")
    return state


def conf_bytes(spark, key: str, default: int) -> int:
    """Byte-valued Spark conf with k/m/g/t suffix support.

    ``spark.sql.files.maxPartitionBytes`` may be set as a plain number,
    ``...b``, or a unit-suffixed string like ``128m``. One shared parser,
    used by every byte-derived decision, so a suffixed value is never
    mistaken for an unset one."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    try:
        if raw.endswith("b"):
            raw = raw[:-1]
        mult = 1
        if raw and raw[-1] in "kmgtp":
            mult = {
                "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                "t": 1 << 40, "p": 1 << 50,
            }[raw[-1]]
            raw = raw[:-1]
        val = int(float(raw) * mult) if "." in raw else int(raw) * mult
        return val if val > 0 else default
    except ValueError:
        return default


def split_bytes(spark) -> int:
    """The session's scan split size (``maxPartitionBytes``): the byte
    unit every width rule divides input bytes by."""
    return conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 134217728)


def local_input_bytes(paths) -> int | None:
    """Total bytes of the files under ``paths`` — local paths or ``file:``
    URIs (percent-decoded, as ``DataFrame.inputFiles()`` lists them);
    a directory, such as a Spark output table, counts every file below
    it. The one input-size measurement behind every width rule.

    None when the size is unknowable here: a path on non-local storage
    (it plans its own splits; sizing it needs a real listing, not a stat
    call), a path that cannot be stat()ed, or no file at all (a
    file-less lineage such as ``spark.range``)."""
    import os
    from urllib.parse import unquote, urlparse

    total, found = 0, False
    try:
        for p in paths:
            url = urlparse(p)
            if url.scheme == "file":
                p = unquote(url.path)
            elif url.scheme:
                return None
            if not os.path.isdir(p):
                total += os.path.getsize(p)
                found = True
                continue
            for root, _dirs, files in os.walk(p):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
                    found = True
    except OSError:
        return None
    return total if found else None


def input_splits(spark, paths) -> int | None:
    """ceil(local input bytes / maxPartitionBytes), at least 1 — Spark's
    own scan split count bound — or None when the bytes are unknowable
    (``local_input_bytes``)."""
    total = local_input_bytes(paths)
    return None if total is None else max(1, -(-total // split_bytes(spark)))


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism IFF the upstream scan
    cannot provide it.

    Single-row-group parquet files (and small inputs generally) give the
    scan stage one task, so an operator whose cost is per-row compute
    (md5 shingle hashing, hyperplane folds) runs on one core regardless of
    cluster size. When the scan's split count is below the cluster's
    default parallelism, one cheap round-robin exchange of the raw rows
    buys full-width compute; when the input is large enough to split
    naturally (the 100 TB case: partitions ≥ cores), this is a no-op —
    the decision derives from input size, never a constant.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    splits = input_splits(spark, df.inputFiles())
    if splits is None or splits >= target:
        return df  # unknown size (trust its split planning), or wide enough
    return df.repartition(target)


def keyed_cache_width(df: DataFrame) -> int:
    """Byte-derived partition count for a KEYED repartition that feeds a
    loop-invariant persist (iterative graph/label-propagation operators).

    A bare ``repartition(col)`` pins the cache at the session shuffle
    width, and AQE cannot coalesce a user-specified repartition — so at
    bench scale every downstream iteration inherits a far-too-wide plan
    (measured 2× wall on pagerank at sf0.1), while a plain persist's
    ENSURE_REQUIREMENTS exchange would have been byte-coalesced. This is
    AQE's own rule applied where AQE cannot reach (``input_splits``, the
    derivation streaming's ``_state_width`` shares): ceil(lineage input
    bytes / maxPartitionBytes), clamped to [1, session shuffle width]. At
    100 TB the clamp binds and the width IS the cluster width; locally it
    tracks the data. The lineage-bytes proxy undercounts frames that expand
    their source (exploded co-occurrence); the clamp keeps that error
    bounded by the session width. Non-local/unknown sources keep the
    session width (their true size is not stat()-able here)."""
    spark = df.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    splits = input_splits(spark, df.inputFiles())
    return width if splits is None else min(width, splits)


def python_stage_width(df: DataFrame) -> int | None:
    """Partition count for a keyed shuffle FEEDING A PER-KEY PYTHON
    REDUCER: cluster parallelism as the floor, byte-derived above it —
    or ``None`` (caller must NOT pin) when the input size is unknowable.

    AQE coalesces post-shuffle partitions by BYTES, which misprices an
    opaque per-key Python stage: the stage's cost driver is user-code
    invocations per key (~0.4 ms each), not bytes, so a few MB of keys
    coalesce to ONE task and the whole per-key pass runs on one core
    (measured: the 15k-key multi-input reduce at sf0.1 was 6.1 s AQE-
    coalesced vs 0.9 s at cluster width — the 5.5 s of per-key pandas
    work is embarrassingly parallel). The floor is the cluster's
    parallelism (never a constant); the byte term ceil(lineage input
    bytes / maxPartitionBytes) takes over at scale, where the floor is
    irrelevant and per-task sort memory bounds partition size. For a
    NON-LOCAL or file-less source the bytes are unknowable here, and a
    bare cluster-parallelism pin would hold total_bytes/cores per
    partition at scale (blowing per-task sort memory) — return None and
    let the caller fall back to the unpinned keyed repartition, exactly
    as spread_scan defers to remote split planning. Use ONLY where the
    reducer is per-key-cost dominated — a cheap reducer over few heavy
    keys is faster on AQE's byte-coalesced width (measured on the
    single-input sorted reduce: pinning width was ~1.5x slower)."""
    spark = df.sparkSession
    floor = spark.sparkContext.defaultParallelism
    splits = input_splits(spark, df.inputFiles())
    return None if splits is None else max(floor, splits)
