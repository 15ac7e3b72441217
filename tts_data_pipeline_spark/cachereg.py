"""Replace-on-reinvoke cache registry.

Several operators ``cache()`` a base relation that the RETURNED lazy plan
references (MinHash/Jaccard token sets read 2-3×, PageRank's transition
matrix read once per iteration).  The cache cannot be unpersisted inside
the operator — the caller's action still needs it — so in a long session
(bench's min-of-3, the driver's sweep, the scaling harness) every
invocation stacked a new InMemoryRelation on the executor store and old
ones spilled/evicted under pressure.  Measured: the Jaccard sf1 scaling
point degraded 28 s → 48-55 s purely from earlier invocations' caches;
with the registry, a sweep-then-repeat session holds exactly one live
base per operator and the repeats sit in the isolated-session band
(26-38 s warm on this host) instead of climbing.

Memory posture at scale: ``DataFrame.cache()`` is MEMORY_AND_DISK, so a
corpus-sized base (the semdedup assignment, the minhash token sets)
SPILLS to executor-local disk under pressure instead of OOMing — the
same degradation a production run gets from persisting the stage
boundary, which is what these caches stand in for.  The registry bounds
the count (one live base per key), not the size.

This registry is the fix, mirroring ``plans/scansinks._tmpdir``'s
replace-on-reinvoke file lifecycle (itself the r3 kmeans-cache lesson):
each operator keys its cached base here, and the next invocation of the
same operator with a DIFFERENT logical plan (other table dir, other
parameters) unpersists the previous one before caching anew.  An
invocation with the SAME plan returns the stored frame untouched —
Spark's CacheManager already dedups same-plan caches, and repeat
invocations (bench's min-of-N, the driver re-running a query) must keep
hitting the materialized data; naively unpersisting on every call threw
that away and made MinHash re-pay its 64-hash signature projection per
pass (measured 1.1 s → 7.9 s).  A session therefore holds at most one
cached base per operator, and the previous invocation's returned frame
stays CORRECT if re-collected (unpersist only drops the
materialization; the plan recomputes).

:func:`cache_replacing` is the registry's one entry point.  Catalog
entries return unordered frames (the ordering contract in
``plans/registry.py``), so nothing here sorts: a terminal global sort
would re-run the cached child under the range partitioner's sampling
job.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_CACHED: dict[str, tuple[int, DataFrame]] = {}
# Operators normally run on ONE driver thread (the catalog/bench/driver
# loops are sequential), but Spark explicitly supports concurrent job
# submission from multiple driver threads (e.g. a user running two
# catalog queries with ThreadPoolExecutor), and an unguarded
# check-unpersist-replace sequence could then unpersist a base another
# thread is mid-materializing.  The lock makes the registry safe either
# way; it guards only the dict transition, never a Spark action, so
# there is no job-scope blocking.
_LOCK = threading.Lock()


def cache_replacing(key: str, df: DataFrame) -> DataFrame:
    """Cache ``df`` under ``key``; reuse same-plan, replace changed-plan."""
    h = df._jdf.queryExecution().analyzed().semanticHash()
    with _LOCK:
        prev = _CACHED.get(key)
        if prev is not None:
            if prev[0] == h:
                # guard against EXTERNAL unpersists — e.g. a caller ran
                # spark.catalog.clearCache() between invocations.  The
                # stored frame stays correct (plans recompute) but its
                # recompute protection is silently gone; re-cache the
                # same plan instead of handing back a de-materialized
                # frame that every reference rebuilds.
                if prev[1].storageLevel != StorageLevel.NONE:
                    return prev[1]
                del _CACHED[key]
            else:
                prev[1].unpersist()
                del _CACHED[key]
        out = df.cache()
        _CACHED[key] = (h, out)
        return out

