"""Workload definitions: which catalog entries run, on which inputs.

Each workload is a fixed, ordered list of catalog entries run one after
another by one thread of the benchmark process (a closed loop with one
client).  The lists are trimmed so that a session set-up, a cold pass and
two warm passes, the first of which also checks the outputs, fit in about
a minute on 4 cores; each list keeps the layers that dominate its
workload.  There are two workloads, not more, because every run pays about
35 s of set-up and cold pass before its warm passes, and ten runs per
workload on each of two commits must stay within an hour.

- ``tables`` stands for short relational queries, streaming micro-batches
  and a layout write read back: sources, plans, shuffles, sinks and
  ``streaming``.  No operator, cache or Python UDF runs here.
- ``corpus`` stands for near-dup dedup and connected components: the
  operators, ``cache_replacing``, pandas-UDF batches and iterative jobs.
  Nothing streams or writes a layout here.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    entries: tuple[str, ...]
    # keyed test tables under perfbench/tables, and the document count
    scale: str
    n_docs: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="tables",
            why=(
                "relational, streaming and layout-write entries on the keyed tables: "
                "reader calls, plan build, job scheduling, shuffles, micro-batch state"
            ),
            entries=(
                "q5_region_revenue",
                "stream_tumbling_counts",
                "k8_zorder_layout_roundtrip",
            ),
            scale="sf0.01",
            n_docs=500,
        ),
        Workload(
            name="corpus",
            why=(
                "near-dup dedup and connected components on a seeded Zipf corpus: "
                "operators, relation caches, Python UDF batches, iterative jobs"
            ),
            entries=(
                "dedup_minhash_lsh",
                "dedup_clusters",
            ),
            scale="sf0.01",
            n_docs=500,
        ),
    )
}
