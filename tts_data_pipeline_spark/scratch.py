"""Scratch-space allocation for staging writes and iteration state.

Several operators stage intermediate files: the partitioned MERGE and its
compaction (Spark refuses to overwrite a path present in the read plan, so
touched partitions round-trip through a staging dir), the scan/sink
round-trip catalog entries, and the per-round state of the iterative
operators, which all goes through one :class:`RoundStore`:
``operators.components.connected_components``,
``plans.graphops.lpa_propagate_converged`` and ``graph_kcore_decompose``,
``plans.corpus.learn_bpe_merges`` and ``learn_wordpiece_merges``, and the
chunked ``plans.corpus.bpe_encode_corpus``.  On a cluster those paths must
live on the SAME filesystem as the tables they stage for (HDFS/S3 scratch
prefix, not executor-local /tmp), or the staged-write + re-read
round-trip silently crosses filesystems.

Resolution order for the scratch ROOT:

1. an explicit ``scratch_dir=`` argument on the calling operator,
2. the ``SPARK_GRAFT_SCRATCH_DIR`` environment variable,
3. the platform tempdir (``tempfile``) — correct for local[*].

Each call allocates a FRESH unique subdirectory under the root
(concurrent merges must never share staging paths); the caller owns its
deletion, and a :class:`RoundStore` deletes its own.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame

ENV_VAR = "SPARK_GRAFT_SCRATCH_DIR"


def scratch_mkdtemp(prefix: str, scratch_dir: str | None = None) -> str:
    """Allocate a unique scratch directory under the resolved root."""
    root = scratch_dir or os.environ.get(ENV_VAR)
    if root:
        os.makedirs(root, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=root)
    return tempfile.mkdtemp(prefix=prefix)


class RoundStore:
    """Lineage truncation for an iterative operator's per-round state.

    Without it a loop's plan doubles per round and the driver dies on plan
    compilation alone; Spark's reliable ``checkpoint()`` would do the same
    job but leaves its files behind (its cleaner can't be enabled on a live
    context), and a local RDD-cache checkpoint measured 2× slower on the
    sf0.1 components loop (deserialized rows miss the columnar scan).
    Here every :meth:`persist` writes the round as parquet under
    one scratch dir, reads it back with the frame's own schema (no
    footer-inference job) and deletes the previous round, so at most one
    round is on disk.  The dir is removed at interpreter exit, or earlier
    by :meth:`close` when nothing reads the state after the loop."""

    def __init__(self, prefix: str):
        self.dir = scratch_mkdtemp(prefix)
        self._rounds = 0
        atexit.register(self.close)

    def persist(self, df: DataFrame) -> DataFrame:
        """Write ``df`` as the next round and return the frame reading it."""
        path = os.path.join(self.dir, f"round_{self._rounds}")
        df.write.parquet(path)
        out = df.sparkSession.read.schema(df.schema).parquet(path)
        if self._rounds:
            shutil.rmtree(
                os.path.join(self.dir, f"round_{self._rounds - 1}"),
                ignore_errors=True,
            )
        self._rounds += 1
        return out

    def close(self) -> None:
        atexit.unregister(self.close)
        shutil.rmtree(self.dir, ignore_errors=True)
