"""Seeded benchmark inputs: the ten tables of the catalog's schema, as parquet.

``tools/gen_scale_data.generate`` writes them with one tile (the keyed tables
as they are).  The keyed tables it tiles are the catalog's test tables,
kept under ``perfbench/tables/<scale>`` so that a checkout holds every byte a
run reads: ``sf0.01`` is the scale of the DuckDB correctness sweep,
``sf0.001`` that of the self-tests.  ``documents`` is the seeded Zipf corpus
(planted 6% near-dups and 2% exact dups), so the seed changes the documents
and nothing else.  The same ``(seed, scale, n_docs)`` always writes
identical files.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys

from tools.gen_scale_data import generate

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def write_inputs(outdir: str, seed: int, scale: str, n_docs: int) -> str:
    """Write every table under ``outdir`` and return a digest of the files.

    The digest keys caches of results derived from these exact bytes (the
    oracle hashes), so it covers file contents, not the generator inputs.
    """
    # generate() reports on stdout, whose last line is the run's result
    with contextlib.redirect_stdout(sys.stderr):
        generate(outdir, 1, n_docs, doc_seed=seed, src=os.path.join(TABLES_DIR, scale))
    digest = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(outdir, f"{name}.parquet"), "rb") as f:
            digest.update(name.encode() + f.read())
    return digest.hexdigest()[:16]
