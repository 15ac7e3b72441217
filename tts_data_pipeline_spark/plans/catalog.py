"""Catalog — import all query modules so their ``@query`` registrations run,
and expose the driver-contract dicts."""

from __future__ import annotations

import json
import os

from tts_data_pipeline_spark.plans import registry

# Import for registration side effects.
from tts_data_pipeline_spark.plans import (  # noqa: F401
    tpch,
    relational,
    scalarfuncs,
    windows,
    extensions,
    textops,
    coverage,
    qcops,
    analytics,
    multimodalops,
    streamingops,
    curation,
    graphops,
    corpus,
    scansinks,
    sketches,
)


_HISTORY_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "sample_history.json"
)


def _load_history() -> dict | None:
    if not os.path.exists(_HISTORY_PATH):
        return None
    with open(_HISTORY_PATH) as f:
        return json.load(f)


def rotation_order(names: list[str], history: dict) -> list[str]:
    """Driver-sample rotation (r11 verdict #1).

    The driver certifies the first ~50 entries of catalog order each
    round.  Order so that committed driver evidence accrues over the
    WHOLE catalog instead of re-certifying a static prefix:

    1. entries not in ``history["known"]`` — new since the history was
       generated (i.e. added this round) — in registration order;
    2. known entries never sampled in any committed
       ``CORRECTNESS_r*.json``, in registration order;
    3. everything else by staleness: oldest ``last_sampled`` round
       first, registration order as tie-break.

    ``tools/update_sample_history.py`` regenerates the history at each
    round open; ``tests/test_catalog_rotation.py`` pins that this
    round-robin covers the full catalog within ceil(N/window) rounds.
    """
    known = set(history.get("known", ()))
    last = history.get("last_sampled", {})
    reg_idx = {n: i for i, n in enumerate(names)}

    def key(n: str) -> tuple:
        if n not in known:
            return (0, 0, reg_idx[n])
        if n not in last:
            return (1, 0, reg_idx[n])
        return (2, last[n], reg_idx[n])

    return sorted(names, key=key)


def _ordered(d: dict) -> dict:
    history = _load_history()
    if history is None:  # no history file: registration order
        return d
    return {k: d[k] for k in rotation_order(list(d), history)}


def queries():
    return _ordered(dict(registry.QUERIES))


def oracle_sql():
    return _ordered(dict(registry.ORACLES))
