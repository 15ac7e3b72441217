"""``tools.driver_sim`` as a library: importing it for ``value_hash`` must
not load the DuckDB engine, which only the sweep in ``main()`` queries."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_importing_driver_sim_leaves_duckdb_unloaded():
    # a fresh interpreter: this test process already holds duckdb (conftest)
    child = (
        "import sys\n"
        "from tools import driver_sim\n"
        "assert callable(driver_sim.value_hash)\n"
        "assert 'duckdb' not in sys.modules, 'duckdb loaded'\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", child], cwd=REPO, capture_output=True, text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
