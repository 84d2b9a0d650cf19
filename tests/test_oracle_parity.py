"""Every registry query vs its DuckDB oracle — the driver's t2 gate, locally.

Runs at sf0.001 for speed; the driver runs the same pairs at sf0.01.
"""

import glob
import os
import subprocess
import sys

import pytest

from gaia_spark import queries as Q
from tests.oracle_harness import compare, duck_run

SF_DIR = "/root/testdata/sf0.001"

ORACLE_NAMES = sorted(n for n, q in Q.REGISTRY.items() if q.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, name):
    q = Q.REGISTRY[name]
    compare(q.spark(spark, SF_DIR), duck_run(q.oracle, SF_DIR))


def test_registry_covers_contract():
    # every oracle key exists in queries (driver contract invariant)
    assert ORACLE_NAMES  # non-empty
    for n in ORACLE_NAMES:
        assert Q.REGISTRY[n].spark is not None


ROWS_ONLY = sorted(n for n, q in Q.REGISTRY.items() if q.oracle is None)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run_and_are_deterministic(spark, name):
    q = Q.REGISTRY[name]
    a = q.spark(spark, SF_DIR)
    n1 = a.count()
    n2 = q.spark(spark, SF_DIR).count()
    assert n1 == n2 and n1 >= 0
    assert len(a.schema.fields) > 0


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY_MODULES = sorted(
    "gaia_spark." + os.path.basename(p)[: -len(".py")]
    for p in glob.glob(os.path.join(ROOT, "gaia_spark", "queries*.py"))
)


@pytest.mark.parametrize("module", REGISTRY_MODULES)
def test_registry_module_imports_alone(module):
    """Each registry module imports first in a fresh interpreter — no
    import cycle through gaia_spark.queries' tail imports."""
    proc = subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
