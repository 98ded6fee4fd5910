"""DuckDB oracle pairs for the drift plans, run on the test session.

The same pairs ``tools/parity.py`` checks at sf0.01, compared with its
``compare()`` (row count, column set, exact order-insensitive values).
The test session runs ``local[4]`` with 8 shuffle partitions where
parity runs ``local[8]``, so a pass here is also a small check that
the drift results do not depend on the engine configuration.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from parity import SF_DIR, compare, duck_connection  # noqa: E402

# drift_pca_documents is left to tools/parity.py: its oracle (a
# ~400 KB unrolled Jacobi eigendecomposition) takes ~35 s and ~8.5 GB
# of resident memory inside DuckDB, which the allocator keeps after
# the query, so the test process would carry it through the rest of
# the suite. PCADriftCheck keeps its numpy golden in
# test_drift_primitives.py.
DRIFT_PAIRS = [
    "northstar_suite_verdicts",
    "suite_grid_documents",
    "drift_primitives_documents",
    "drift_rolling_documents",
    "history_drift_events",
]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection()
    yield con
    con.close()


@pytest.mark.parametrize("name", DRIFT_PAIRS)
def test_drift_pair_matches_oracle(spark, duck, name):
    from anomaly_detection_toolkit_spark.entry_queries import (
        EXTRA_PAIRS,
        QUERIES,
        resolved_oracles,
    )

    if name in QUERIES:
        query, oracle = QUERIES[name], resolved_oracles()[name]
    else:
        query, oracle = EXTRA_PAIRS[name]
        oracle = oracle() if callable(oracle) else oracle
    got = query(spark, SF_DIR).toPandas()
    want = duck.execute(oracle).df()
    assert compare(name, got, want) == []
