"""Oracle verification for the 50 contract entries inside the driver's
correctness window (``QUERIES``), at the test scale.

``tools/check_oracle.py`` runs this comparison at sf0.01; this file runs
the same driver-shaped check inside the suite on ``sf_dir``, so a change
that breaks a window entry fails a test instead of waiting for a manual
sweep. Both sides are fetched through pandas and canonicalized by
``tools.check_oracle.pandas_frame_to_rows`` (the driver's fetch and
sort path), complex-typed contract columns are rejected, and the
computed VALUES-literal oracles are generated at the same scale the
Spark side reads.
"""

import pytest

from tools.check_oracle import complex_spark_columns, pandas_frame_to_rows


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    from letsearch_spark.queries import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="module")
def window_oracles(sf_dir):
    from letsearch_spark.queries import oracles_with_computed

    return oracles_with_computed(sf_dir)


def _window_names():
    from letsearch_spark.queries import QUERIES

    return list(QUERIES)


@pytest.mark.parametrize("name", _window_names())
def test_window_entry_matches_oracle(spark, sf_dir, duck, window_oracles, name):
    from letsearch_spark.queries import QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    assert not complex_spark_columns(sdf.schema)
    s_cols, s_rows = pandas_frame_to_rows(sdf.toPandas())
    d_cols, d_rows = pandas_frame_to_rows(duck.sql(window_oracles[name]).df())
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    assert s_rows == d_rows


def test_query_scratch_dirs_removed_at_exit(tmp_path):
    """Entries return lazy frames over their fixture files, so each
    ``queries._scratch_dir`` outlives the call; all of them are removed
    when the interpreter exits, leaving nothing in the temp dir."""
    import os
    import subprocess
    import sys

    code = (
        "import os\n"
        "from letsearch_spark.queries import _scratch_dir\n"
        "a, b = _scratch_dir('ls_a_'), _scratch_dir('ls_b_')\n"
        "assert a != b and os.path.isdir(a) and os.path.isdir(b)\n"
        "print(a)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.startswith(str(tmp_path))
    assert os.listdir(tmp_path) == []
