"""Shared fixtures: one local SparkSession, one DuckDB oracle connection.

The comparison protocol mirrors the driver (and the reference's
`sort mr-out* | cmp` in main/test-mr.sh:59-67): row count + column
names + order-insensitive values must match the oracle.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minimapreduce_spark.catalog import TABLES, table_path
from minimapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="minimapreduce-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'"
        )
    yield con
    con.close()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_localize(None)
        elif pdf[c].dtype == object:
            # numpy arrays / lists → tuples so sort+compare work
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    sort_cols = [c for c in pdf.columns if pdf[c].dtype != float]
    pdf = pdf.sort_values(by=sort_cols or list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} != {list(b.columns)}"
    assert len(a) == len(b), f"{name}: row count {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            af = av.astype(float)
            bf = bv.astype(float)
            both_nan = np.isnan(af) & np.isnan(bf)
            ok = both_nan | np.isclose(af, bf, rtol=1e-9, atol=1e-9)
            assert ok.all(), f"{name}: col {c} max abs diff {np.nanmax(np.abs(af - bf))}"
        else:
            both_na = pd.isna(a[c]).to_numpy() & pd.isna(b[c]).to_numpy()
            mism = (av != bv) & ~both_na
            if mism.any():
                i = int(np.argmax(mism))
                raise AssertionError(f"{name}: col {c} first mismatch row {i}: {av[i]!r} != {bv[i]!r}")


def run_and_compare(spark, duck, name: str, sf_dir: str = SF_DIR) -> None:
    """Run a registered query and its oracle; assert they match."""
    from minimapreduce_spark import queries as q

    query = q.REGISTRY[name]
    assert query.oracle is not None, f"{name} has no oracle"
    spark_pdf = query.fn(spark, sf_dir).toPandas()
    oracle_pdf = duck.execute(query.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name=name)


def input_paths(df) -> list[str]:
    """Real local paths of every file ``df`` scans (`DataFrame.inputFiles`),
    uncut — unlike a plan string, whose scan ``Location`` Spark truncates
    at ``spark.sql.maxMetadataStringLength``."""
    from urllib.parse import unquote, urlparse

    return [os.path.realpath(unquote(urlparse(f).path)) for f in df.inputFiles()]


def under(path: str, root: str) -> bool:
    """True iff ``path`` is ``root`` or lies inside it."""
    root = os.path.realpath(root)
    return path == root or path.startswith(root + os.sep)
