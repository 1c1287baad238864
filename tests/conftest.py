import contextlib
import io
import os
import sys
from pathlib import Path

import pytest

from yaetos_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="yaetos_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    dfs = {}
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        df.createOrReplaceTempView(n)
        dfs[n] = df
    return dfs


@pytest.fixture(scope="session")
def corpus(spark, sf_dir):
    """Every corpus query built once at ``sf_dir``: name -> (DataFrame,
    formatted plan), or name -> the exception its build raised.  The
    corpus-wide plan tests share it, so each query's eager build work
    (chain_components' CC loop, IVF training, ...) runs once a session."""
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod

    out = {}
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            out[name] = (df, buf.getvalue())
        except Exception as e:  # each consumer reports build failures
            out[name] = e
    return out
