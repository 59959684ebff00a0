from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# --- shared index fixtures (built once per session) -----------------------

N_PAGES = 800


@pytest.fixture(scope="session")
def corpus(spark):
    import numpy as np

    from search_engine_spark.sources.pages import (
        generate_pages_df,
        generate_pages_pandas,
    )

    pdf = generate_pages_pandas(np.arange(N_PAGES))
    sdf = generate_pages_df(spark, N_PAGES, partitions=4)
    return pdf, sdf


@pytest.fixture(scope="session")
def oracle_index(corpus):
    from search_engine_spark.oracle import engine as oracle

    pdf, _ = corpus
    return oracle.build_index(pdf)


@pytest.fixture(scope="session")
def spark_index(spark, corpus, tmp_path_factory):
    from search_engine_spark.operators import index_build as ib
    from search_engine_spark.operators.query import SearchIndex

    _, sdf = corpus
    root = str(tmp_path_factory.mktemp("index"))
    paths = ib.IndexPaths(root)
    # small salt threshold exercises the hot-term salting path at test scale
    ib.build_index(
        spark, sdf, paths, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8,
    )
    return SearchIndex(spark, paths)


@pytest.fixture(scope="session")
def count_collects(spark):
    """Context-manager factory counting DataFrame.collect() calls made in
    its block (take() and toPandas() collect too). Patches the CONCRETE
    DataFrame class this session returns: PySpark 4's classic DataFrame
    overrides collect, so patching pyspark.sql.DataFrame counts nothing.
    The probe checks itself once so it can never silently read 0."""
    import contextlib

    cls = type(spark.range(1))

    @contextlib.contextmanager
    def probe():
        calls: list[int] = []
        orig = cls.collect

        def counting(self, *a, **kw):
            calls.append(1)
            return orig(self, *a, **kw)

        cls.collect = counting
        try:
            yield calls
        finally:
            cls.collect = orig

    with probe() as calls:
        spark.range(1).collect()
    assert len(calls) == 1, "collect probe does not intercept collect()"
    return probe
