"""Round-14 trust-boundary pin for the footer-stats fast path.

The driver-side parquet-footer stats read (snapshot_table._footer_stats)
treats string chunk min/max as exact, which is only true while parquet-mr
DROPS oversized statistics instead of truncating them. If
``parquet.statistics.truncate.length`` is ever set on the session's
Hadoop conf, a truncated bound would be indistinguishable from an exact
one (pyarrow 16 exposes no is_min/max_value_exact), so the fast path
must refuse and the commit must fall back to the exact aggregation.
"""

import os

import pytest
from pyspark.sql import functions as F

from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

TRUNC_KEY = "parquet.statistics.truncate.length"


@pytest.fixture
def trunc_conf(spark):
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    old = hc.get(TRUNC_KEY)
    yield hc
    if old is None:
        hc.unset(TRUNC_KEY)
    else:
        hc.set(TRUNC_KEY, old)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "alpha"), (2, "omega"), (3, "m" * 40)], "id long, s string"
    )


def test_footer_stats_refused_under_truncation_conf(spark, trunc_conf, tmp_path):
    table = str(tmp_path / "t")
    st.write_snapshot(_docs(spark), table, stats_cols=["s"])
    snap = st._load_snapshot(table, 1)
    names = [s["file"] for s in snap["shards"]]
    schema = _docs(spark).schema
    # default conf: fast path proves the bounds and returns them
    got = st._footer_stats(spark, table, names, schema, ["s"])
    assert got is not None
    # any finite truncation length -> the fast path must refuse
    trunc_conf.set(TRUNC_KEY, "64")
    assert st._footer_stats(spark, table, names, schema, ["s"]) is None
    # non-string stats stay on the fast path (truncation only affects
    # binary/string bounds)
    assert st._footer_stats(spark, table, names, schema, ["id"]) is not None


def test_commit_under_truncation_conf_records_exact_stats(
    spark, trunc_conf, tmp_path
):
    trunc_conf.set(TRUNC_KEY, "64")
    table = str(tmp_path / "t")
    st.write_snapshot(_docs(spark), table, stats_cols=["s"])
    snap = st._load_snapshot(table, 1)
    # the fallback aggregation ran and recorded the EXACT bounds
    los, his = [], []
    for s in snap["shards"]:
        lo, hi = s["stats"]["s"]
        if lo is not None:
            los.append(lo)
        if hi is not None:
            his.append(hi)
    exp = _docs(spark).agg(F.min("s"), F.max("s")).collect()[0]
    assert min(los) == exp[0] and max(his) == exp[1]


def test_footer_stats_from_thread_pool_worker(spark, tmp_path):
    """The fast path takes the writer's session as an argument: called
    from a thread-pool worker (where MV refreshes commit, and where
    ``SparkSession.getActiveSession()`` can be None) it still proves
    string bounds instead of silently refusing."""
    from concurrent.futures import ThreadPoolExecutor

    table = str(tmp_path / "t")
    st.write_snapshot(_docs(spark), table, stats_cols=["s"])
    names = [s["file"] for s in st._load_snapshot(table, 1)["shards"]]
    with ThreadPoolExecutor(max_workers=1) as pool:
        got = pool.submit(
            st._footer_stats, spark, table, names, _docs(spark).schema,
            ["s"],
        ).result()
    assert got is not None
    counts, stats = got
    assert sum(counts.values()) == 3
    assert min(stats[n]["s"][0] for n in names) == "alpha"
    assert max(stats[n]["s"][1] for n in names) == "omega"
