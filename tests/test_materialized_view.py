"""Incremental materialized-view maintenance
(sources/materialized_view.py): every refresh path must agree with a
full recompute of the spec over the source's CURRENT state, and every
contract violation must refuse loudly.

Reference parity: SVDMovieLensSparkJava.java:191-343 recomputes its
per-key aggregates from scratch each run; refresh_aggregate_view is the
O(delta) replacement, so equivalence-to-full-recompute IS the spec.
"""

import os

import pytest
from pyspark.sql import functions as F

from svdmovie_lens_parallel_apache_spark_spark.sources import (
    materialized_view as mv,
    snapshot_table as st,
)


@pytest.fixture()
def orders(spark, sf_dir):
    from svdmovie_lens_parallel_apache_spark_spark.sources.readers import (
        load_table,
    )

    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn(
            "band", F.floor(F.col("o_totalprice") / 50000).cast("long")
        )
    )


SPEC = dict(
    group_by=["band"],
    # DECIMAL sum: the module's documented exactness contract — double
    # sums fold in a different addition order than a full recompute
    # and drift by ulps (see DEPLOY.md)
    sums={"sum_price": "CAST(o_totalprice AS DECIMAL(18,6))"},
    mins={"min_price": "o_totalprice"},
    maxs={"max_price": "o_totalprice"},
    count_col="cnt",
)


def _recompute(spark, src, spec=SPEC):
    df = st.read_snapshot(spark, src)
    if spec.get("filter"):
        df = df.where(spec["filter"])
    aggs = [F.count(F.lit(1)).cast("long").alias(spec["count_col"])]
    for out, e in spec.get("sums", {}).items():
        aggs.append(F.sum(F.expr(e)).alias(out))
    for out, e in spec.get("mins", {}).items():
        aggs.append(F.min(F.expr(e)).alias(out))
    for out, e in spec.get("maxs", {}).items():
        aggs.append(F.max(F.expr(e)).alias(out))
    return df.groupBy(*spec["group_by"]).agg(*aggs)


def _assert_equiv(spark, src, view, spec=SPEC):
    exp = _recompute(spark, src, spec)
    got = st.read_snapshot(spark, view).select(*exp.columns)
    exp = exp.select(
        *[F.col(c).cast(t.dataType) for c, t in zip(exp.columns, got.schema)]
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_full_build_then_insert_only_and_delete_refresh(
    spark, orders, tmp_path
):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(
        orders.where(F.col("o_orderkey") % 3 != 2), src, stats_cols=["band"]
    )
    assert mv.refresh_aggregate_view(spark, src, view, **SPEC) == 1
    _assert_equiv(spark, src, view)

    # insert-only fast path: least/greatest fold, no dirty recompute
    st.write_snapshot(
        orders.where(F.col("o_orderkey") % 3 == 2),
        src,
        mode="append",
        stats_cols=["band"],
    )
    assert mv.refresh_aggregate_view(spark, src, view, **SPEC) == 2
    _assert_equiv(spark, src, view)

    # delete path: band 0 empties entirely -> group must drop; other
    # touched groups recompute their min (deleted rows held it)
    st.delete_where(spark, src, "o_totalprice < 50000")
    assert mv.refresh_aggregate_view(spark, src, view, **SPEC) == 3
    _assert_equiv(spark, src, view)
    bands = {
        r["band"] for r in st.read_snapshot(spark, view).collect()
    }
    assert 0 not in bands and bands


def test_noop_refresh_commits_nothing(spark, orders, tmp_path):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(orders, src)
    w = mv.refresh_aggregate_view(spark, src, view, **SPEC)
    v = st.latest_version(view)
    assert mv.refresh_aggregate_view(spark, src, view, **SPEC) == w
    assert st.latest_version(view) == v  # no new commit


def test_empty_delta_advances_watermark_with_metadata_commit(
    spark, orders, tmp_path
):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    spec = dict(SPEC, filter="o_totalprice >= 100000")
    st.write_snapshot(orders, src)
    mv.refresh_aggregate_view(spark, src, view, **spec)
    # this commit only touches rows the filter excludes
    st.delete_where(spark, src, "o_totalprice < 60000")
    w = mv.refresh_aggregate_view(spark, src, view, **spec)
    assert w == st.latest_version(src)
    head = st._load_snapshot(view, st.latest_version(view))
    assert head["operation"] == "metadata"
    assert head["properties"][mv._MV_KEY]["source_version"] == w
    _assert_equiv(spark, src, view, spec)


def test_update_where_pairs_hit_dirty_path(spark, orders, tmp_path):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    spec = dict(
        group_by=["o_orderstatus"],
        sums={"s": "CAST(o_totalprice AS DECIMAL(18,6))"},
        mins={"m": "o_totalprice"},
        maxs={},
        count_col="cnt",
    )
    st.write_snapshot(orders, src)
    mv.refresh_aggregate_view(spark, src, view, **spec)
    st.update_where(
        spark, src, {"o_totalprice": "o_totalprice + 7.00"}, "band = 3"
    )
    mv.refresh_aggregate_view(spark, src, view, **spec)
    _assert_equiv(spark, src, view, spec)


def test_sums_only_spec_drops_zero_count_groups(spark, orders, tmp_path):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    spec = dict(
        group_by=["band"],
        sums={"s": "CAST(o_totalprice AS DECIMAL(18,6))"},
        count_col="cnt",
    )
    st.write_snapshot(orders, src)
    mv.refresh_aggregate_view(spark, src, view, **spec)
    st.delete_where(spark, src, "band = 0")  # empties the group
    mv.refresh_aggregate_view(spark, src, view, **spec)
    assert not [
        r
        for r in st.read_snapshot(spark, view).collect()
        if r["band"] == 0
    ]
    _assert_equiv(spark, src, view, spec)


def test_spec_drift_refuses_and_force_rebuild_recovers(
    spark, orders, tmp_path
):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(orders, src)
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    drifted = dict(
        SPEC, sums={"sum_price": "CAST(o_totalprice * 2 AS DECIMAL(18,6))"}
    )
    with pytest.raises(ValueError, match="spec drift"):
        mv.refresh_aggregate_view(spark, src, view, **drifted)
    w = mv.refresh_aggregate_view(
        spark, src, view, **drifted, force_rebuild=True
    )
    assert w == st.latest_version(src)
    _assert_equiv(spark, src, view, drifted)


def test_reserved_and_colliding_columns_refuse(spark, orders, tmp_path):
    src = str(tmp_path / "src")
    st.write_snapshot(orders, src)
    with pytest.raises(ValueError, match="collide"):
        mv.refresh_aggregate_view(
            spark, src, str(tmp_path / "v1"),
            group_by=["band"], sums={"band": "o_totalprice"},
            count_col="cnt",
        )
    with pytest.raises(ValueError, match="reserved"):
        mv.refresh_aggregate_view(
            spark, src, str(tmp_path / "v2"),
            group_by=["band"], sums={"_change_type": "o_totalprice"},
            count_col="cnt",
        )
    with pytest.raises(ValueError, match="SOURCE columns only"):
        mv.refresh_aggregate_view(
            spark, src, str(tmp_path / "v3"),
            group_by=["band"], sums={"s": "o_totalprice"},
            count_col="cnt", filter="_change_type = 'insert'",
        )


def test_null_group_key_refuses(spark, orders, tmp_path):
    src = str(tmp_path / "src")
    st.write_snapshot(
        orders.withColumn(
            "band",
            F.when(F.col("o_orderkey") % 100 == 0, None).otherwise(
                F.col("band")
            ),
        ),
        src,
    )
    with pytest.raises(ValueError, match="NULL group key"):
        mv.refresh_aggregate_view(
            spark, src, str(tmp_path / "view"), **SPEC
        )


def test_concurrent_refresh_tripwire(spark, orders, tmp_path, monkeypatch):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(orders.where("band <= 2"), src)
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    st.write_snapshot(
        orders.where("band > 2"), src, mode="append"
    )

    # a rival refresher lands between this refresh's fold and commit
    real = mv._recheck

    def race_once(view_path, last):
        if not getattr(race_once, "fired", False):
            race_once.fired = True
            mv.refresh_aggregate_view(spark, src, view, **SPEC)
        real(view_path, last)

    monkeypatch.setattr(mv, "_recheck", race_once)
    with pytest.raises(RuntimeError, match="concurrent refresh"):
        mv.refresh_aggregate_view(spark, src, view, **SPEC)
    _assert_equiv(spark, src, view)  # the rival's refresh stands, intact


def test_foreign_view_commit_does_not_lose_watermark(
    spark, orders, tmp_path
):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(orders.where("band <= 2"), src)
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    # maintenance on the view (no mv stamp on that commit)
    st.analyze_table(spark, view, stats_cols=["band"])
    st.write_snapshot(orders.where("band > 2"), src, mode="append")
    w = mv.refresh_aggregate_view(spark, src, view, **SPEC)
    assert w == st.latest_version(src)
    _assert_equiv(spark, src, view)


def test_retention_outrunning_watermark_raises_and_rebuild_recovers(
    spark, orders, tmp_path
):
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(orders.where("band <= 1"), src)          # v1
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    st.write_snapshot(
        orders.where("band = 2"), src, mode="append"
    )                                                          # v2
    st.delete_where(spark, src, "band = 0")                    # v3
    st.expire_snapshots(src, keep_last=1)
    with pytest.raises(FileNotFoundError):
        mv.refresh_aggregate_view(spark, src, view, **SPEC)
    w = mv.refresh_aggregate_view(
        spark, src, view, **SPEC, force_rebuild=True
    )
    assert w == st.latest_version(src)
    _assert_equiv(spark, src, view)


def test_dirty_recompute_prunes_source_files(spark, orders, tmp_path):
    """The min/max dirty-group recompute must read ONLY the files the
    dirty keys can live in when the group column carries stats: range-
    clustered source, delete inside one band -> the recompute scan's
    input files must exclude disjoint shards (metadata pruning)."""
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(
        orders.repartitionByRange(6, "band").sortWithinPartitions("band"),
        src,
        stats_cols=["band"],
    )
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    st.delete_where(
        spark, src, "band = 2 AND o_orderkey % 2 = 0",
        prune=("band", 2, 2),
    )

    seen = {}
    real = st.read_snapshot

    def spy(spark_, table, **kw):
        if table == src and "prune" in kw:
            seen["prune"] = kw["prune"]
        return real(spark_, table, **kw)

    try:
        st.read_snapshot = spy
        mv.refresh_aggregate_view(spark, src, view, **SPEC)
    finally:
        st.read_snapshot = real
    assert seen.get("prune") == ("band", 2, 2)
    _assert_equiv(spark, src, view)


def test_null_sum_expression_refuses_at_build_and_in_delta(
    spark, orders, tmp_path
):
    src = str(tmp_path / "src")
    nullable = orders.withColumn(
        "maybe",
        F.when(F.col("o_orderkey") % 50 == 0, None).otherwise(
            F.col("o_totalprice")
        ),
    )
    st.write_snapshot(nullable.where("o_orderkey % 2 = 0"), src)
    spec = dict(group_by=["band"], sums={"s": "maybe"}, count_col="cnt")
    with pytest.raises(ValueError, match="sum expression .* NULL"):
        mv.refresh_aggregate_view(
            spark, src, str(tmp_path / "v1"), **spec
        )
    # a total expression builds fine...
    spec_ok = dict(
        group_by=["band"], sums={"s": "coalesce(maybe, 0)"},
        count_col="cnt",
    )
    view = str(tmp_path / "v2")
    mv.refresh_aggregate_view(spark, src, view, **spec_ok)
    # ...and the raw one is caught again when NULLs arrive via the feed
    view3 = str(tmp_path / "v3")
    clean_spec = dict(group_by=["band"], sums={"s": "maybe"},
                      count_col="cnt")
    src2 = str(tmp_path / "src2")
    st.write_snapshot(
        nullable.where("o_orderkey % 50 <> 0"), src2
    )
    mv.refresh_aggregate_view(spark, src2, view3, **clean_spec)
    st.write_snapshot(
        nullable.where("o_orderkey % 50 = 0"), src2, mode="append"
    )
    with pytest.raises(ValueError, match="sum expression .* NULL"):
        mv.refresh_aggregate_view(spark, src2, view3, **clean_spec)


def test_derived_group_keys_fold_and_dirty_path(spark, orders, tmp_path):
    """Dict-form group_by: derived keys evaluated row-locally must
    agree across the full build, the signed fold, and the dirty
    recompute — including a derived key NAME that shadows a source
    column (internal aliasing keeps the semi-join unambiguous)."""
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    spec = dict(
        group_by={"parity": "o_orderkey % 2",
                  "o_orderstatus": "upper(o_orderstatus)"},
        sums={"s": "CAST(o_totalprice AS DECIMAL(18,6))"},
        mins={"m": "o_totalprice"},
        count_col="cnt",
    )
    st.write_snapshot(orders.where("o_orderkey % 3 != 2"), src)
    mv.refresh_aggregate_view(spark, src, view, **spec)
    st.write_snapshot(
        orders.where("o_orderkey % 3 = 2"), src, mode="append"
    )
    mv.refresh_aggregate_view(spark, src, view, **spec)   # insert fold
    st.delete_where(spark, src, "o_totalprice < 80000")
    mv.refresh_aggregate_view(spark, src, view, **spec)   # dirty path

    exp = (
        st.read_snapshot(spark, src)
        .groupBy(
            F.expr("o_orderkey % 2").alias("parity"),
            F.expr("upper(o_orderstatus)").alias("o_orderstatus"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,6))")).alias("s"),
            F.min("o_totalprice").alias("m"),
        )
    )
    got = st.read_snapshot(spark, view).select(*exp.columns)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    # list-form and dict-form identity specs are the SAME canonical
    # spec: a view built with one refreshes under the other
    src2 = str(tmp_path / "src2")
    view2 = str(tmp_path / "view2")
    st.write_snapshot(orders, src2)
    mv.refresh_aggregate_view(
        spark, src2, view2,
        group_by=["band"], sums={"s": "o_totalprice"}, count_col="cnt",
    )
    st.delete_where(spark, src2, "band = 0")
    w = mv.refresh_aggregate_view(
        spark, src2, view2,
        group_by={"band": "band"}, sums={"s": "o_totalprice"},
        count_col="cnt",
    )
    assert w == st.latest_version(src2)


def test_force_rebuild_recovers_expired_stamp(spark, orders, tmp_path):
    """The prescribed remedy must actually work: when the view's only
    stamped commit is expired (foreign maintenance commit on top, then
    retention), a plain refresh raises the 'no reachable refresh
    stamp' error and force_rebuild=True RECOVERS — overwriting (not
    appending to) the stampless table — after which plain refreshes
    resume."""
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(orders.where("band <= 2"), src)
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    st.analyze_table(spark, view, stats_cols=["band"])  # unstamped head
    st.expire_snapshots(view, keep_last=1)  # stamped commit gone
    with pytest.raises(ValueError, match="reachable refresh stamp"):
        mv.refresh_aggregate_view(spark, src, view, **SPEC)
    w = mv.refresh_aggregate_view(
        spark, src, view, **SPEC, force_rebuild=True
    )
    assert w == st.latest_version(src)
    _assert_equiv(spark, src, view)  # overwrite: no duplicated rows
    st.write_snapshot(orders.where("band > 2"), src, mode="append")
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    _assert_equiv(spark, src, view)


def test_source_path_mismatch_names_the_two_paths(spark, orders, tmp_path):
    src = str(tmp_path / "src")
    other = str(tmp_path / "other")
    view = str(tmp_path / "view")
    st.write_snapshot(orders, src)
    st.write_snapshot(orders.where("band <= 1"), other)
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    with pytest.raises(ValueError, match="tracks source"):
        mv.refresh_aggregate_view(spark, other, view, **SPEC)


def test_stale_watermark_stamp_race_raises(spark, orders, tmp_path,
                                           monkeypatch):
    """An empty-delta refresh that loses its metadata-commit claim to a
    rival refresher must raise, not stamp its STALE watermark over the
    rival's newer one (which would make the next refresh re-fold the
    rival's delta)."""
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    spec = dict(SPEC, filter="o_totalprice >= 100000")
    st.write_snapshot(orders, src)
    mv.refresh_aggregate_view(spark, src, view, **spec)
    st.delete_where(spark, src, "o_totalprice < 60000")  # empty delta

    real = mv.st._claim_snapshot

    def lose_once(table, tmp_dir, snapshot, branch=None):
        if not getattr(lose_once, "fired", False):
            lose_once.fired = True
            # rival refresher lands first and consumes through head
            mv.refresh_aggregate_view(spark, src, view, **spec)
            return False  # this claim loses the version race
        return real(table, tmp_dir, snapshot, branch)

    monkeypatch.setattr(mv.st, "_claim_snapshot", lose_once)
    with pytest.raises(RuntimeError, match="concurrent refresh"):
        mv.refresh_aggregate_view(spark, src, view, **spec)


def test_multi_view_refresh_shares_one_cdc_read(spark, orders, tmp_path,
                                                monkeypatch):
    """refresh_aggregate_views folds N views at the same watermark from
    ONE CDC multiset diff (the expensive part of a refresh) — and both
    views still equal their full recomputes."""
    src = str(tmp_path / "src")
    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spec1 = dict(
        group_by=["band"],
        sums={"s": "CAST(o_totalprice AS DECIMAL(18,6))"},
        count_col="cnt",
    )
    spec2 = dict(group_by=["o_orderstatus"],
                 mins={"m": "o_totalprice"}, count_col="cnt")
    st.write_snapshot(orders.where("o_orderkey % 2 = 0"), src)
    mv.refresh_aggregate_views(spark, src, {v1: spec1, v2: spec2})
    st.write_snapshot(
        orders.where("o_orderkey % 2 = 1"), src, mode="append"
    )
    st.delete_where(spark, src, "o_totalprice < 60000")

    calls = []
    real = mv.st.read_cdc

    def counting(spark_, table, **kw):
        calls.append(kw)
        return real(spark_, table, **kw)

    monkeypatch.setattr(mv.st, "read_cdc", counting)
    out = mv.refresh_aggregate_views(spark, src, {v1: spec1, v2: spec2})
    assert out == {v1: 3, v2: 3}
    assert len(calls) == 1  # one diff, two folds
    _assert_equiv(spark, src, v1, spec1)
    _assert_equiv(spark, src, v2, spec2)


def test_delta_cache_miss_reads_unpinned_and_leaves_cache(spark, orders,
                                                         tmp_path):
    """The shared CDC cache is filled only by refresh_aggregate_views
    before its pool starts; a refresh whose range misses it (the head
    moved after the pre-build) reads the change feed itself and must
    not write the cache, which pool threads share."""
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    st.write_snapshot(orders.where("o_orderkey % 2 = 0"), src)
    mv.refresh_aggregate_view(spark, src, view, **SPEC)
    st.write_snapshot(orders.where("o_orderkey % 2 = 1"), src, mode="append")

    cache = {}
    assert mv.refresh_aggregate_view(
        spark, src, view, **SPEC, _delta_cache=cache
    ) == 2
    assert cache == {}
    _assert_equiv(spark, src, view)
