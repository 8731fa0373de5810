"""Property-based tests (SURVEY.md §5 item 4): invariants over generated
inputs — clamp domain, dedup idempotence, single-agg ≡ agg-then-join,
portable-round self-consistency with DuckDB."""

import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=30
    )
)
@_settings
def test_clamp_always_in_rating_domain(spark, vals):
    from svdmovie_lens_parallel_apache_spark_spark.functions.scalar import clamp

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    out = [r.c for r in df.select(clamp(F.col("x")).alias("c")).collect()]
    assert all(1.0 <= c <= 5.0 for c in out)


@given(
    us=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False), min_size=4, max_size=4
    ),
    ms=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False), min_size=4, max_size=4
    ),
)
@_settings
def test_clamped_fold_in_domain_and_matches_python(spark, us, ms):
    """U2 fold stays in [1,5] and equals a serial Python fold exactly."""
    from svdmovie_lens_parallel_apache_spark_spark.functions.vectors import clamped_fold

    df = spark.createDataFrame([(us, ms)], "u array<double>, m array<double>")
    got = df.select(clamped_fold(F.col("u"), F.col("m")).alias("p")).collect()[0].p
    acc = 1.0
    for a, b in zip(us, ms):
        acc = min(5.0, max(1.0, acc + a * b))
    assert got == acc
    assert 1.0 <= got <= 5.0


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=20), min_size=1, max_size=12
    )
)
@_settings
def test_exact_dedup_idempotent(spark, texts):
    from svdmovie_lens_parallel_apache_spark_spark.operators.dedup import (
        exact_dedup_groups,
    )

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    groups = exact_dedup_groups(docs)
    keepers = docs.join(
        groups.select(F.col("keep_doc_id").alias("doc_id")), "doc_id", "left_semi"
    )
    # dedup of the deduped set changes nothing
    again = exact_dedup_groups(keepers)
    assert again.count() == groups.count()
    assert again.where(F.col("n_copies") > 1).count() == 0


@given(
    pairs=st.lists(
        st.tuples(st.integers(min_value=1, max_value=5), st.integers(min_value=1, max_value=100)),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_single_agg_equals_agg_then_join(spark, pairs):
    """The reference computed (count, sum) per key as two reduceByKey
    passes + a join (J1); one groupBy must be equivalent."""
    df = spark.createDataFrame(pairs, "k int, v int")
    single = {
        r.k: (r.cnt, r.s)
        for r in df.groupBy("k").agg(F.count("*").alias("cnt"), F.sum("v").alias("s")).collect()
    }
    counts = df.groupBy("k").agg(F.count("*").alias("cnt"))
    sums = df.groupBy("k").agg(F.sum("v").alias("s"))
    joined = {r.k: (r.cnt, r.s) for r in counts.join(sums, "k").collect()}
    assert single == joined


@given(
    vals=st.lists(
        st.floats(min_value=-1e5, max_value=1e5, allow_nan=False), min_size=1, max_size=20
    ),
    n=st.integers(min_value=0, max_value=6),
)
@_settings
def test_portable_round_matches_duckdb(spark, vals, n):
    """floor(x*10^n+0.5)/10^n must agree bit-for-bit across engines for
    arbitrary doubles — the foundation of every oracle comparison."""
    from svdmovie_lens_parallel_apache_spark_spark.functions.scalar import portable_round

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = [r.r for r in df.select(portable_round(F.col("x"), n).alias("r")).collect()]
    con = duckdb.connect()
    expect = [
        con.sql(f"SELECT floor(CAST({v!r} AS DOUBLE) * 1e{n} + 0.5) / 1e{n}").fetchone()[0]
        for v in vals
    ]
    assert got == expect


@given(
    xy=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1023),
            st.integers(min_value=0, max_value=1023),
        ),
        min_size=1,
        max_size=20,
    )
)
@_settings
def test_morton_code_is_bijective(spark, xy):
    """Z-order interleave must be invertible: de-interleaving the Spark-computed
    code recovers (x, y) exactly for any 10-bit pair — the property that makes
    z-range file pruning sound."""
    from svdmovie_lens_parallel_apache_spark_spark.catalog_pipeline import morton_col

    df = spark.createDataFrame([(x, y) for x, y in xy], "x bigint, y bigint")
    rows = df.select(
        "x", "y", morton_col(F.col("x"), F.col("y"), 10).alias("z")
    ).collect()
    for r in rows:
        x = y = 0
        for b in range(10):
            y |= ((r.z >> (2 * b)) & 1) << b
            x |= ((r.z >> (2 * b + 1)) & 1) << b
        assert (x, y) == (r.x, r.y)


@given(
    keys=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60)
)
@_settings
def test_cms_overcounts_only(spark, keys):
    """For ANY key multiset the count-min estimate is >= the exact count of
    every key (a tiny 2x8 sketch forces collisions, so the inequality is
    genuinely exercised, not vacuous)."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    sk = cms_build(df, "k", depth=2, width=8)
    exact = {k: keys.count(k) for k in set(keys)}
    est = {
        r.k: r.cms_est
        for r in cms_estimate(sk, df.distinct(), "k", depth=2, width=8).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)


@given(
    build=st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
    probe=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=60),
)
@_settings
def test_bloom_prune_membership_property(spark, build, probe):
    """No false negatives ever; every surviving row either truly matches or
    is a bona-fide false positive (collision of all k hashes) — surviving
    keys are a superset of true matches for any input."""
    from svdmovie_lens_parallel_apache_spark_spark.operators.sketches import (
        bloom_positions,
        bloom_prune,
    )

    bdf = spark.createDataFrame([(k,) for k in sorted(build)], "key bigint")
    pdf = spark.createDataFrame([(i, k) for i, k in enumerate(probe)], "rid bigint, key bigint")
    pos = bloom_positions(bdf, "key", m=64, k=2)
    passed = {r.rid for r in bloom_prune(pdf, pos, "key", m=64, k=2).collect()}
    true_rids = {i for i, k in enumerate(probe) if k in build}
    assert true_rids <= passed


def test_results_invariant_under_parallelism(spark, sf_dir):
    """The determinism contract behind every oracle: float-heavy queries
    must return BIT-IDENTICAL results when the shuffle partition count (and
    hence accumulation order) changes — this is what DECIMAL accumulation,
    sequential folds, and portable rounding buy. A plain double sum would
    fail this test."""
    import __spark_entry__ as m

    NAMES = [
        "q01_pricing_summary",       # decimal revenue sums
        "incremental_agg_merge",     # monoid merge
        "pagerank_bipartite",        # iterative float loop
        "unigram_lm_score",          # pre-rounded NLL accumulation
        "winsorized_stats",          # order statistics + decimal mean
    ]
    qs = m.queries()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("7", prev):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in NAMES:
                rows = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
                results.setdefault(name, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for name, (a, b) in results.items():
        assert a == b, f"{name} changed under different parallelism"


def test_iterative_queries_invariant_under_executor_count(spark, sf_dir):
    """Chaos twin of the shuffle-partition invariance test: the ITERATIVE
    queries (PageRank float loop, CC min-label propagation with its
    union-find fast path, streaming rollup monoid merge) must return
    row-identical results when the physical executor-thread count changes
    (local[4] session here vs a fresh local[32] process), not merely the
    shuffle partition count — per-iteration portable rounding and DECIMAL
    accumulation are what make this hold."""
    import json
    import subprocess
    import sys
    import tempfile

    import __spark_entry__ as m

    # bpe_merge_rounds: r4 iterative op — corpus-wide argmax per round
    # with lexicographic tie-break must not depend on partitioning.
    # movielens_replay (r5): the full four-phase ALS pipeline — MLlib ALS
    # block-partitions on id hash with a FIXED block count, so the trained
    # factors (and hence the 5-column predictions table) must be
    # bit-identical under different thread counts; paired with the
    # fixture-free golden-hash gate in test_recsys.py
    NAMES = ["pagerank_bipartite", "dedup_clusters", "streaming_incremental_rollup",
             "bpe_merge_rounds", "movielens_replay"]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qs = m.queries()

    def canon(rows):
        return sorted(str(sorted(r.asDict().items())) for r in rows)

    script = f"""
import sys, json
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m
qs = m.queries()
out = {{}}
for n in {NAMES!r}:
    rows = qs[n](spark, {sf_dir!r}).collect()
    out[n] = sorted(str(sorted(r.asDict().items())) for r in rows)
print("RESULT::" + json.dumps(out))
spark.stop()
"""
    # start the fresh-process half FIRST, compute the in-session half
    # while it boots and runs: the two halves are independent by
    # construction (that independence IS the property under test), so
    # overlapping them halves this test's wall time without touching
    # what it asserts
    # the child's stderr goes to a temp file, not a pipe: nothing reads
    # a pipe while the in-session half computes, and a full pipe buffer
    # would block the child. It is read back only if the child fails.
    with tempfile.TemporaryFile("w+") as errf:
        proc = subprocess.Popen(
            [sys.executable, "-c", script],
            stdout=subprocess.PIPE, stderr=errf, text=True,
        )
        here = {n: canon(qs[n](spark, sf_dir).collect()) for n in NAMES}
        stdout, _ = proc.communicate(timeout=900)

        def stderr_tail():
            errf.seek(0)
            return errf.read()[-2000:]

        lines = [
            ln for ln in stdout.splitlines() if ln.startswith("RESULT::")
        ]
        assert lines, f"subprocess failed: {stderr_tail()}"
    other = json.loads(lines[0][len("RESULT::"):])
    for n in NAMES:
        assert here[n] == other[n], f"{n} changed between local[4] and local[32]"


@given(
    seed=st.integers(0, 2**31 - 1),
    w=st.integers(1, 23),
    h=st.integers(1, 11),
    n=st.integers(1, 5),
    rate=st.sampled_from([8000, 16000, 44100]),
    n_samp=st.integers(0, 400),
)
@_settings
def test_wav_and_avi_codecs_round_trip_any_content(seed, w, h, n, rate, n_samp):
    """Property: the WAV and AVI codecs round-trip ARBITRARY content and
    shapes bit-exactly — amplitude extremes (int16 min/max), zero-length
    audio, 1-pixel frames, every stride-padding residue. Pure NumPy, no
    Spark session; hypothesis drives the shapes the fixed tests miss."""
    import numpy as np

    from svdmovie_lens_parallel_apache_spark_spark.operators.multimodal import (
        decode_avi_dib,
        decode_wav_pcm,
        encode_avi_dib,
        encode_wav_pcm16,
    )

    rng = np.random.default_rng(seed)
    samples = rng.integers(-(2**15), 2**15, size=n_samp, dtype=np.int64).astype(np.int16)
    got_rate, got = decode_wav_pcm(encode_wav_pcm16(samples, sample_rate=rate,
                                                    junk=bytes(rng.bytes(seed % 7))))
    assert got_rate == rate and np.array_equal(got, samples)

    frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_avi_dib(encode_avi_dib(frames)), frames)


@given(
    counts=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=12),
    budget=st.integers(min_value=1, max_value=12),
    split=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_cdc_pager_covers_every_position_exactly_once(counts, budget, split):
    """_capped_end_paged driven to exhaustion over an arbitrary commit
    history: positions strictly advance every non-caught-up step
    (liveness), page indices stay inside [0, n) with a stable n per
    version (offsets re-page identically on restart), the offset dict
    encoding round-trips (no churn batches), and the union of planned
    (version, page-range) intervals covers every version's full page
    space exactly once (no loss, no overlap) — the paging twin of the
    exactly-once claim the live tests pin on real tables."""
    from unittest import mock

    from svdmovie_lens_parallel_apache_spark_spark.sources import (
        snapshot_stream as ss,
    )

    latest = len(counts)

    def fake_counts(_table, v):
        return (counts[v - 1], 0, 0)

    seen: dict[int, list[tuple[int, int, int]]] = {}
    with mock.patch.object(ss, "_version_change_counts", fake_counts):
        pos = (1, 0, 0)
        for _step in range(10_000):
            end = ss._capped_end_paged("t", latest, pos, budget, split)
            assert ss._cdc_norm(ss._cdc_off(end)) == end  # bijective
            if end == pos:
                assert pos == (latest + 1, 0, 0)  # caught-up fixpoint
                break
            assert (end[0], end[1]) > (pos[0], pos[1])  # liveness
            # record the planned interval per version (mirror of the
            # partitions() walk)
            v, p, n = pos
            while (v, p) < (end[0], end[1]):
                if v == end[0] and end[2]:
                    hi, N = end[1], end[2]
                elif n:
                    hi, N = n, n
                else:
                    hi, N = 1, 1  # whole version == one full "page"
                seen.setdefault(v, []).append((p, hi, N))
                v, p, n = v + 1, 0, 0
            pos = end
        else:
            raise AssertionError("pager failed to converge")
    for v in range(1, latest + 1):
        ivs = seen.get(v, [])
        assert ivs, f"version {v} never planned"
        ns = {N for _lo, _hi, N in ivs}
        assert len(ns) == 1, f"version {v} re-paged with different n: {ns}"
        n = ns.pop()
        covered = []
        for lo, hi, _ in sorted(ivs):
            covered.extend(range(lo, hi))
        assert covered == list(range(n)), (
            f"version {v}: pages {covered} != full space 0..{n - 1}"
        )
        if not split:
            assert n == 1  # never splits without page_keys


@given(
    us=st.integers(min_value=0, max_value=4_000_000_000 * 1_000_000),
    days=st.integers(min_value=-300_000, max_value=300_000),
)
@_settings
def test_epoch_probe_form_agreement(us, days):
    """Every probe form a caller can hand a temporal prune — tz-aware
    datetime, ISO string, epoch-seconds number (timestamp) / date
    object, ISO string, epoch-days int (date) — normalizes to the
    SAME recorded epoch int, and the conversion is exact (no float
    round-trip loss) for any microsecond in ~120 years and any date
    within ±800 years."""
    import datetime as d

    from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
        _epoch_probe,
    )

    epoch = d.datetime(1970, 1, 1, tzinfo=d.timezone.utc)
    dt = epoch + d.timedelta(microseconds=us)
    got_dt = _epoch_probe("timestamp", dt)
    got_iso = _epoch_probe("timestamp", dt.isoformat())
    assert got_dt == got_iso == us
    if us % 1_000_000 == 0:  # whole seconds: the numeric form agrees too
        assert _epoch_probe("timestamp", us // 1_000_000) == us
    day = d.date(1970, 1, 1) + d.timedelta(days=days)
    assert _epoch_probe("date", day) == days
    assert _epoch_probe("date", day.isoformat()) == days
    assert _epoch_probe("date", days) == days
    # None and unparseable values pass through (conservative keep)
    assert _epoch_probe("timestamp", None) is None
    assert _epoch_probe("date", "not-a-date") == "not-a-date"


@given(
    base=st.lists(
        st.tuples(st.integers(0, 4), st.integers(-5, 5)),
        min_size=1, max_size=12,
    ),
    ops=st.lists(
        st.one_of(
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(st.integers(0, 4), st.integers(-5, 5)),
                    min_size=0, max_size=8,
                ),
            ),
            st.tuples(st.just("delete"), st.integers(-5, 5)),
            st.tuples(st.just("update"), st.integers(0, 4)),
        ),
        min_size=1, max_size=3,
    ),
)
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mv_refresh_equals_full_recompute_under_any_dml(spark, base, ops):
    """Property: after ANY sequence of appends / predicate deletes /
    in-place updates on the source, refresh_aggregate_view's maintained
    count/sum/min/max state equals a from-scratch recompute — including
    groups that empty (must vanish), groups born mid-sequence, deltas
    that match nothing (watermark-only refresh), and deletes that
    remove a group's extremum (dirty recompute path). Integer values so
    equality is exact."""
    import shutil as _sh
    import tempfile as _tf

    from svdmovie_lens_parallel_apache_spark_spark.sources import (
        materialized_view as mvw,
        snapshot_table as stab,
    )

    root = _tf.mkdtemp(prefix="svdml-mvprop-")
    src, view = root + "/src", root + "/view"
    spec = dict(
        group_by=["k"],
        sums={"s": "v"},
        mins={"mn": "v"},
        maxs={"mx": "v"},
        count_col="cnt",
    )

    def frame(rows):
        return spark.createDataFrame(rows or [], "k long, v long")

    try:
        stab.write_snapshot(frame(base), src)
        mvw.refresh_aggregate_view(spark, src, view, **spec)
        for op, arg in ops:
            if op == "append":
                stab.write_snapshot(frame(arg), src, mode="append")
            elif op == "delete":
                stab.delete_where(spark, src, f"v <= {arg}")
            else:
                stab.update_where(
                    spark, src, {"v": "v + 3"}, f"k = {arg}"
                )
            mvw.refresh_aggregate_view(spark, src, view, **spec)
            got = sorted(
                map(tuple, stab.read_snapshot(spark, view)
                    .select("k", "cnt", "s", "mn", "mx").collect())
            )
            want = sorted(
                map(tuple, stab.read_snapshot(spark, src)
                    .groupBy("k")
                    .agg(
                        F.count(F.lit(1)).cast("long").alias("cnt"),
                        F.sum("v").alias("s"),
                        F.min("v").alias("mn"),
                        F.max("v").alias("mx"),
                    ).collect())
            )
            assert got == want, (got, want, op, arg)
    finally:
        _sh.rmtree(root, ignore_errors=True)
