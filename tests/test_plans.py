"""Physical-plan quality gates: predicate pushdown reaches the parquet
scan, public-join dimensions broadcast, column pruning works, and the
relational hot path stays inside WholeStageCodegen."""

import re

import pytest
from pyspark.sql import functions as F

from tumult_core_spark.domains import SparkDataFrameDomain
from tumult_core_spark.metrics import SymmetricDifference
from tumult_core_spark.transformations.join import PublicJoin
from tumult_core_spark.transformations.rows import Filter, Rename, Select


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_filter_pushes_down_to_scan(spark, lineitem):
    dom = SparkDataFrameDomain.from_spark_schema(lineitem.schema)
    t = Filter(dom, SymmetricDifference(), "l_quantity < 25") | Select(
        dom, SymmetricDifference(), ["l_orderkey", "l_quantity"]
    )
    plan = plan_of(t(lineitem))
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,25.0)]" in plan


def test_select_prunes_scan_columns(spark, lineitem):
    dom = SparkDataFrameDomain.from_spark_schema(lineitem.schema)
    t = Select(dom, SymmetricDifference(), ["l_orderkey", "l_quantity"])
    plan = plan_of(t(lineitem))
    # ReadSchema should only list the two projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_public_join_broadcasts_dimension(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dom = SparkDataFrameDomain.from_spark_schema(orders.schema)
    ren = Rename(dom, SymmetricDifference(), {"o_custkey": "c_custkey"})
    pj = PublicJoin(ren.output_domain, SymmetricDifference(), cust)
    plan = plan_of((ren | pj)(orders))
    assert "BroadcastHashJoin" in plan


def test_grouped_count_is_partial_aggregated(spark, lineitem):
    """The groupBy-count must map-side combine (HashAggregate twice)
    and stay in codegen."""
    from tumult_core_spark.measures import PureDP
    from tumult_core_spark.measurements.aggregations import create_count_measurement
    from tumult_core_spark.transformations.groupby import (
        create_groupby_from_list_of_keys,
    )

    dom = SparkDataFrameDomain.from_spark_schema(lineitem.schema, strict=True)
    gb = create_groupby_from_list_of_keys(
        dom, SymmetricDifference(), False, ["l_returnflag"], [("A",), ("N",), ("R",)]
    )
    m = create_count_measurement(
        dom, SymmetricDifference(), PureDP(), 1, 1, groupby_transformation=gb
    )
    # inspect the pre-sanitize plan (sanitize materializes)
    agged = m.measurement.call_unsanitized(m.transformation(lineitem))
    plan = plan_of(agged)
    assert plan.count("HashAggregate") >= 2  # partial + final
    # the keys fill-join runs as a broadcast hash join, not SMJ/NLJ
    assert "BroadcastHashJoin" in plan


def test_capped_lsh_caches_banded_relation(spark, sf_dir):
    """The two-pass bucket cap must read the banded relation from
    cache on every branch — uncached, the signature mapInPandas stage
    re-executes once per branch (8x in this plan)."""
    from tumult_core_spark.extensions.dedup import minhash_lsh_candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_candidate_pairs(docs, "doc_id", "text", 32, 8)
    pairs.count()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_embedding_near_dup_caches_groups(spark, sf_dir):
    """The exact-duplicate group relation feeds four branches; it must
    come from cache, not re-run the vector groupBy per branch."""
    from tumult_core_spark.extensions.similarity import embedding_near_duplicates

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = embedding_near_duplicates(embs, "vec_id", "embedding", threshold=0.999)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_training_mix_pushdown_and_two_exchanges(spark, sf_dir):
    """The composed pipeline's length gate must reach the parquet scan
    (PushedFilters) and the whole four-stage pipeline must cost exactly
    two exchanges (one per window: text-dedup, lang-quota); the split
    assignment is expression-only."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    df = E.queries()["training_mix"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "GreaterThanOrEqual(n_chars,200)" in plan
    assert plan.count("Exchange") <= 2 * 2  # <=2 exchanges (each named twice)


def test_hash_sample_no_shuffle(spark, sf_dir):
    """Deterministic sampling is a scan-side filter: zero exchanges."""
    from tumult_core_spark.extensions.sampling import hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = hash_sample(docs, "doc_id", 0.25, seed=3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_sanitize_rebalances_to_data_size(spark):
    """sanitize_df's large (parquet) branch shuffles on rand() via
    REBALANCE: the privacy shuffle is still a full exchange keyed on the
    random column, but AQE sizes the partition count to the released
    data — a 3k-row release materializes as one file, not
    `shuffle.partitions` near-empty ones.  Below the small-release
    bound the same rows freeze as a JVM local relation instead."""
    from tumult_core_spark.utils.misc import _shuffle_for_release, sanitize_df

    df = spark.range(3000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    pre = _shuffle_for_release(df)
    plan = plan_of(pre)
    assert "REBALANCE_PARTITIONS_BY_COL" in plan
    out = sanitize_df(df, known_rows=3000)
    # multiset preserved, tiny release frozen as a JVM local relation
    assert out.count() == 3000
    assert out.agg(F.sum("v")).collect()[0][0] == sum(range(3000))
    assert "LocalTableScan" in plan_of(out)


def test_release_freeze_is_local_relation_not_python_rdd(spark):
    """Regression gate for the r10 defect: a frozen small release must
    be an immutable JVM ``LocalTableScan`` — never a Python-RDD-backed
    relation (``Scan ExistingRDD`` / ``BatchEvalPython``) whose every
    downstream action re-runs a Python-worker scan (measured 5-12 s per
    read at the r10 HEAD), and never the unfrozen nondeterministic
    plan.  Gates both the plan shape and the re-read latency."""
    import time

    from tumult_core_spark.utils.misc import sanitize_df

    noisy = spark.range(6).select(
        F.col("id").alias("k"),
        (F.col("id") + F.randn()).alias("v"),
        # exercise the Arrow round-trip hazards: nullable ints + NaN
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("n"),
        F.when(F.col("id") % 3 == 0, F.lit(float("nan"))).alias("x"),
    )
    rel = sanitize_df(noisy, known_rows=6)
    plan = plan_of(rel)
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # noise frozen: repeated reads see identical values
    first = sorted(rel.collect(), key=lambda r: r.k)
    second = sorted(rel.collect(), key=lambda r: r.k)
    assert [r.v for r in first] == [r.v for r in second]
    # Arrow round-trip fidelity: names and types intact (every frozen
    # field is nullable, as on the parquet branch), null-vs-NaN preserved
    assert rel.dtypes == noisy.dtypes
    assert all(f.nullable for f in rel.schema.fields)
    assert [r.n for r in first] == [0, None, 2, None, 4, None]
    assert [x != x for x in (r.x for r in first)] == [
        True, False, False, True, False, False,
    ]
    # latency gate: a re-read of a 6-row release is effectively free
    start = time.time()
    rel.collect()
    assert time.time() - start < 1.0


def test_sanitize_known_rows_branch_is_noise_independent(spark):
    """When the caller declares an a-priori row bound (grouped
    releases: the public-key count), sanitize_df must choose the
    small/large freeze branch from that CONSTANT — no observed probe —
    while keeping every frozen-release property: LocalTableScan below
    the threshold, frozen noise, and a loud error if the bound is
    violated (a caller bug, never a data-dependent event)."""
    import pytest as _pytest

    from tumult_core_spark.utils.misc import sanitize_df

    noisy = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") + F.randn()).alias("v")
    )
    rel = sanitize_df(noisy, known_rows=5)
    plan = plan_of(rel)
    assert "LocalTableScan" in plan, plan
    first = sorted(rel.collect(), key=lambda r: r.k)
    second = sorted(rel.collect(), key=lambda r: r.k)
    assert [r.v for r in first] == [r.v for r in second]  # frozen
    # the bound is an UPPER bound: fewer actual rows are fine
    # (GroupBy dedups caller-supplied keys, so n_keys may overcount)
    assert sanitize_df(noisy, known_rows=7).count() == 5
    # a release EXCEEDING the declared bound is a caller bug
    with _pytest.raises(AssertionError, match="known_rows"):
        sanitize_df(spark.range(9).select("id"), known_rows=3)
    # above the threshold the bound routes to the parquet write path
    import tumult_core_spark.utils.misc as misc_mod

    big = sanitize_df(noisy, known_rows=misc_mod.SMALL_RELEASE_ROWS + 1)
    bplan = plan_of(big)
    assert "LocalTableScan" not in bplan, bplan
    assert big.count() == 5


def test_grouped_factories_declare_release_rows(spark, lineitem):
    """The count/sum factories must thread the public-key count into
    the sanitize freeze (known_release_rows == GroupBy.n_keys), and a
    grouped release end-to-end must still freeze as a LocalTableScan
    with one row per declared key."""
    from tumult_core_spark.measurements.aggregations import (
        create_count_measurement,
    )
    from tumult_core_spark.measurements.spark import AddNoiseToColumn
    from tumult_core_spark.measures import PureDP
    from tumult_core_spark.transformations.groupby import (
        create_groupby_from_list_of_keys,
    )

    dom = SparkDataFrameDomain.from_spark_schema(lineitem.schema)
    keys = [("A",), ("N",), ("R",), ("ZZ",)]
    gb = create_groupby_from_list_of_keys(
        dom, SymmetricDifference(), False, ["l_returnflag"], keys
    )
    m = create_count_measurement(
        dom, SymmetricDifference(), PureDP(), 1, 1,
        groupby_transformation=gb, count_column="cnt",
    )

    def find_noise(obj, depth=0):
        if isinstance(obj, AddNoiseToColumn):
            return obj
        if depth > 6:
            return None
        for attr in ("measurement", "transformation", "inner", "m2", "m1"):
            child = getattr(obj, attr, None)
            if child is not None:
                hit = find_noise(child, depth + 1)
                if hit is not None:
                    return hit
        return None

    noise = find_noise(m)
    assert noise is not None and noise.known_release_rows == 4
    out = m(lineitem)
    assert "LocalTableScan" in plan_of(out)
    assert out.count() == 4


def test_media_sniffing_is_scan_side_catalyst(spark, sf_dir):
    """detect_media_format is a pure hex-prefix when-chain: no Python
    evaluation and no exchange anywhere in the plan — at 100 TB the
    triage runs at scan speed."""
    from pyspark.sql import functions as F

    from tumult_core_spark.extensions.multimodal import detect_media_format

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    out = detect_media_format(docs, "payload")
    plan = plan_of(out)
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
    # sane classification on real binaries
    from tumult_core_spark.extensions.multimodal import _encode_png, _pixels_from_bytes

    png = _encode_png(_pixels_from_bytes(b"q", 12, 9))
    one = spark.createDataFrame([(0, bytearray(png))], "id long, payload binary")
    r = detect_media_format(one, "payload").collect()[0]
    assert (r["media_format"], r["media_type"]) == ("png", "image")


def test_sanitize_survives_reserved_column_name(spark):
    """A release whose schema contains a column literally named
    ``__shuffle_key`` must pass through sanitize_df intact — the
    helper column is derived via get_nonconflicting_string, so no
    release column can collide with it."""
    from tumult_core_spark.utils.misc import sanitize_df

    df = spark.range(10).select(
        F.col("id").alias("__shuffle_key"), (F.col("id") * 2).alias("v")
    )
    out = sanitize_df(df, known_rows=10)
    assert out.columns == ["__shuffle_key", "v"]
    assert sorted(r["__shuffle_key"] for r in out.collect()) == list(range(10))
    assert out.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(10))


@pytest.mark.parametrize("coalesce", ["true", "false"])
def test_small_release_order_is_canonical(spark, coalesce):
    """A small release's row order is a function of the released values
    alone: the same rows from a 3-partition and a 1-partition input
    come back in the same order, array and map columns included (Arrow
    cannot sort them, so they sort on a value-derived key).  Pinned with AQE
    partition coalescing on and off: with it off, a rand()-keyed
    shuffle would spread the rows over several partitions in a random
    order."""
    from tumult_core_spark.utils.misc import sanitize_df

    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, coalesce)
    try:
        df = spark.createDataFrame(
            [(i % 3, [i % 5, -i], {"k": i % 2}, float(i)) for i in range(40)],
            "g int, a array<int>, m map<string,int>, v double",
        )
        spread = sanitize_df(df.repartition(3), known_rows=40).collect()
        single = sanitize_df(df.coalesce(1), known_rows=40).collect()
    finally:
        spark.conf.set(conf, old)
    assert spread == single
    assert sorted((r.g, tuple(r.a), r.m["k"], r.v) for r in spread) == sorted(
        (i % 3, (i % 5, -i), i % 2, float(i)) for i in range(40)
    )


def test_small_releases_collect_without_rand_shuffle(spark, monkeypatch):
    """The relation a small release collects carries no rand()-keyed
    REBALANCE: a plain sanitize_df release and a grouped quantile
    release are collected as they are and ordered on the driver.  Only
    the large (parquet) branch still shuffles on rand()."""
    import tumult_core_spark.utils.misc as misc
    from tumult_core_spark.measurements.quantile import (
        create_quantile_measurement,
    )
    from tumult_core_spark.measures import PureDP
    from tumult_core_spark.transformations.groupby import (
        create_groupby_from_list_of_keys,
    )

    collected = []
    real = misc._collect_bounded

    def record(df, bound, *args):
        collected.append(plan_of(df))
        return real(df, bound, *args)

    monkeypatch.setattr(misc, "_collect_bounded", record)
    df = spark.range(60).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 10).cast("double").alias("x")
    )
    misc.sanitize_df(df, known_rows=60)
    dom = SparkDataFrameDomain.from_spark_schema(df.schema)
    gb = create_groupby_from_list_of_keys(
        dom, SymmetricDifference(), False, ["g"], [(0,), (1,), (2,)]
    )
    quantile = create_quantile_measurement(
        dom, SymmetricDifference(), PureDP(), 1, 1, "x", 0.5, 0.0, 10.0,
        groupby_transformation=gb,
    )
    quantile(df)
    assert len(collected) == 2
    for plan in collected:
        assert "rand(" not in plan and "REBALANCE" not in plan, plan
    assert "REBALANCE" in plan_of(misc._shuffle_for_release(df))


def test_add_noise_rejects_null_in_noise_column(spark):
    """A null reaching a noise column raises before any draw instead of
    rerouting the release; the 0-filled factories never produce one."""
    from tumult_core_spark.domains import (
        SparkIntegerColumnDescriptor,
        SparkStringColumnDescriptor,
    )
    from tumult_core_spark.measurements.noise import (
        AddGeometricNoise,
        AddNoiseToSeries,
    )
    from tumult_core_spark.measurements.spark import AddNoiseToColumn

    dom = SparkDataFrameDomain(
        {
            "g": SparkStringColumnDescriptor(),
            "count": SparkIntegerColumnDescriptor(size=64, allow_null=True),
        }
    )
    m = AddNoiseToColumn(
        dom, AddNoiseToSeries(AddGeometricNoise(1)), "count",
        known_release_rows=2,
    )
    df = spark.createDataFrame([("a", 3), ("b", None)], "g string, count long")
    with pytest.raises(ValueError, match="null"):
        m(df)


def test_new_text_ops_stay_jvm_side(spark, sf_dir):
    """tfidf / unigram-LM / chunking / repetition are pure Catalyst:
    no Python evaluation nodes anywhere in their physical plans, and
    the aggregating ops partial-aggregate before their shuffles."""
    from tumult_core_spark.extensions.text import (
        chunk_documents,
        repetition_stats,
        tfidf_top_terms,
        unigram_logprob,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for out in [
        tfidf_top_terms(docs, k=3),
        unigram_logprob(docs),
        chunk_documents(docs, max_tokens=40, overlap=10),
        repetition_stats(docs),
    ]:
        plan = plan_of(out)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    agg_plan = plan_of(unigram_logprob(docs))
    assert "partial" in agg_plan.lower()


def test_round4_ops_stay_jvm_side(spark, sf_dir):
    """Paragraph dedup, bigram LM, and SQ encode are pure Catalyst
    (no Python evaluation nodes); the winner-per-unit and transition
    counts partial-aggregate before their shuffles; SQ encode adds no
    exchange at all (pure projection over the scan)."""
    from tumult_core_spark.extensions.dedup import dedup_paragraphs
    from tumult_core_spark.extensions.similarity import sq_encode, sq_fit
    from tumult_core_spark.extensions.text import bigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    para = dedup_paragraphs(docs, separator=" table ")
    bigr = bigram_logprob(docs)
    for out in [para, bigr]:
        plan = plan_of(out)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "partial" in plan.lower()
    lo, hi = sq_fit(embs, "embedding")
    enc_plan = plan_of(sq_encode(embs, "vec_id", "embedding", lo, hi))
    assert "BatchEvalPython" not in enc_plan and "ArrowEvalPython" not in enc_plan
    assert "Exchange" not in enc_plan


def test_rolling_and_sessionize_single_exchange(spark, sf_dir):
    """Rolling aggregates and batch sessionization are one-shuffle
    window constructions: exactly one Exchange (on the key), no Python
    evaluation nodes."""
    from tumult_core_spark.extensions.timeseries import (
        rolling_aggregate,
        sessionize_batch,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for out in [
        rolling_aggregate(ev, ["user_id"], "ts", "value", 3600),
        sessionize_batch(ev, "user_id", "ts", 1800, tiebreak_col="event_id"),
    ]:
        import re

        plan = plan_of(out)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_fused_moments_single_scan_single_exchange(spark, sf_dir, monkeypatch):
    """FusedMomentsMeasurement reads the input ONCE and shuffles ONCE
    (the groupBy agg); avg/var/stddev are all post-processing over the
    (sod, sos, count) relation, and the 4-row public-keys join
    broadcasts.  sanitize_df is patched to pass-through so the
    pre-materialize plan is inspectable.  The driver-side release
    freeze (freeze_noised_release) would otherwise collapse the whole
    plan to a LocalTableScan before it can be inspected — shrinking
    the small-release bound forces the executor path for this
    plan-shape gate."""
    import tumult_core_spark.utils.misc as misc

    monkeypatch.setattr(misc, "sanitize_df", lambda df, known_rows: df)
    monkeypatch.setattr(misc, "SMALL_RELEASE_ROWS", 0)
    import __spark_entry__ as E

    out = E.queries()["fused_moments"](spark, sf_dir)
    plan = plan_of(out)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # exactly one shuffle touches the data: the partial-aggregated
    # groupBy.  (A second 4-row Exchange dedupes the public key list —
    # constant-size, not data-dependent.)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert "partial_sum" in plan, plan  # map-side combine before the shuffle
    assert "BroadcastHashJoin" in plan, plan  # keys join never shuffles data
    assert "BatchEvalPython" not in plan, plan


def test_python_widen_of_map_column_falls_back_to_round_robin(spark):
    """``xxhash64`` cannot hash a MAP column: the narrow-input widen
    before a Python stage must fall back to a round-robin exchange to
    the session parallelism instead of failing."""
    from tumult_core_spark.transformations.map import _widen_for_python

    target = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [({"a": i},) for i in range(8)], "m map<string,int>"
    ).coalesce(1)
    out = _widen_for_python(narrow)
    assert "RoundRobinPartitioning" in plan_of(out)
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 8


def test_sanitize_large_output_keeps_parallelism(spark):
    """The REBALANCE sanitize must still fan a large release out to
    many partitions (the small-release coalescing must not collapse
    big outputs onto one task)."""
    from tumult_core_spark.utils.misc import _shuffle_for_release

    big = spark.range(30_000_000).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b"), F.rand().alias("x")
    )
    pre = _shuffle_for_release(big)
    assert pre.rdd.getNumPartitions() > 1


def test_layout_for_scan_prunes_partitions_and_rowgroups(spark, tmp_path):
    """A layout_for_scan write must make a filtered read-back prune:
    partition filters on the directory column (never listed, let alone
    read) and pushed filters on the sort column (row-group min/max
    skipping)."""
    from pyspark.sql import functions as F

    from tumult_core_spark.sources.io import layout_for_scan

    df = spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("shard"),
        (F.col("id") * 7 % 1000).alias("score"),
    )
    p = str(tmp_path / "layout")
    layout_for_scan(
        df, p, partition_by=["shard"], sort_by=["score"], target_partitions=4
    )
    back = spark.read.parquet(p).filter("shard = 2 AND score < 50")
    plan = plan_of(back)
    assert "PartitionFilters" in plan and "shard" in plan.split("PartitionFilters")[1].split("\n")[0]
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "score" in pushed
    # and it returns the right rows
    assert back.count() == df.filter("shard = 2 AND score < 50").count()


def test_zorder_key_matches_reference_interleave(spark):
    """The Catalyst bit-arithmetic Morton key must equal a plain-Python
    rank-scale + interleave reference, bit for bit, and stay entirely
    JVM-side (no Python evaluation in the plan)."""
    import math

    from tumult_core_spark.sources.io import zorder_key

    df = spark.range(500).select(
        (F.col("id") % 50).cast("double").alias("x"),
        (F.col("id") / 3).cast("double").alias("y"),
        F.col("id"),
    )
    keyed = zorder_key(df, ["x", "y"], bits=8)
    assert "BatchEvalPython" not in plan_of(keyed)
    m = 255
    mnx, mxx, mny, mxy = 0.0, 49.0, 0.0, 499 / 3

    def rank(v, mn, mx):
        return min(m, max(0, math.floor((v - mn) / (mx - mn) * m)))

    for r in keyed.collect():
        exp = 0
        rx, ry = rank(r.x, mnx, mxx), rank(r.y, mny, mxy)
        for i in range(8):
            exp |= ((rx >> i) & 1) << (2 * i) | ((ry >> i) & 1) << (2 * i + 1)
        assert exp == r.zkey

    # three columns: bit j of column c lands at 3*j + c
    df3 = df.withColumn("z", (F.col("id") % 7).cast("double"))
    keyed3 = zorder_key(df3, ["x", "y", "z"], bits=6)
    mnz, mxz = 0.0, 6.0
    for r in keyed3.collect():
        ranks = [
            min(63, max(0, math.floor((v - mn) / (mx - mn) * 63)))
            for v, mn, mx in ((r.x, mnx, mxx), (r.y, mny, mxy), (r.z, mnz, mxz))
        ]
        exp = 0
        for i in range(6):
            for j, rk in enumerate(ranks):
                exp |= ((rk >> i) & 1) << (3 * i + j)
        assert exp == r.zkey


def test_zorder_layout_skips_files_on_every_dimension(spark, tmp_path):
    """The point of Z-ordering: after layout_for_scan(zorder_by=[x, y]),
    a selective range filter on EITHER column touches a small fraction
    of the files, where a single-column sort skips only on its own
    column and reads every file for the other."""
    from tumult_core_spark.sources.io import layout_for_scan

    grid = spark.range(60_000).select(
        (F.rand(1) * 1024).alias("x"), (F.rand(2) * 1024).alias("y"), F.col("id")
    )
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    layout_for_scan(grid, zdir, zorder_by=["x", "y"], target_partitions=32,
                    zorder_bits=10)
    layout_for_scan(grid, sdir, sort_by=["x"], target_partitions=32)

    def files_touched(path, cond):
        return (
            spark.read.parquet(path).filter(cond)
            .select(F.input_file_name()).distinct().count()
        )

    # 1/16 slab in each dimension: z-order skips on BOTH
    assert files_touched(zdir, "x < 64") <= 16
    assert files_touched(zdir, "y < 64") <= 16
    # the single-sort layout cannot skip on the non-sorted dimension
    assert files_touched(sdir, "y < 64") >= 28


def test_decontaminate_broadcast_is_size_gated(spark, sf_dir):
    """The holdout postings index must broadcast only below the size
    gate: above it (forced here with a zero threshold) the gram join
    falls back to a plain shuffle join instead of an unbounded
    broadcast — the executor-OOM class at corpus scale.  Both paths
    must return identical rows."""
    from tumult_core_spark.extensions.dedup import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.xxhash64("doc_id") % 3 != 0).limit(60)
    holdout = docs.filter(F.xxhash64("doc_id") % 3 == 0).limit(40)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable Catalyst's own size-based broadcast so only our explicit
    # hint (or its absence) decides the initial join strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bcast = decontaminate(train, holdout, "doc_id", "text", threshold=0.99)
        shuffle = decontaminate(
            train, holdout, "doc_id", "text", threshold=0.99,
            broadcast_threshold_bytes=0,
        )
        bplan, splan = plan_of(bcast), plan_of(shuffle)
        # gram-index join (the only inner join): hinted broadcast
        # below the gate...
        assert "BroadcastHashJoin Inner" in bplan
        assert "SortMergeJoin Inner" not in bplan
        # ...plain shuffle join above it (the stop-gram anti-join may
        # still broadcast — it joins the tiny per-gram counts)
        assert "SortMergeJoin Inner" in splan or "ShuffledHashJoin Inner" in splan
        assert "BroadcastHashJoin Inner" not in splan
        rows_b = sorted(tuple(r) for r in bcast.collect())
        rows_s = sorted(tuple(r) for r in shuffle.collect())
        assert rows_b == rows_s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_broadcast_below_gates_on_estimated_size(spark):
    """broadcast_below must hint only under the byte gate; above it
    the join planner falls back to a shuffle join."""
    from tumult_core_spark.utils.scale import broadcast_below

    big = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    dim = spark.range(50).select(F.col("id"), F.lit("x").alias("tag"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = big.join(broadcast_below(dim, 50), "id")
        unhinted = big.join(broadcast_below(dim, 50, threshold_bytes=0), "id")
        assert "BroadcastHashJoin" in plan_of(hinted)
        assert "SortMergeJoin" in plan_of(unhinted) or "ShuffledHashJoin" in plan_of(unhinted)
        assert "BroadcastHashJoin" not in plan_of(unhinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cap_hot_buckets_broadcast_is_size_gated(spark, sf_dir):
    """The over-cap bucket key set must broadcast only below the size
    gate; a pathological all-boilerplate corpus falls back to a
    shuffled left join.  Both paths must return identical rows."""
    from tumult_core_spark.extensions.dedup import cap_hot_buckets

    df = spark.range(200).select(
        (F.col("id") % 3).alias("bucket"), F.col("id").alias("doc")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bcast = cap_hot_buckets(df, ["bucket"], "doc", cap=10)
        shuffle = cap_hot_buckets(
            df, ["bucket"], "doc", cap=10, broadcast_threshold_bytes=0
        )
        assert "BroadcastHashJoin" in plan_of(bcast)
        splan = plan_of(shuffle)
        assert "SortMergeJoin" in splan or "ShuffledHashJoin" in splan
        assert "BroadcastHashJoin" not in splan
        rows_b = sorted(tuple(r) for r in bcast.collect())
        rows_s = sorted(tuple(r) for r in shuffle.collect())
        assert rows_b == rows_s and len(rows_b) == 30
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_apply_in_pandas_distributed_keys_path(spark, monkeypatch):
    """A column-domain key product above the driver limit arrives as a
    DISTRIBUTED relation (isLocal False): apply_in_pandas must take
    the counted broadcast-gate branch and still 0-fill every absent
    key, identical to the driver-local path."""
    import pandas as pd
    from pyspark.sql import types as T

    from tumult_core_spark.transformations import groupby as gb_mod
    from tumult_core_spark.utils.grouped_dataframe import GroupedDataFrame

    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    domains = {"a": [0, 1, 2], "b": [0, 1, 2]}
    monkeypatch.setattr(gb_mod, "_DRIVER_PRODUCT_LIMIT", 4)
    dist_keys = gb_mod.compute_full_domain_df(spark, domains, schema)
    monkeypatch.setattr(gb_mod, "_DRIVER_PRODUCT_LIMIT", 100_000)
    local_keys = gb_mod.compute_full_domain_df(spark, domains, schema)

    data = spark.createDataFrame(
        [(0, 0, 5), (0, 0, 7), (2, 1, 1)], "a long, b long, v long"
    )
    out_schema = T.StructType([T.StructField("s", T.LongType())])

    def per_group(pdf):
        return pd.DataFrame({"s": [int(pdf["v"].sum())]})

    results = []
    # unknown size (pays the count) vs construction-known n_keys
    for gdf in (
        GroupedDataFrame(data, dist_keys),
        GroupedDataFrame(data, local_keys, n_keys=9),
    ):
        out = gdf.apply_in_pandas(per_group, out_schema)
        results.append({(r["a"], r["b"]): r["s"] for r in out.collect()})
    dist, local = results
    assert dist == local
    assert len(dist) == 9 and dist[(0, 0)] == 12 and dist[(2, 1)] == 1
    assert dist[(1, 1)] == 0  # absent key 0-filled through the same path


@pytest.mark.parametrize(
    "col_type",
    ["decimal(10,2)", "binary", "array<int>", "map<string,int>"],
)
def test_apply_in_pandas_hands_typed_empty_frames_for_every_type(spark, col_type):
    """apply_in_pandas has one plan for every data type: a public key
    with no data rows gets an empty frame with the same dtypes as the
    frames of keys with data, and every output matches func applied
    to the same groups in pandas."""
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql import types as T

    from tumult_core_spark.utils.grouped_dataframe import GroupedDataFrame

    values = {
        "decimal(10,2)": [Decimal("1.50"), Decimal("-3.00"), Decimal("2.25")],
        "binary": [bytearray(b"ab"), bytearray(b""), bytearray(b"c")],
        "array<int>": [[1, 2], [], [3]],
        "map<string,int>": [{"a": 1}, {}, {"b": 2, "c": 3}],
    }[col_type]
    data = spark.createDataFrame(
        [("a", values[0], 1), ("a", values[1], 2), ("b", values[2], 3)],
        f"g string, v {col_type}, w long",
    )
    keys = spark.createDataFrame([("a",), ("b",), ("zz",)], "g string")
    out_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("dtypes", T.StringType()),
            T.StructField("values", T.StringType()),
        ]
    )

    def per_group(pdf):
        pdf = pdf.sort_values("w")
        return pd.DataFrame(
            {
                "n": [len(pdf)],
                "dtypes": [str(pdf.dtypes.to_dict())],
                "values": [repr(pdf["v"].tolist())],
            }
        )

    out = GroupedDataFrame(data, keys, n_keys=3).apply_in_pandas(
        per_group, out_schema
    )
    got = {r["g"]: (r["n"], r["dtypes"], r["values"]) for r in out.collect()}
    assert got["zz"][0] == 0
    assert got["zz"][1] == got["a"][1] == got["b"][1]

    pdf = data.toPandas()
    expected = {}
    for key in ("a", "b", "zz"):
        ref = per_group(pdf.loc[pdf["g"] == key, ["v", "w"]]).iloc[0]
        expected[key] = (ref["n"], ref["dtypes"], ref["values"])
    assert got == expected


def test_above_limit_key_product_has_no_python_rdd_scan(spark, monkeypatch):
    """A column-domain key product above the driver limit is still built
    from JVM-local relations: its plan has no Python-RDD scan, which
    would run Python tasks on every evaluation of the keys."""
    from pyspark.sql import types as T

    from tumult_core_spark.transformations import groupby as gb_mod

    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    domains = {"a": [0, 1, 2], "b": ["x", "y"]}
    monkeypatch.setattr(gb_mod, "_DRIVER_PRODUCT_LIMIT", 4)
    keys = gb_mod.compute_full_domain_df(spark, domains, schema)
    assert "ExistingRDD" not in plan_of(keys)
    assert sorted(tuple(r) for r in keys.collect()) == [
        (a, b) for a in (0, 1, 2) for b in ("x", "y")
    ]


def test_materialize_runs_no_job_after_the_write(spark):
    """The large freeze reads its parquet back with the written frame's
    schema: one materialize call runs the write job and no
    schema-inference job after it."""
    import uuid

    from tumult_core_spark.utils.misc import materialize

    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = materialize(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert out.dtypes == df.dtypes
    assert sorted(tuple(r) for r in out.collect()) == [(i, 2 * i) for i in range(50)]


def test_truncation_copy_index_is_partial_aggregated(spark, lineitem):
    """truncate_large_groups derives the duplicate copy index from a
    count aggregate, not a window over all columns: the plan must show
    a partial (map-side) HashAggregate — duplicates collapse before
    the shuffle — and stay within 3 exchanges (collapse, salted local
    window, exact window)."""
    import re

    from tumult_core_spark.utils.truncation import truncate_large_groups

    out = truncate_large_groups(
        lineitem.select("l_orderkey", "l_linestatus", "l_quantity"),
        ["l_orderkey"],
        3,
    )
    plan = plan_of(out)
    assert "partial_count" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_global_shuffle_no_single_task_sort(spark, sf_dir):
    """global_shuffle's released positions come from per-bucket
    windows: the plan must not contain a SinglePartition exchange (a
    global orderBy/row_number would) and must stay JVM-side."""
    from tumult_core_spark.extensions.sampling import global_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(global_shuffle(docs, "doc_id", seed=1))
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_reuses_cached_holdout_postings(spark, sf_dir):
    """The holdout postings feed three consumers (doc-freq aggregate,
    stop-gram anti-join, index join); the r9 fold persists them so the
    holdout is exploded ONCE, not once per consumer — the physical
    plan of the returned relation must read the postings from the
    cache (InMemoryTableScan), and the gate scalar must already have
    materialized that cache before the plan is even requested."""
    from tumult_core_spark.extensions.dedup import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.limit(40)
    holdout = docs.limit(25)
    out = decontaminate(train, holdout, "doc_id", "text", threshold=0.99)
    plan = plan_of(out)
    # the cached relation is the exploded holdout postings: formatted
    # explain lists the scan's columns in its detail block
    m = re.search(
        r"\(\d+\) InMemoryTableScan\nOutput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert m is not None, plan
    assert "__gram" in m.group(1)


def test_flatmap_by_key_runs_in_arrow_not_rdd(spark, sf_dir):
    """FlatMapByKey's physical plan must be the Arrow-batched
    ``FlatMapGroupsInPandas`` (applyInPandas), never an opaque
    ``Scan ExistingRDD`` (a driver-side or rdd.map fallback would hide
    the scan from Catalyst and kill pushdown at scale), and the scan
    must still prune to the two consumed columns."""
    from entry_queries import q_flatmap_by_key

    out = q_flatmap_by_key(spark, sf_dir)
    plan = plan_of(out)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, plan


class TestBucketedLayout:
    """write_bucketed_table / read_table: the ingest-time shuffle must
    buy exchange-free plans downstream — the layout decision that
    removes the dominant shuffle of a repeatedly-joined 100 TB fact
    table.  These gates pin the planner contract, not just the API."""

    @pytest.fixture()
    def bucketed(self, spark, sf_dir, tmp_path):
        """orders + customer co-bucketed by custkey (8 buckets)."""
        from tumult_core_spark.utils.scale import write_bucketed_table

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_acctbal"
        )
        names = ("tcs_gate_orders_b", "tcs_gate_cust_b")
        write_bucketed_table(
            orders, names[0], ["o_custkey"], 8,
            sort_cols=["o_custkey"], path=str(tmp_path / "ob"),
        )
        write_bucketed_table(
            cust, names[1], ["c_custkey"], 8,
            sort_cols=["c_custkey"], path=str(tmp_path / "cb"),
        )
        yield names
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")

    def test_cobucketed_join_has_no_exchange(self, spark, bucketed):
        """Same key, same bucket count: the sort-merge join must plan
        with ZERO Exchange — neither side shuffles, ever again."""
        from tumult_core_spark.sources.io import read_table

        ob, cb = bucketed
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_table(spark, ob).join(
                read_table(spark, cb),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            plan = plan_of(joined)
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, plan
            # and the scans are the bucketed ones
            assert plan.count("SelectedBucketsCount: 8 out of 8") == 2, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_groupby_on_bucket_column_has_no_exchange(self, spark, bucketed):
        """Aggregation keyed on the bucket columns is bucket-local:
        partial+final HashAggregate collapse onto the scan with no
        shuffle between them."""
        from tumult_core_spark.sources.io import read_table

        ob, _ = bucketed
        agg = (
            read_table(spark, ob)
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("s"))
        )
        plan = plan_of(agg)
        assert "HashAggregate" in plan, plan
        assert "Exchange" not in plan, plan

    def test_half_bucketed_join_shuffles_probe_side_only(
        self, spark, sf_dir, bucketed
    ):
        """Bucketed build side vs raw probe side: exactly ONE Exchange
        (the probe conforming to the build's HashPartitioning) — the
        100 TB fact table stays put while the new batch shuffles."""
        from tumult_core_spark.sources.io import read_table

        ob, _ = bucketed
        probe = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_name"
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_table(spark, ob).join(
                probe, F.col("o_custkey") == F.col("c_custkey")
            )
            plan = plan_of(joined)
            assert "SortMergeJoin" in plan, plan
            # exactly one Exchange node in the plan tree, and it hashes
            # the probe's key to the build's 8-bucket partitioning
            assert len(re.findall(r"\(\d+\) Exchange\n", plan)) == 1, plan
            assert "hashpartitioning(c_custkey" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_bucketed_roundtrip_values(self, spark, sf_dir, bucketed):
        """Layout must not change content: bucketed read-back equals
        the source relation exactly."""
        from tumult_core_spark.sources.io import read_table

        ob, _ = bucketed
        src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        got = sorted(map(tuple, read_table(spark, ob).collect()))
        want = sorted(map(tuple, src.collect()))
        assert got == want


def test_centroid_assignment_no_shuffle_no_window(spark, sf_dir):
    """kmeans'/IVF's per-vector centroid assignment must be a pure
    map stage (closure-captured NumPy argmax in mapInPandas): no
    Exchange and no Window — the old row_number formulation shuffled
    the whole corpus once per Lloyd iteration."""
    from tumult_core_spark.extensions.similarity import (
        _nearest_centroids,
        sample_centroids,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("__v")
    )
    cents = sample_centroids(embs, "__v", 4)
    out = _nearest_centroids(embs, "__v", cents, 1)
    plan = plan_of(out)
    assert "FlatMapGroupsInPandas" not in plan
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_driver_side_release_freeze_matches_executor_path(spark, lineitem):
    """r18: grouped releases with a public-key row bound draw noise
    DRIVER-side over the frozen pre-noise aggregate
    (utils.misc.freeze_noised_release) — zero ArrowEvalPython stages,
    zero exchanges, same mechanism invoked once.  Gates: (a) scale-0
    outputs identical to the executor pandas-UDF path that a bound
    over SMALL_RELEASE_ROWS takes, same column types; (b) the frozen
    plan is a LocalTableScan; (c) a release exceeding the declared
    bound still raises."""
    import tumult_core_spark.utils.misc as misc
    from tumult_core_spark.measures import PureDP
    from tumult_core_spark.measurements.aggregations import (
        create_count_measurement,
        create_sum_measurement,
    )
    from tumult_core_spark.transformations.groupby import (
        create_groupby_from_list_of_keys,
    )

    dom = SparkDataFrameDomain.from_spark_schema(lineitem.schema, strict=True)
    keys = [("A",), ("N",), ("R",), ("ZZ",)]
    gb = create_groupby_from_list_of_keys(
        dom, SymmetricDifference(), False, ["l_returnflag"], keys
    )
    m = create_count_measurement(
        dom, SymmetricDifference(), PureDP(), 1, float("inf"),
        groupby_transformation=gb,
    )
    driver_out = m(lineitem)
    assert "LocalTableScan" in plan_of(driver_out)
    driver_rows = sorted(driver_out.collect())

    # identical executor-path run (4 keys over the shrunk small-release
    # bound): same rows and column types
    import unittest.mock as mock

    with mock.patch.object(misc, "SMALL_RELEASE_ROWS", 3):
        exec_out = m(lineitem)
    assert "LocalTableScan" not in plan_of(exec_out)
    assert sorted(exec_out.collect()) == driver_rows
    assert exec_out.schema == driver_out.schema

    # float sum keeps the double release type on both paths
    gb2 = create_groupby_from_list_of_keys(
        dom, SymmetricDifference(), False, ["l_returnflag"], keys
    )
    ms = create_sum_measurement(
        dom, SymmetricDifference(), PureDP(), 1, float("inf"),
        measure_column="l_extendedprice", lower=0, upper=100_000,
        groupby_transformation=gb2, sum_column="s",
    )
    sum_out = ms(lineitem)
    assert dict(sum_out.dtypes)["s"] == "double"
    assert "LocalTableScan" in plan_of(sum_out)

    # bound violation still raises loudly (caller bug, not data event)
    from tumult_core_spark.measurements.noise import (
        AddGeometricNoise, AddNoiseToSeries,
    )
    from tumult_core_spark.measurements.spark import AddNoiseToColumn

    counted = lineitem.groupBy("l_returnflag").count()
    cdom = SparkDataFrameDomain.from_spark_schema(counted.schema)
    bad = AddNoiseToColumn(
        cdom, AddNoiseToSeries(AddGeometricNoise(0)), "count",
        known_release_rows=1,
    )
    with pytest.raises(AssertionError, match="known_rows"):
        bad(counted)


def test_svt_driver_release_matches_distributed_path(spark):
    """r18: SparseVectorPrefixSums with a declared ``known_input_rows``
    (the bounds factory's public (#keys) x (#ranks) grid) releases
    DRIVER-side over one collected Arrow table.  Gates: (a) alpha=0
    outputs identical to the distributed path, same schema, grouped
    and ungrouped; (b) the frozen plan is a LocalTableScan with no
    Window/Exchange/ArrowEvalPython; (c) exceeding the declared bound
    raises; (d) no bound / oversized bound / nulls / duplicate
    (group, rank) pairs fall back to the distributed path pre-draw."""
    from tumult_core_spark.domains import (
        SparkIntegerColumnDescriptor,
        SparkStringColumnDescriptor,
    )
    from tumult_core_spark.measurements.spark import SparseVectorPrefixSums
    from tumult_core_spark.utils.misc import SMALL_RELEASE_ROWS

    rows = [
        (g, r, c)
        for g in ("a", "b")
        for r, c in [(0, 1), (1, 4), (2, 10), (3, 0)]
    ]
    data = spark.createDataFrame(rows, "g string, rank int, cnt bigint")
    dom = SparkDataFrameDomain(
        {
            "g": SparkStringColumnDescriptor(),
            "rank": SparkIntegerColumnDescriptor(size=32),
            "cnt": SparkIntegerColumnDescriptor(size=64),
        }
    )

    def make(**kw):
        return SparseVectorPrefixSums(
            dom, "cnt", "rank", alpha=0, grouping_columns=["g"], **kw
        )

    driver_out = make(known_input_rows=8)(data)
    plan = plan_of(driver_out)
    assert "LocalTableScan" in plan
    for node in ("Window", "Exchange", "ArrowEvalPython"):
        assert node not in plan, plan
    dist_out = make()(data)
    assert sorted(driver_out.collect()) == sorted(dist_out.collect())
    assert driver_out.schema == dist_out.schema

    # ungrouped parity
    flat = spark.createDataFrame(
        [(0, 1), (1, 4), (2, 10), (3, 0)], "rank int, cnt bigint"
    )
    fdom = SparkDataFrameDomain(
        {
            "rank": SparkIntegerColumnDescriptor(size=32),
            "cnt": SparkIntegerColumnDescriptor(size=64),
        }
    )
    fd = SparseVectorPrefixSums(fdom, "cnt", "rank", alpha=0, known_input_rows=4)(flat)
    fx = SparseVectorPrefixSums(fdom, "cnt", "rank", alpha=0)(flat)
    assert "LocalTableScan" in plan_of(fd)
    assert fd.collect() == fx.collect()
    assert fd.schema == fx.schema

    # a declared bound the data exceeds raises loudly (caller bug)
    with pytest.raises(AssertionError, match="known_input_rows"):
        make(known_input_rows=3)(data)

    # ineligible inputs return None from the driver branch, pre-draw
    m = make(known_input_rows=8)
    assert m._driver_release is not None
    assert make(known_input_rows=SMALL_RELEASE_ROWS + 1)._driver_release(data) is None
    assert make()._driver_release(data) is None
    with_null = spark.createDataFrame(
        [("a", 0, None), ("a", 1, 3)], "g string, rank int, cnt bigint"
    )
    assert make(known_input_rows=8)._driver_release(with_null) is None
    dup = spark.createDataFrame(
        [("a", 0, 1), ("a", 0, 2)], "g string, rank int, cnt bigint"
    )
    assert make(known_input_rows=8)._driver_release(dup) is None
