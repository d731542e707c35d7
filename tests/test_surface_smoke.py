"""Direct-surface tests for public API that was previously only
exercised indirectly (through factories or composed queries): the
Map/FlatMap/PublicJoin AddRemoveKeys lifts, aggregation dispatch
factories, scalar noise mechanism classes, metric edge classes,
sources/io round-trips, domain descriptors, and the exact
distribution/double-double helper functions."""

import numpy as np
import pytest

from tumult_core_spark.domains import (
    DictDomain,
    SparkDataFrameDomain,
    SparkFloatColumnDescriptor,
    SparkIntegerColumnDescriptor,
    SparkRowDomain,
    SparkStringColumnDescriptor,
)
from tumult_core_spark.exact_number import ExactNumber
from tumult_core_spark.metrics import (
    AddRemoveKeys,
    IfGroupedBy,
    SymmetricDifference,
)

INT = SparkIntegerColumnDescriptor(size=64)
STR = SparkStringColumnDescriptor()
FLT = SparkFloatColumnDescriptor(size=64)


class TestAddRemoveKeysMapLifts:
    """MapValue / FlatMapValue / PublicJoinValue — the three lifts not
    covered by the FilterValue/SelectValue/Limit*Value tests."""

    @pytest.fixture()
    def setup(self, spark):
        table_dom = SparkDataFrameDomain({"uid": INT, "x": FLT})
        dd = DictDomain({"t": table_dom})
        metric = AddRemoveKeys({"t": "uid"})
        df = spark.createDataFrame(
            [(1, 1.0), (1, 2.0), (2, 3.0)], "uid long, x double"
        )
        return table_dom, dd, metric, df

    def test_map_value(self, spark, setup):
        from tumult_core_spark.transformations.add_remove_keys import MapValue
        from tumult_core_spark.transformations.map import (
            Map,
            RowToRowTransformation,
        )

        table_dom, dd, metric, df = setup
        in_schema = {"uid": INT, "x": FLT}
        out_schema = {"uid": INT, "x": FLT, "x2": FLT}
        m = Map(
            IfGroupedBy("uid", SymmetricDifference()),
            RowToRowTransformation(
                SparkRowDomain(in_schema),
                SparkRowDomain(out_schema),
                lambda r: {"x2": r["x"] * 2},
                augment=True,
            ),
        )
        mv = MapValue(dd, metric, m, "t", "t2")
        out = mv({"t": df})
        rows = {(r["uid"], r["x"]): r["x2"] for r in out["t2"].collect()}
        assert rows == {(1, 1.0): 2.0, (1, 2.0): 4.0, (2, 3.0): 6.0}
        assert mv.stability_function(1) == ExactNumber(1)
        # a Map under plain SymmetricDifference is rejected
        plain = Map(
            SymmetricDifference(),
            RowToRowTransformation(
                SparkRowDomain(in_schema),
                SparkRowDomain(out_schema),
                lambda r: {"x2": r["x"]},
                augment=True,
            ),
        )
        with pytest.raises(ValueError, match="IfGroupedBy"):
            MapValue(dd, metric, plain, "t", "t3")

    def test_flat_map_value(self, spark, setup):
        from tumult_core_spark.transformations.add_remove_keys import (
            FlatMapValue,
        )
        from tumult_core_spark.transformations.map import (
            FlatMap,
            RowToRowsTransformation,
        )

        table_dom, dd, metric, df = setup
        in_schema = {"uid": INT, "x": FLT}
        out_schema = {"uid": INT, "x": FLT, "y": FLT}
        fm = FlatMap(
            IfGroupedBy("uid", SymmetricDifference()),
            RowToRowsTransformation(
                SparkRowDomain(in_schema),
                SparkRowDomain(out_schema),
                lambda r: [{"y": r["x"]}, {"y": -r["x"]}],
                augment=True,  # IfGroupedBy requires the key preserved
            ),
            max_num_rows=2,
        )
        fv = FlatMapValue(dd, metric, fm, "t", "t2")
        out = fv({"t": df})
        assert out["t2"].count() == 6
        # rows never leave their key: the uid set is unchanged
        uids = {r["uid"] for r in out["t2"].select("uid").distinct().collect()}
        assert uids == {1, 2}
        assert fv.stability_function(2) == ExactNumber(2)

    def test_flat_map_by_key_value(self, spark, setup):
        """FlatMapByKeyValue (reference add_remove_keys.py:508-542):
        the per-key [Rows]->[Rows] lift — whole-group output under the
        same key, rejection when the grouping column is not the
        tracked key column."""
        from tumult_core_spark.transformations.add_remove_keys import (
            FlatMapByKeyValue,
        )
        from tumult_core_spark.transformations.map import (
            FlatMapByKey,
            RowsToRowsTransformation,
        )

        table_dom, dd, metric, df = setup
        rt = RowsToRowsTransformation(
            SparkRowDomain({"x": FLT}),
            SparkRowDomain({"s": FLT}),
            lambda rows: [
                {"s": sum(r["x"] for r in rows)},
                {"s": float(len(rows))},
            ],
        )
        fm = FlatMapByKey(
            table_dom, IfGroupedBy("uid", SymmetricDifference()), rt
        )
        fv = FlatMapByKeyValue(dd, metric, fm, "t", "t2")
        out = fv({"t": df})
        got = {(r["uid"], r["s"]) for r in out["t2"].collect()}
        assert got == {(1, 3.0), (1, 2.0), (2, 3.0), (2, 1.0)}
        assert fv.stability_function(3) == ExactNumber(3)
        # grouping by a column other than the tracked key is rejected
        other_dom = SparkDataFrameDomain({"uid": INT, "x": FLT})
        fm_bad = FlatMapByKey(
            other_dom,
            IfGroupedBy("x", SymmetricDifference()),
            RowsToRowsTransformation(
                SparkRowDomain({"uid": INT}),
                SparkRowDomain({"s": FLT}),
                lambda rows: [{"s": 0.0}],
            ),
        )
        with pytest.raises(ValueError, match="tracks"):
            FlatMapByKeyValue(dd, metric, fm_bad, "t", "t3")
        # a non-FlatMapByKey transformation is rejected
        with pytest.raises(ValueError, match="FlatMapByKey"):
            FlatMapByKeyValue(dd, metric, object(), "t", "t3")

    def test_public_join_value(self, spark, setup):
        from tumult_core_spark.transformations.add_remove_keys import (
            PublicJoinValue,
        )
        from tumult_core_spark.transformations.join import PublicJoin

        table_dom, dd, metric, df = setup
        public = spark.createDataFrame(
            [(1, "low"), (2, "hi")], "uid long, tag string"
        )
        pj = PublicJoin(table_dom, SymmetricDifference(), public)
        pv = PublicJoinValue(dd, metric, pj, "t", "t2")
        out = pv({"t": df})
        got = {(r["uid"], r["x"], r["tag"]) for r in out["t2"].collect()}
        assert got == {(1, 1.0, "low"), (1, 2.0, "low"), (2, 3.0, "hi")}
        assert pv.stability_function(1) == ExactNumber(1)


class TestAggregationFactories:
    """create_count/count_distinct/sum_aggregation dispatch on the
    domain type (ungrouped vs grouped) and execute."""

    def test_ungrouped_dispatch(self, spark):
        from tumult_core_spark.transformations.agg import (
            Count,
            CountDistinct,
            Sum,
            create_count_aggregation,
            create_count_distinct_aggregation,
            create_sum_aggregation,
        )

        dom = SparkDataFrameDomain({"g": STR, "x": INT})
        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("b", 2)], "g string, x long"
        )
        c = create_count_aggregation(dom, SymmetricDifference())
        assert isinstance(c, Count) and int(c(df)) == 3
        cd = create_count_distinct_aggregation(dom, SymmetricDifference())
        assert isinstance(cd, CountDistinct) and int(cd(df)) == 2
        s = create_sum_aggregation(
            dom, SymmetricDifference(), measure_column="x", lower=0, upper=10
        )
        assert isinstance(s, Sum) and int(s(df)) == 4

    def test_grouped_dispatch(self, spark):
        from tumult_core_spark.base import ChainTT
        from tumult_core_spark.transformations.agg import (
            CountDistinctGrouped,
            CountGrouped,
            SumGrouped,
            create_count_aggregation,
            create_count_distinct_aggregation,
            create_sum_aggregation,
        )
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        dom = SparkDataFrameDomain({"g": STR, "x": INT})
        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("b", 2)], "g string, x long"
        )
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",), ("c",)]
        )
        c = create_count_aggregation(gb.output_domain, gb.output_metric)
        assert isinstance(c, CountGrouped)
        counts = {r["g"]: r["count"] for r in ChainTT(gb, c)(df).collect()}
        assert counts == {"a": 2, "b": 1, "c": 0}
        cd = create_count_distinct_aggregation(gb.output_domain, gb.output_metric)
        assert isinstance(cd, CountDistinctGrouped)
        s = create_sum_aggregation(
            gb.output_domain, gb.output_metric,
            measure_column="x", lower=0, upper=10, sum_column="sx",
        )
        assert isinstance(s, SumGrouped)
        sums = {r["g"]: r["sx"] for r in ChainTT(gb, s)(df).collect()}
        assert sums == {"a": 2, "b": 2, "c": 0}


class TestScalarMechanismsDirect:
    """The mechanism classes themselves (not via factories): privacy
    functions and scale-0 exactness on the scalar path."""

    def test_privacy_functions_and_zero_scale(self):
        from tumult_core_spark.domains import NumpyFloatDomain
        from tumult_core_spark.measurements.noise import (
            AddGaussianNoise,
            AddGeometricNoise,
            AddLaplaceNoise,
            AddNoiseToSeries,
        )

        lap = AddLaplaceNoise(NumpyFloatDomain(), 0)
        assert float(lap(2.5)) == 2.5  # scale 0 -> exact
        assert AddLaplaceNoise(NumpyFloatDomain(), 2).privacy_function(1) == (
            ExactNumber("1/2")
        )
        geo = AddGeometricNoise(0)
        assert int(geo(7)) == 7
        assert AddGeometricNoise(2).privacy_function(1) == ExactNumber("1/2")
        # Gaussian privacy under zCDP: rho = d^2 / (2 sigma^2)
        g = AddGaussianNoise(NumpyFloatDomain(), 4)  # sigma^2 = 4
        assert g.privacy_function(2) == ExactNumber("1/2")
        series = AddNoiseToSeries(AddLaplaceNoise(NumpyFloatDomain(), 0))
        import pandas as pd

        out = series(pd.Series([1.0, 2.0, 3.0]))
        assert list(out) == [1.0, 2.0, 3.0]

    def test_two_sided_geometric_exact_cmf_roundtrip(self):
        from tumult_core_spark.utils.distributions import (
            double_sided_geometric_cmf_exact,
            double_sided_geometric_inverse_cmf_exact,
        )

        alpha = ExactNumber(2)
        for k in (-5, -1, 0, 1, 5):
            p = double_sided_geometric_cmf_exact(k, alpha)
            assert 0 < p.to_float(round_up=False) < 1
            assert double_sided_geometric_inverse_cmf_exact(p, alpha) == k
        assert double_sided_geometric_cmf_exact(0, alpha) > ExactNumber("1/2") - ExactNumber("1/100")

    def test_inverse_cmf_boundary_values(self):
        """r17 guard: p > 1 and p = 1 (alpha > 0) must raise — CMF < 1
        at every finite k, so the doubling search would never
        terminate; p = 1 at alpha = 0 (point mass) inverts to 0."""
        import pytest

        from tumult_core_spark.utils.distributions import (
            double_sided_geometric_inverse_cmf_exact as inv,
        )

        with pytest.raises(ValueError, match=r"\(0, 1\]"):
            inv("11/10", ExactNumber(2))
        with pytest.raises(ValueError, match="no finite inverse"):
            inv(1, ExactNumber(2))
        with pytest.raises(ValueError, match=r"\(0, 1\]"):
            inv(0, ExactNumber(2))
        assert inv(1, ExactNumber(0)) == 0


class TestMetricEdges:
    def test_null_metric_refuses(self):
        from tumult_core_spark.metrics import NullMetric

        m = NullMetric()
        with pytest.raises(ValueError):
            m.validate(1)
        with pytest.raises(ValueError):
            m.compare(1, 2)

    def test_on_columns_tuple(self):
        from tumult_core_spark.metrics import (
            AbsoluteDifference,
            OnColumn,
            OnColumns,
            SumOf,
        )

        m = OnColumns(
            [
                OnColumn("a", SumOf(AbsoluteDifference())),
                OnColumn("b", SumOf(AbsoluteDifference())),
            ]
        )
        m.validate((1, 2))
        with pytest.raises(ValueError):
            m.validate((1,))
        assert m.compare((1, 2), (1, 3))
        assert not m.compare((2, 2), (1, 3))


class TestSourcesDirect:
    def test_csv_roundtrip_with_domain(self, spark, tmp_path):
        from tumult_core_spark.sources.io import read_csv

        dom = SparkDataFrameDomain({"k": INT, "v": STR})
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        path = str(tmp_path / "csv_out")
        df.write.option("header", True).csv(path)
        back = read_csv(spark, path, domain=dom)
        # csv read reports nullable=True regardless; names+types must match
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in dom.spark_schema.fields
        ]
        assert sorted((r["k"], r["v"]) for r in back.collect()) == [
            (1, "a"), (2, "b"),
        ]

    def test_csv_header_order_mismatch_fails_loudly(self, spark, tmp_path):
        """A CSV whose header order differs from the domain's column
        order must FAIL, not silently bind columns positionally (both
        string-typed columns would swap without a peep otherwise)."""
        from tumult_core_spark.sources.io import read_csv

        dom = SparkDataFrameDomain({"a": STR, "b": STR})
        path = str(tmp_path / "swapped.csv")
        with open(path, "w") as f:
            f.write("b,a\nx,y\n")
        with pytest.raises(Exception) as exc_info:
            read_csv(spark, path, domain=dom).collect()
        assert "CSV header does not conform" in str(
            exc_info.value
        ) or "header" in str(exc_info.value).lower()

    def test_write_parquet_and_partitioned(self, spark, tmp_path):
        import os

        from tumult_core_spark.sources.io import (
            write_parquet,
            write_partitioned_parquet,
        )

        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "k long, part string"
        )
        p1 = str(tmp_path / "plain")
        write_parquet(df, p1)
        assert spark.read.parquet(p1).count() == 3
        p2 = str(tmp_path / "hive")
        write_partitioned_parquet(df, p2, ["part"])
        assert sorted(
            d for d in os.listdir(p2) if d.startswith("part=")
        ) == ["part=a", "part=b"]
        # partition pruning reads only one directory
        pruned = spark.read.parquet(p2).filter("part = 'a'")
        assert pruned.count() == 2


class TestDomainDescriptorsDirect:
    def test_exotic_descriptors_roundtrip(self, spark):
        import datetime

        from tumult_core_spark.domains import (
            SparkArrayColumnDescriptor,
            SparkBinaryColumnDescriptor,
            SparkDateColumnDescriptor,
            SparkTimestampColumnDescriptor,
            descriptor_from_field,
        )

        df = spark.createDataFrame(
            [
                (
                    datetime.date(2024, 1, 1),
                    datetime.datetime(2024, 1, 1, 12, 0),
                    bytearray(b"\x00\x01"),
                    [1.0, 2.0],
                )
            ],
            "d date, ts timestamp, b binary, arr array<double>",
        )
        dom = SparkDataFrameDomain.from_spark_schema(df.schema)
        assert isinstance(dom["d"], SparkDateColumnDescriptor)
        assert isinstance(dom["ts"], SparkTimestampColumnDescriptor)
        assert isinstance(dom["b"], SparkBinaryColumnDescriptor)
        assert isinstance(dom["arr"], SparkArrayColumnDescriptor)
        dom.validate(df)  # the constructed frame is a member
        for f in df.schema.fields:
            assert descriptor_from_field(f).data_type() == f.dataType


class TestHelperFunctions:
    def test_dd_arithmetic_identities(self):
        from tumult_core_spark import dd

        hi, lo = dd.two_sum(np.array([1.0]), np.array([1e-20]))
        assert hi[0] == 1.0 and lo[0] == 1e-20  # error term preserved
        hi, lo = dd.quick_two_sum(np.array([1.0]), np.array([1e-20]))
        assert hi[0] == 1.0 and lo[0] == 1e-20
        p, e = dd.two_prod(np.array([1.0 + 2**-30]), np.array([1.0 - 2**-30]))
        # (p, e) is the EXACT product 1 - 2**-60: p rounds to 1.0 and e
        # carries the residual a double cannot hold
        assert p[0] == 1.0 and e[0] == -(2.0**-60)
        # add_d/mul_d take (DD pair, scalar-array)
        a = dd.add_d((np.array([1.0]), np.array([0.0])), np.array([1e-20]))
        assert a[0][0] == 1.0 and a[1][0] == 1e-20
        m = dd.mul_d((np.array([2.0]), np.array([2.0**-55])), np.array([3.0]))
        assert m[0][0] == 6.0 and m[1][0] == 3.0 * 2.0**-55
        hi, lo = dd.ldexp((np.array([1.5]), np.array([2.0**-55])), 3)
        assert hi[0] == 12.0 and lo[0] == 2.0**-52

    def test_misc_helpers(self, spark):
        from pyspark.sql import types as T

        from tumult_core_spark.utils.misc import coerce_lit, print_sdf

        df = spark.range(3).select(coerce_lit(5, T.LongType()).alias("c"))
        assert [r["c"] for r in df.collect()] == [5, 5, 5]
        print_sdf(df)  # smoke: sorted deterministic print

    def test_testing_helpers(self):
        from tumult_core_spark.utils.testing import chi_squared_pvalue

        observed = np.array([100.0, 100.0, 100.0])
        expected = np.array([100.0, 100.0, 100.0])
        assert chi_squared_pvalue(observed, expected) > 0.99

    def test_join_utils(self):
        from tumult_core_spark.utils.join import (
            columns_after_join,
            natural_join_columns,
        )

        left = ["a", "b", "x"]
        right = ["b", "c", "x"]
        assert natural_join_columns(left, right) == ["b", "x"]
        after = columns_after_join(left, right, ["b"])
        assert after["b"] == ("b", "b")  # join column originates from both
        assert set(after) >= {"a", "b", "c"}

    def test_join_domain_float_key_flag_merge(self):
        """Float join keys merge allow_nan/allow_inf like nulls under
        nulls_are_equal=True (Spark: NaN = NaN is TRUE): intersection
        for inner, the surviving side for one-sided joins, union for
        outer — reference utils/join.py domain_after_join and the
        parameterized cases of reference test_join.py."""
        from tumult_core_spark.domains import (
            SparkDataFrameDomain,
            SparkFloatColumnDescriptor as FD,
            SparkStringColumnDescriptor as SD,
        )
        from tumult_core_spark.utils.join import join_output_domain

        left = SparkDataFrameDomain(
            {
                "A": FD(allow_null=True, allow_inf=True, allow_nan=True),
                "B": SD(allow_null=True),
            }
        )
        right = SparkDataFrameDomain(
            {
                "A": FD(allow_null=True, allow_inf=True, allow_nan=False),
                "B": SD(allow_null=False),
            }
        )
        inner = join_output_domain(left, right, ["A"], "inner", True)
        assert inner == SparkDataFrameDomain(
            {
                "A": FD(allow_null=True, allow_inf=True, allow_nan=False),
                "B_left": SD(allow_null=True),
                "B_right": SD(allow_null=False),
            }
        )
        assert join_output_domain(left, right, ["A"], "outer", True)[
            "A"
        ].allow_nan
        assert join_output_domain(left, right, ["A"], "left", True)[
            "A"
        ].allow_nan
        assert not join_output_domain(left, right, ["A"], "right", True)[
            "A"
        ].allow_nan
        # inner without null-equality additionally forbids null keys
        assert not join_output_domain(left, right, ["A"], "inner", False)[
            "A"
        ].allow_null

    def test_truncation_strategy_stability(self):
        from tumult_core_spark.transformations.join import (
            TruncationStrategy,
            truncation_strategy_stability,
        )

        assert truncation_strategy_stability(
            TruncationStrategy.TRUNCATE, 3
        ) == ExactNumber(2)
        assert truncation_strategy_stability(
            TruncationStrategy.DROP, 3
        ) == ExactNumber(3)

    def test_compute_full_domain_df(self, spark):
        from pyspark.sql import types as T

        from tumult_core_spark.transformations.groupby import (
            compute_full_domain_df,
        )

        schema = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
            ]
        )
        out = compute_full_domain_df(
            spark, {"a": [1, 2], "b": ["x", "y", "z"]}, schema
        )
        assert out.count() == 6
        assert out.schema == schema


class TestBenchCompactLine:
    """The driver parses only the LAST 2000 chars of bench.py stdout;
    rounds 5-8 silently recorded parsed=null because the diagnostic
    dict outgrew that.  The printed line must stay parseable and under
    the cap no matter how much diagnostics accumulate."""

    def test_compact_line_fits_and_parses(self):
        import json
        import sys

        sys.path.insert(0, "/root/repo")
        from bench import compact_line

        out = {
            "metric": "headline_queries_wall_clock",
            "value": 25.0,
            "unit": "sec",
            "queries": {f"query_name_{i}": round(i * 1.234, 3) for i in range(18)},
            "sf": 0.1,
            "sf_sweep": {"ops": {f"op{i}": {"t_1x": 1.0, "t_10x": 3.0} for i in range(6)}},
            "vs_reference": {
                "max_ratio": 0.73,
                "max_ratio_min": 0.65,
                "ratios": {f"query_name_{i}": 0.5 for i in range(18)},
                "note": "x" * 5000,
            },
        }
        line = compact_line(out)
        assert len(line) < 2000
        d = json.loads(line)
        assert d["metric"] == "headline_queries_wall_clock"
        assert d["queries"] and d["max_ratio_vs_reference"] == 0.73

        # pathological: even absurdly many queries cannot overflow
        out["queries"] = {f"very_long_query_name_number_{i}": 1.0 for i in range(200)}
        line2 = compact_line(out)
        assert len(line2) < 2000
        assert json.loads(line2)["metric"] == "headline_queries_wall_clock"
