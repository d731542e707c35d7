"""Stability/privacy-function value parity with the reference's
documented tables, plus coverage of the operators not exercised by the
driver queries (converters, PrivateJoinOnKey, AddRemoveKeys lifts,
stddev factory, persist ops, LimitRowsPerKeyPerGroup)."""

import numpy as np
import pytest

from tumult_core_spark.base import ChainTT
from tumult_core_spark.domains import (
    DictDomain,
    SparkDataFrameDomain,
    SparkIntegerColumnDescriptor,
    SparkStringColumnDescriptor,
)
from tumult_core_spark.exact_number import ExactNumber
from tumult_core_spark.measures import ApproxDP, PureDP, RhoZCDP
from tumult_core_spark.metrics import (
    AddRemoveKeys,
    DictMetric,
    HammingDistance,
    IfGroupedBy,
    RootSumOfSquared,
    SumOf,
    SymmetricDifference,
)

INT = SparkIntegerColumnDescriptor(size=64)
STR = SparkStringColumnDescriptor()


def dom2():
    return SparkDataFrameDomain({"k": INT, "v": STR})


class TestStabilityValues:
    def test_count_hamming_doubles(self):
        from tumult_core_spark.transformations.agg import Count

        c = Count(dom2(), HammingDistance())
        assert c.stability_function(3) == 6

    def test_sum_sensitivity_symmetric(self):
        from tumult_core_spark.transformations.agg import Sum

        d = SparkDataFrameDomain({"x": INT})
        s = Sum(d, SymmetricDifference(), "x", lower=-3, upper=7)
        assert s.stability_function(1) == 7  # max(|l|, |u|)

    def test_sum_sensitivity_hamming(self):
        from tumult_core_spark.transformations.agg import Sum

        d = SparkDataFrameDomain({"x": INT})
        s = Sum(d, HammingDistance(), "x", lower=-3, upper=7)
        assert s.stability_function(1) == 10  # u - l

    def test_float_clip_rounds_inward(self, spark):
        """The float clip range must round INWARD toward the exact
        bounds (reference agg.py:804-810): the sensitivity claim comes
        from the exact bounds, so no clipped value may land outside
        them.  Bound 1/3 is not float-representable — the clip ceiling
        for the lower bound must be the float ABOVE 1/3, never below."""
        import math

        from fractions import Fraction

        from tumult_core_spark.domains import SparkFloatColumnDescriptor
        from tumult_core_spark.transformations.agg import Sum

        d = SparkDataFrameDomain({"x": SparkFloatColumnDescriptor(size=64)})
        s = Sum(d, SymmetricDifference(), "x", lower="1/3", upper="2/3")
        df = spark.createDataFrame([(0.0,), (1.0,)], "x double")
        total = float(s(df))
        lo_exact, hi_exact = Fraction(1, 3), Fraction(2, 3)
        # two clipped values, each inside the EXACT bounds
        assert Fraction(2) * lo_exact <= Fraction(total) <= Fraction(2) * hi_exact
        # degenerate non-representable lower == upper collapses, not inverts
        s2 = Sum(d, SymmetricDifference(), "x", lower="1/3", upper="1/3")
        t2 = float(s2(df))
        assert t2 == 2 * math.nextafter(1 / 3, 1.0) or t2 == 2 * (1 / 3)

    def test_flatmap_stability(self):
        from tumult_core_spark.domains import SparkRowDomain
        from tumult_core_spark.transformations.map import (
            FlatMap,
            RowToRowsTransformation,
        )

        rt = RowToRowsTransformation(
            SparkRowDomain({"k": INT}), SparkRowDomain({"n": INT}), lambda r: []
        )
        fm = FlatMap(SymmetricDifference(), rt, max_num_rows=5)
        assert fm.stability_function(2) == 10

    def test_grouping_flatmap_l2(self):
        from tumult_core_spark.domains import SparkRowDomain
        from tumult_core_spark.metrics import RootSumOfSquared
        from tumult_core_spark.transformations.map import (
            GroupingFlatMap,
            RowToRowsTransformation,
        )

        rt = RowToRowsTransformation(
            SparkRowDomain({"k": INT}),
            SparkRowDomain({"k": INT, "g": INT}),
            lambda r: [],
            augment=True,
        )
        gfm = GroupingFlatMap(RootSumOfSquared(SymmetricDifference()), rt, 4)
        assert gfm.stability_function(3) == ExactNumber(3) * ExactNumber(4).sqrt()

    def test_limit_rows_per_key_per_group(self):
        from tumult_core_spark.transformations.truncation import (
            LimitRowsPerKeyPerGroup,
        )

        d = SparkDataFrameDomain({"g": INT, "u": INT, "v": STR})
        t = LimitRowsPerKeyPerGroup(
            d, IfGroupedBy("g", SymmetricDifference()), "u", 4
        )
        # IfGroupedBy(g, SymmetricDifference) counts changed *groups*;
        # deterministic truncation maps a changed group to one changed
        # group, so stability is d_in, not d_in * threshold
        # (reference truncation.py:553-570)
        assert t.stability_function(2) == 2
        assert t.output_metric == IfGroupedBy("g", SymmetricDifference())

    def test_converters(self):
        from tumult_core_spark.transformations.converters import (
            HammingDistanceToSymmetricDifference,
            UnwrapIfGroupedBy,
        )
        from tumult_core_spark.metrics import SumOf

        h = HammingDistanceToSymmetricDifference(dom2())
        assert h.stability_function(3) == 6
        u = UnwrapIfGroupedBy(
            dom2(), IfGroupedBy("k", SumOf(SymmetricDifference()))
        )
        assert u.stability_function(3) == 3
        # L2 inner: L1 row symdiff <= (L2 distance)^2 (reference
        # converters.py:59-74)
        from tumult_core_spark.metrics import RootSumOfSquared

        u2 = UnwrapIfGroupedBy(
            dom2(), IfGroupedBy("k", RootSumOfSquared(SymmetricDifference()))
        )
        assert u2.stability_function(3) == 9
        # the group-counting inner metric admits no finite row-level
        # stability (one added group can hold unboundedly many rows)
        with pytest.raises(ValueError, match="unbounded"):
            UnwrapIfGroupedBy(
                dom2(), IfGroupedBy("k", SymmetricDifference())
            )

    def test_public_join_ifgroupedby_stability_is_identity(self, spark):
        from tumult_core_spark.transformations.join import PublicJoin

        pub = spark.createDataFrame([(1, "x"), (1, "y")], "k long, t string")
        t = PublicJoin(
            dom2(), IfGroupedBy("k", SymmetricDifference()), pub
        )
        assert t.stability_function(2) == 2  # not multiplied by multiplicity

        # SumOf/RootSumOfSquared inners count ROWS: the fan-out
        # multiplies exactly as under the row-level metric (the pre-r5
        # factor-1 claim for these inners was unsound)
        t_sum = PublicJoin(
            dom2(), IfGroupedBy("k", SumOf(SymmetricDifference())), pub
        )
        assert t_sum.stability_function(2) == 4  # multiplicity 2
        from tumult_core_spark.metrics import RootSumOfSquared

        t_l2 = PublicJoin(
            dom2(),
            IfGroupedBy("k", RootSumOfSquared(SymmetricDifference())),
            pub,
        )
        assert t_l2.stability_function(2) == 4
        with pytest.raises(ValueError, match="[Ii]nner metric"):
            PublicJoin(
                dom2(),
                IfGroupedBy("k", SumOf(SumOf(SymmetricDifference()))),
                pub,
            )


class TestPrivacyValues:
    def test_geometric_epsilon(self):
        from tumult_core_spark.measurements.noise import AddGeometricNoise

        m = AddGeometricNoise(alpha=2)
        assert m.privacy_function(3) == ExactNumber("3/2")

    def test_discrete_gaussian_rho(self):
        from tumult_core_spark.measurements.noise import AddDiscreteGaussianNoise

        m = AddDiscreteGaussianNoise(sigma_squared=8)
        assert m.privacy_function(4) == 1  # 16 / (2*8)

    def test_integer_mechanisms_infinite_scale(self):
        # calculate_noise_scale returns oo for d_out=0 budgets; the
        # integer mechanisms must stay constructible (composition and
        # accounting still work) and raise a CLEAR error at sampling
        # time instead of OverflowError in Fraction() at __init__
        import sympy as sp

        from tumult_core_spark.measurements.noise import (
            AddDiscreteGaussianNoise,
            AddGeometricNoise,
        )

        for m in (AddGeometricNoise(sp.oo), AddDiscreteGaussianNoise(sp.oo)):
            assert m.privacy_function(1) == 0
            with pytest.raises(ValueError, match="infinite"):
                m(1)
            with pytest.raises(ValueError, match="infinite"):
                m.add_noise_to_array(np.array([1, 2]))

    def test_converter_puredp_to_zcdp(self):
        from tumult_core_spark.measurements.converters import PureDPToRhoZCDP
        from tumult_core_spark.measurements.noise import AddGeometricNoise

        m = PureDPToRhoZCDP(AddGeometricNoise(alpha=1))
        assert m.privacy_function(2) == 2  # (eps=2)^2 / 2

    def test_converter_zcdp_to_approxdp(self):
        from tumult_core_spark.measurements.converters import RhoZCDPToApproxDP
        from tumult_core_spark.measurements.noise import AddDiscreteGaussianNoise

        m = RhoZCDPToApproxDP(AddDiscreteGaussianNoise(2), delta="1/1000")
        eps, delta = m.privacy_function(2)
        assert delta == ExactNumber("1/1000")
        # rho + 2 sqrt(rho ln(1/delta)) with rho = 1
        assert abs(eps.to_float(round_up=True) - (1 + 2 * np.sqrt(np.log(1000)))) < 1e-9

    def test_svt_privacy(self):
        from tumult_core_spark.measurements.spark import SparseVectorPrefixSums

        d = SparkDataFrameDomain({"rank": INT, "count": INT})
        m = SparseVectorPrefixSums(d, "count", "rank", alpha=2, known_input_rows=1)
        assert m.privacy_function(1) == 2  # 4/alpha
        assert m.privacy_function(2) == 4

    def test_partition_selection_privacy_growth(self):
        from tumult_core_spark.measurements.spark import GeometricPartitionSelection

        d = SparkDataFrameDomain({"a": STR})
        m = GeometricPartitionSelection(d, threshold=50, alpha=1)
        eps1, delta1 = m.privacy_function(1)
        assert eps1 == 1
        assert delta1.to_float(round_up=True) < 1e-18
        eps2, delta2 = m.privacy_function(2)
        assert eps2 == 2
        assert delta2 > delta1


class TestRemainingOperators:
    def test_private_join_on_key(self, spark):
        from tumult_core_spark.transformations.join import PrivateJoinOnKey

        left = spark.createDataFrame([(1, "a"), (2, "b")], "uid long, x string")
        right = spark.createDataFrame([(1, 10), (1, 20)], "uid long, y long")
        dd = DictDomain(
            {
                "l": SparkDataFrameDomain.from_spark_schema(left.schema),
                "r": SparkDataFrameDomain.from_spark_schema(right.schema),
            }
        )
        metric = AddRemoveKeys({"l": "uid", "r": "uid"})
        t = PrivateJoinOnKey(dd, metric, "l", "r", "joined")
        out = t({"l": left, "r": right})
        assert out["joined"].count() == 2
        assert t.stability_function(1) == 1

    def test_add_remove_keys_lifts(self, spark):
        from tumult_core_spark.transformations.add_remove_keys import (
            FilterValue,
            LimitRowsPerGroupValue,
            SelectValue,
        )
        from tumult_core_spark.transformations.rows import Filter, Select
        from tumult_core_spark.transformations.truncation import LimitRowsPerGroup

        table_dom = SparkDataFrameDomain({"uid": INT, "v": STR})
        dd = DictDomain({"t": table_dom})
        metric = AddRemoveKeys({"t": "uid"})
        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "uid long, v string"
        )

        fv = FilterValue(
            dd, metric,
            Filter(table_dom, SymmetricDifference(), "v != 'a'"),
            "t", "t2",
        )
        out = fv({"t": df})
        assert out["t2"].count() == 2
        assert fv.stability_function(1) == 1

        lv = LimitRowsPerGroupValue(
            dd, metric,
            LimitRowsPerGroup(table_dom, IfGroupedBy("uid", SymmetricDifference()), 1),
            "t", "t3",
        )
        assert lv({"t": df})["t3"].count() == 2

        sv = SelectValue(
            dd, metric, Select(table_dom, SymmetricDifference(), ["uid"]), "t", "t4"
        )
        assert sv({"t": df})["t4"].columns == ["uid"]
        # dropping the key column is rejected
        with pytest.raises(ValueError):
            SelectValue(
                dd, metric, Select(table_dom, SymmetricDifference(), ["v"]), "t", "t5"
            )

    def test_stddev_factory(self, spark):
        from pyspark.sql import functions as F

        from tumult_core_spark.measurements.aggregations import (
            create_standard_deviation_measurement,
        )

        df = spark.createDataFrame([(i,) for i in range(100)], "x long")
        d = SparkDataFrameDomain({"x": INT})
        m = create_standard_deviation_measurement(
            d, SymmetricDifference(), PureDP(), 1, float("inf"),
            measure_column="x", lower=0, upper=99,
        )
        got = float(m(df))
        expected = df.select(F.stddev_pop("x")).first()[0]
        assert got == pytest.approx(expected, rel=1e-6)

    def test_persist_unpersist_action(self, spark):
        from tumult_core_spark.transformations.rows import (
            Persist,
            SparkAction,
            Unpersist,
        )

        df = spark.createDataFrame([(1, "a")], "k long, v string")
        d = dom2()
        chain = Persist(d, SymmetricDifference()) | SparkAction(
            d, SymmetricDifference()
        ) | Unpersist(d, SymmetricDifference())
        assert chain(df).count() == 1
        assert chain.stability_function(1) == 1

    def test_parallel_composition(self, spark):
        from tumult_core_spark.domains import ListDomain
        from tumult_core_spark.measurements.aggregations import (
            create_count_measurement,
        )
        from tumult_core_spark.measurements.interactive import ParallelComposition
        from tumult_core_spark.metrics import SumOf

        d = dom2()
        df1 = spark.createDataFrame([(1, "a")], "k long, v string")
        df2 = spark.createDataFrame([(2, "b"), (3, "c")], "k long, v string")
        ms = [
            create_count_measurement(d, SymmetricDifference(), PureDP(), 1, 1)
            for _ in range(2)
        ]
        pc = ParallelComposition(
            ListDomain(d, length=2), SumOf(SymmetricDifference()), ms
        )
        assert pc.privacy_function(1) == 1  # max, not sum
        outs = pc([df1, df2])
        assert len(outs) == 2


class TestExceptionHierarchy:
    """Reference exceptions.py parity: typed classes exist, subclass
    what this package historically raised, and fire at the chaining /
    composition sites."""

    def test_chain_mismatches_raise_typed_errors(self):
        from tumult_core_spark.exceptions import (
            DomainMismatchError,
            MetricMismatchError,
        )
        from tumult_core_spark.transformations.rows import Filter, Select

        d = dom2()
        f = Filter(d, SymmetricDifference(), "k > 0")
        other = SparkDataFrameDomain({"z": INT})
        s = Select(other, SymmetricDifference(), ["z"])
        with pytest.raises(DomainMismatchError):
            ChainTT(f, s)
        assert issubclass(DomainMismatchError, ValueError)
        assert issubclass(MetricMismatchError, ValueError)

    def test_composition_measure_mismatch(self, spark):
        from tumult_core_spark.exceptions import MeasureMismatchError
        from tumult_core_spark.measurements.composition import Composition
        from tumult_core_spark.measurements.noise import (
            AddDiscreteGaussianNoise,
            AddGeometricNoise,
        )

        with pytest.raises(MeasureMismatchError):
            Composition([AddGeometricNoise(1), AddDiscreteGaussianNoise(1)])
