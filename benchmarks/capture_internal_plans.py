"""Dump .explain("formatted") for the PRE-SANITIZE pipelines of the
headline DP bench queries (the released DataFrame is a frozen
LocalTableScan, so the informative plan is the internal one).

Usage: python benchmarks/capture_internal_plans.py <outdir> <suffix>
Writes <outdir>/<query>_<suffix>.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    from pyspark.sql import functions as F

    from tumult_core_spark.utils.misc import get_spark

    spark = get_spark("plan-capture", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    from tumult_core_spark.domains import SparkDataFrameDomain
    from tumult_core_spark.measures import PureDP
    from tumult_core_spark.metrics import SymmetricDifference
    from tumult_core_spark.transformations.groupby import (
        create_groupby_from_list_of_keys,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    dom = SparkDataFrameDomain.from_spark_schema(li.schema, strict=True)
    keys = [(a, b) for a in ["A", "N", "R"] for b in ["F", "O"]]

    plans = {}

    # groupby_count_sum: the 0-fill grouped count (pre-noise/pre-freeze)
    gb = create_groupby_from_list_of_keys(
        dom, SymmetricDifference(), False, ["l_returnflag", "l_linestatus"], keys
    )
    plans["groupby_count_sum"] = gb(li).agg(F.count(F.lit(1)).alias("count"), 0)

    # quantile: the grouped apply_in_pandas pipeline (pre-freeze)
    from tumult_core_spark.measurements.quantile import NoisyQuantile

    gb_q = create_groupby_from_list_of_keys(
        dom, SymmetricDifference(), False, ["l_returnflag"], [("A",), ("N",), ("R",)]
    )
    nq = NoisyQuantile(
        "l_extendedprice", 0.5, 0, 100000, 1, PureDP(), output_column="q"
    )
    import pandas as pd

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return nq(pdf)

    plans["quantile"] = gb_q(li.select("l_returnflag", "l_extendedprice")).apply_in_pandas(
        apply_fn, nq.output_spark_schema
    )

    # bounds: the rank-binned 0-filled count relation the SVT consumes
    from tumult_core_spark.transformations.derive import DeriveColumn
    from tumult_core_spark.domains import SparkIntegerColumnDescriptor
    from tumult_core_spark.transformations.groupby import GroupBy
    from tumult_core_spark.transformations.agg import CountGrouped
    from pyspark.sql import types as T

    try:
        from tumult_core_spark.utils.misc import local_rows_df
    except ImportError:  # pre-r18 code (before-capture)
        local_rows_df = None

    li_pk = li.select("l_partkey")
    dom_pk = SparkDataFrameDomain.from_spark_schema(li_pk.schema, strict=True)
    expr = (
        "cast(least(greatest(CASE WHEN `l_partkey` = 0 THEN 0 ELSE "
        "ceil(log2(abs(cast(`l_partkey` as double)))) END, 0), 62) as int)"
    )
    derive = DeriveColumn(
        dom_pk, SymmetricDifference(), "__rank", expr,
        SparkIntegerColumnDescriptor(size=32),
    )
    if local_rows_df is not None:
        rank_keys = local_rows_df(
            spark, [(i,) for i in range(0, 63)],
            T.StructType([T.StructField("__rank", T.IntegerType(), False)]),
        )
    else:
        rank_keys = spark.createDataFrame([(i,) for i in range(0, 63)], "__rank int")
    full_gb = GroupBy(derive.output_domain, SymmetricDifference(), False, rank_keys)
    count_t = CountGrouped(full_gb.output_domain, full_gb.output_metric, "__count")
    plans["bounds"] = count_t(full_gb(derive(li_pk)))

    # private_join: truncation (TRUNCATE both sides) + inner join — each
    # side's rank filter plans as a partial + final WindowGroupLimit
    from tumult_core_spark.domains import DictDomain
    from tumult_core_spark.transformations.join import (
        PrivateJoin,
        TruncationStrategy,
    )

    li_j = li.select(F.col("l_orderkey").alias("okey"), "l_quantity")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"), "o_totalprice"
    )
    dd = DictDomain(
        {
            "l": SparkDataFrameDomain.from_spark_schema(li_j.schema),
            "r": SparkDataFrameDomain.from_spark_schema(orders.schema),
        }
    )
    pj = PrivateJoin(
        dd, "l", "r", TruncationStrategy.TRUNCATE,
        TruncationStrategy.TRUNCATE, 4, 2,
    )
    plans["private_join"] = pj({"l": li_j, "r": orders})

    # map_flatmap: the Map leg (the FlatMap leg has the same shape)
    from tumult_core_spark.domains import (
        SparkFloatColumnDescriptor,
        SparkRowDomain,
    )
    from tumult_core_spark.transformations.map import (
        Map,
        RowToRowTransformation,
    )
    from tumult_core_spark.transformations.rows import Select

    sel = Select(dom, SymmetricDifference(), ["l_extendedprice", "l_discount"])
    in_schema = dict(sel.output_domain.schema)
    out_schema = dict(in_schema)
    out_schema["revenue"] = SparkFloatColumnDescriptor(size=64)
    m = Map(
        SymmetricDifference(),
        RowToRowTransformation(
            SparkRowDomain(in_schema),
            SparkRowDomain(out_schema),
            lambda r: {"revenue": r["l_extendedprice"] * (1 - r["l_discount"])},
            augment=True,
        ),
    )
    plans["map_flatmap"] = (sel | m)(li)

    # dedup_minhash: banded LSH candidate pairs (r18: widened signature
    # stage)
    from tumult_core_spark.extensions.dedup import minhash_lsh_candidate_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plans["dedup_minhash"] = minhash_lsh_candidate_pairs(
        docs, "doc_id", "text", 64, 16
    )

    # ann_topk: brute-force KNN (r18: widened corpus scoring stage)
    from tumult_core_spark.extensions.similarity import brute_force_knn

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries_df = embs.filter("vec_id < 100").select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    plans["ann_topk"] = brute_force_knn(
        embs, queries_df, "vec_id", "qid", "embedding", k=10
    )

    for name, df in plans.items():
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(explain_str(df))
        print(name, "written")
    spark.stop()


if __name__ == "__main__":
    main()
