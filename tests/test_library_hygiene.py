"""Structural hygiene of the library source.

* No silent broad exception handler: every ``except Exception``,
  ``except BaseException`` or bare ``except`` in ``tumult_core_spark``
  must re-raise somewhere in its body.  A handler that swallows every
  error turns bugs into silent fallbacks.
* No measurement builds its own release frame: ``createDataFrame``
  and Arrow ``sort_by`` stay out of ``measurements/``, so every small
  release leaves through ``misc.freeze_small``.
* Every executor noise UDF comes from ``measurements.spark.noise_column``,
  which marks it nondeterministic: no other code under
  ``measurements/`` calls ``pandas_udf``.
* The narrowed handlers still do their job: ``local_rows_df`` falls
  back to the classic ``createDataFrame`` only for values the Arrow
  bridge cannot represent, and lets every other error through.
"""

import ast
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

import tumult_core_spark
from tumult_core_spark.utils.misc import local_rows_df

_BROAD = ("Exception", "BaseException")


def _is_broad(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(isinstance(t, ast.Name) and t.id in _BROAD for t in types)


def _reraises(handler: ast.ExceptHandler) -> bool:
    return any(
        isinstance(node, ast.Raise) for stmt in handler.body for node in ast.walk(stmt)
    )


def test_no_silent_broad_except():
    root = Path(tumult_core_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.ExceptHandler) and _is_broad(node):
                if not _reraises(node):
                    offenders.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    assert not offenders, "silent broad except handlers: " + ", ".join(offenders)


_KEYS = StructType([StructField("k", StringType()), StructField("n", LongType())])


def test_local_rows_df_falls_back_for_unrepresentable_values(spark):
    rows = [(1, 10), ("b", 20)]  # an int in a string key column
    with pytest.raises(pa.ArrowTypeError):
        pa.array([r[0] for r in rows], type=pa.string())
    df = local_rows_df(spark, rows, _KEYS)
    assert sorted(tuple(r) for r in df.collect()) == [("1", 10), ("b", 20)]


def test_local_rows_df_propagates_unrelated_errors(spark, monkeypatch):
    def broken_array(*args, **kwargs):
        raise RuntimeError("not an Arrow conversion error")

    monkeypatch.setattr(pa, "array", broken_array)
    with pytest.raises(RuntimeError, match="not an Arrow conversion error"):
        local_rows_df(spark, [("a", 1)], _KEYS)


def test_measurements_build_no_frames_of_their_own():
    """Every small release under ``measurements/`` freezes through
    ``misc.freeze_small``: no measurement builds a DataFrame with
    ``createDataFrame`` or orders an Arrow table with ``sort_by``."""
    root = Path(tumult_core_spark.__file__).parent / "measurements"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("createDataFrame", "sort_by")
            ):
                offenders.append(f"{path.name}:{node.lineno} {node.func.attr}")
    assert not offenders, "measurements bypassing freeze_small: " + ", ".join(offenders)


def test_noise_udfs_come_from_noise_column():
    """``pandas_udf`` is called under ``measurements/`` only inside
    ``noise_column``, so no draw can skip ``asNondeterministic()``."""
    root = Path(tumult_core_spark.__file__).parent / "measurements"
    inside, offenders = set(), []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "noise_column":
                inside |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            func = getattr(node, "func", None)
            name = getattr(func, "attr", None) or getattr(func, "id", None)
            if isinstance(node, ast.Call) and name == "pandas_udf":
                if id(node) not in inside:
                    offenders.append(f"{path.name}:{node.lineno}")
    assert inside, "noise_column not found under measurements/"
    assert not offenders, "noise UDFs built outside noise_column: " + ", ".join(
        offenders
    )
