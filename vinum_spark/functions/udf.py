"""UDF registration — the reference's signature feature re-expressed on
Spark (``vinum/core/udf.py:67-218``).

- :func:`register_numpy` — fn over whole columns (np.ndarray in, array
  out) → Arrow-batched **pandas_udf** (the direct analogue: both move
  columnar batches across a language boundary; 10-100× faster than
  row-at-a-time).
- :func:`register_python` — scalar fn, reference wraps with np.vectorize
  (``vinum/core/udf.py:134``) → row-at-a-time Spark UDF.
- ``np.<fn>(...)`` directly in SQL (``vinum/core/udf.py:46-54``) — the SQL
  pre-pass reports ``(name, arity)`` pairs and
  :func:`ensure_udfs_registered` lazily wraps the numpy function in a
  pandas_udf registered under the flat name ``np_<fn>``.

Names are case-insensitive and re-registration replaces
(``vinum/core/udf.py:11-25``). Return types are inferred by probing the
function on a tiny sample when not given explicitly.
"""

from __future__ import annotations

import weakref
from typing import Callable, Dict, Iterable, Optional, Set, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# name(lower) -> (kind, fn, spark_type_or_None, version)
_REGISTRY: Dict[str, Tuple[str, Callable, Optional[T.DataType], int]] = {}
_version_counter = 0

# live SparkSession -> {name: registered_version}. Weak keys: a stopped
# session's entry dies with the object, so a new session at a recycled
# id() can never inherit stale "already registered" state.
_SESSION_STATE: "weakref.WeakKeyDictionary[SparkSession, Dict[str, int]]" = (
    weakref.WeakKeyDictionary()
)


def register_python(name: str, fn: Callable, return_type: Optional[str] = None) -> None:
    """Register a scalar Python UDF callable from SQL (row-at-a-time)."""
    _register(name, "python", fn, return_type)


def register_numpy(name: str, fn: Callable, return_type: Optional[str] = None) -> None:
    """Register a vectorized UDF: ``fn`` receives whole columns as
    np.ndarray and returns an array (or scalar, broadcast to column)."""
    _register(name, "numpy", fn, return_type)


def _register(name: str, kind: str, fn: Callable, return_type: Optional[str]) -> None:
    global _version_counter
    _version_counter += 1
    dt = T._parse_datatype_string(return_type) if return_type else None
    _REGISTRY[name.lower()] = (kind, fn, dt, _version_counter)


def register_numpy_agg(
    name: str, fn: Callable, return_type: str = "double"
) -> None:
    """Register a GROUPED aggregate UDF: ``fn`` receives each group's
    column(s) as np.ndarray and returns a scalar.

    This EXCEEDS the reference, which rejects reducing UDFs
    (``vinum/tests/test_query_results.py:1441-1469``); Spark's
    pandas_udf GROUPED_AGG makes them first-class
    (``SELECT city, myagg(x) FROM t GROUP BY city``).
    """
    _register(name, "numpy_agg", fn, return_type)


def registered_udf_names() -> Set[str]:
    return set(_REGISTRY)


# ---------------------------------------------------------------------------
# Type inference by probing
# ---------------------------------------------------------------------------

_NUMPY_TO_SPARK = {
    "b": T.BooleanType(),
    "i": T.LongType(),
    "u": T.LongType(),
    "f": T.DoubleType(),
    "M": T.TimestampType(),
    "U": T.StringType(),
    "S": T.StringType(),
    "O": T.StringType(),
}


def _spark_type_of(result) -> T.DataType:
    arr = np.asarray(result)
    if arr.dtype.kind == "f" and arr.dtype.itemsize <= 4:
        return T.FloatType()
    if arr.dtype.kind in ("i", "u") and arr.dtype.itemsize <= 4:
        return T.IntegerType()
    return _NUMPY_TO_SPARK.get(arr.dtype.kind, T.DoubleType())


def _infer_vector_type(fn: Callable, arity: int) -> T.DataType:
    arity = max(arity, 1)
    farr, iarr, sarr = np.array([1.0, 2.0]), np.array([1, 2]), np.array(["a", "b"])
    probes = [
        [farr] * arity,
        [iarr] * arity,
        # numpy fns whose tail args are scalars (np.round(x, 2), …)
        [farr] + [1] * (arity - 1),
        [iarr] + [1] * (arity - 1),
        [sarr] * arity,
    ]
    for args in probes:
        try:
            return _spark_type_of(fn(*args))
        except Exception:
            continue
    return T.DoubleType()


def _infer_scalar_type(fn: Callable, arity: int) -> T.DataType:
    for probe in (1.0, 1, "a"):
        try:
            return _spark_type_of(fn(*([probe] * max(arity, 1))))
        except Exception:
            continue
    return T.DoubleType()


# ---------------------------------------------------------------------------
# Session registration
# ---------------------------------------------------------------------------


_SPARK_TO_NUMPY = {
    "double": "float64",
    "float": "float32",
    "bigint": "int64",
    "int": "int32",
    "boolean": "bool",
}


def _make_vectorized(fn: Callable, arity: int, dt: T.DataType):
    """Build a fixed-arity pandas_udf wrapping a numpy column function.

    Fixed arity matters: pandas_udf inspects the signature, so ``*args``
    is not portable. The hop is Arrow-batched either way — the exact
    analogue of the reference's pybind11 batch hop
    (``vinum/core/vinum_lib.cpp:60-66``). The result is coerced to the
    declared Spark type (a Python fn returning int under a double
    declaration would otherwise yield nulls).
    """
    arity = max(arity, 1)
    np_dtype = _SPARK_TO_NUMPY.get(dt.simpleString())
    params = ", ".join(f"s{i}" for i in range(arity))
    to_np = ", ".join(f"s{i}.to_numpy()" for i in range(arity))
    # fallback: tail args as scalars — numpy fns like np.round(x, 2)
    # require the literal argument scalar, and the reference passes SQL
    # literals as scalars too (vinum/core/base.py resolves Literal args).
    # Only legal when each tail column is constant within the batch:
    # taking .iloc[0] of a genuinely varying column would silently apply
    # the first row's value to the whole batch.
    #
    # KNOWN LIMITATION (accepted): constancy is checked per Arrow batch,
    # so whether np.round(x, col) with a VARYING col raises depends on
    # batch boundaries — a size-1 or batch-constant partition succeeds
    # while another partitioning raises. Values produced are per-row
    # correct in every case; only the error behavior is partitioning-
    # dependent. Detecting a non-literal tail arg at plan time would
    # require resolving the expression tree pre-execution, which pandas
    # UDFs cannot see; the reference has the same contract (scalar-tail
    # args are SQL literals — passing a column there is outside it).
    scalar_tail = ", ".join(
        [f"s0.to_numpy()"] + [f"s{i}.iloc[0]" for i in range(1, arity)]
    )
    tail_const = " and ".join(
        [f"s{i}.nunique(dropna=False) <= 1" for i in range(1, arity)]
    ) or "True"
    ns = {"pd": pd, "np": np, "_fn": fn, "_dtype": np_dtype}
    exec(
        f"def _wrapped({params}):\n"
        f"    try:\n"
        f"        out = _fn({to_np})\n"
        f"    except (TypeError, ValueError) as _e:\n"
        f"        if not ({tail_const}):\n"
        f"            raise TypeError(\n"
        f"                'np.* scalar-tail arguments must be SQL "
        f"literals (constant per batch); got varying column values — '\n"
        f"                'compute the varying form with a registered "
        f"UDF (vinum_spark.register_numpy) instead: ' + str(_e)\n"
        f"            ) from _e\n"
        f"        out = _fn({scalar_tail})\n"
        f"    out = np.broadcast_to(np.asarray(out), (len(s0),)) "
        f"if np.ndim(out) == 0 else np.asarray(out)\n"
        f"    if _dtype is not None and out.dtype.kind != 'O':\n"
        f"        out = out.astype(_dtype)\n"
        f"    return pd.Series(out)\n",
        ns,
    )
    return pandas_udf(ns["_wrapped"], returnType=dt)


def ensure_udfs_registered(
    spark: SparkSession,
    np_funcs: Iterable[Tuple[str, int]] = (),
    used_names: Optional[Iterable[str]] = None,
) -> None:
    """Idempotently register (a) every user UDF from the registry and
    (b) each ``np.*`` function the current query references."""
    state = _SESSION_STATE.setdefault(spark, {})

    for name, (kind, fn, dt, version) in list(_REGISTRY.items()):
        if state.get(name) == version:
            continue
        arity = _arity_of(fn)
        if kind == "numpy_agg":
            spark.udf.register(
                name, _make_grouped_agg(fn, arity, dt or T.DoubleType())
            )
            state[name] = version
            continue
        if kind == "numpy":
            dtype = dt or _infer_vector_type(fn, arity)
            vec_fn = fn
        else:
            # Scalar Python fn → vectorized with np.vectorize, exactly the
            # reference's approach (vinum/core/udf.py:134); still crosses
            # the boundary as Arrow batches.
            dtype = dt or _infer_scalar_type(fn, arity)
            vec_fn = np.vectorize(fn)
        spark.udf.register(name, _make_vectorized(vec_fn, arity, dtype))
        state[name] = version

    for dotted, arity in np_funcs:
        # arity-qualified name, matching the SQL rewrite (np.round with 1
        # and 2 args coexist as np_round_a1 / np_round_a2)
        flat = f"np_{dotted[3:].replace('.', '_')}_a{arity}"
        if flat in state:
            continue
        np_fn = _resolve_np(dotted)
        dtype = _infer_vector_type(np_fn, arity)
        spark.udf.register(flat, _make_vectorized(np_fn, arity, dtype))
        state[flat] = 1


def _make_grouped_agg(fn: Callable, arity: int, dt: T.DataType):
    """GROUPED_AGG pandas_udf: series-per-group in, scalar out.

    The ``pd.Series`` parameter hints and the non-Series return hint let
    Spark infer GROUPED_AGG; passing the deprecated
    ``PandasUDFType.GROUPED_AGG`` prints a UserWarning on every
    registration."""
    arity = max(arity, 1)
    params = ", ".join(f"s{i}: pd.Series" for i in range(arity))
    to_np = ", ".join(f"s{i}.to_numpy()" for i in range(arity))
    ns = {"pd": pd, "np": np, "_fn": fn}
    exec(
        f"def _wrapped({params}) -> object:\n    return _fn({to_np})\n",
        ns,
    )
    return pandas_udf(ns["_wrapped"], returnType=dt)


def _arity_of(fn: Callable) -> int:
    try:
        import inspect

        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.kind
            in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        return max(len(params), 1)
    except (TypeError, ValueError):
        return 1


def _resolve_np(dotted: str) -> Callable:
    """Resolve ``np.foo`` / ``np.char.upper`` against the numpy namespace
    only — never arbitrary eval (the reference evals in a restricted
    namespace too, ``vinum/core/udf.py:48-54``)."""
    obj = np
    for part in dotted.split(".")[1:]:
        obj = getattr(obj, part)
    if not callable(obj):
        raise ValueError(f"{dotted} is not callable")
    return obj
