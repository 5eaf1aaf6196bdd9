"""Local mirror of the driver's correctness gate: run a Spark query and its
DuckDB oracle SQL on the same tables, compare row-count + schema +
order-insensitive values (columns sorted by name, rows sorted by all
columns; exact on non-floats, 1e-9-relative on floats)."""

from __future__ import annotations

import math
import re
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(
            df[c].dropna().iloc[0] if df[c].notna().any() else None,
            (list, np.ndarray),
        ):
            df[c] = df[c].map(
                lambda v: tuple(float(x) for x in v) if v is not None else None
            )
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() \
                else df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), na_position="last").reset_index(
        drop=True
    )


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return [f"column mismatch: spark={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        return [f"row-count mismatch: spark={len(a)} oracle={len(b)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = av.astype("float64").to_numpy()
            bv = bv.astype("float64").to_numpy()
            ok = np.isclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True)
            if not ok.all():
                i = int(np.argmin(ok))
                problems.append(
                    f"float col {c}: first diff at row {i}: {av[i]} vs {bv[i]}"
                )
        else:
            neq = ~(av.eq(bv) | (av.isna() & bv.isna()))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: first diff at row {i}: {av[i]!r} vs {bv[i]!r}"
                )
    return problems


def run_query_pair(spark, sf_dir: str, qfn, sql: str) -> list[str]:
    spark_pdf = qfn(spark, sf_dir).toPandas()
    oracle_pdf = duckdb_conn(sf_dir).execute(sql).fetchdf()
    return compare_frames(spark_pdf, oracle_pdf)


def assert_fanout_only_exchange(plan: str) -> None:
    """The only Exchange an executed plan may hold is the single fanout
    round-robin spread of an under-split file scan
    (operators/partitioning.py): at most one round-robin, no broadcast
    and no hash/range shuffle."""
    n_rr = plan.count("Exchange RoundRobinPartitioning")
    assert plan.count("RoundRobinPartitioning") == n_rr <= 1, plan
    assert "BroadcastExchange" not in plan, plan
    assert plan.count("Exchange") == n_rr, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


# Every Python physical node kind Spark 4.1.2 plans, by the name that
# opens its line in an executed-plan string.  TransformWithStateInPySpark
# (streaming transformWithStateInPandas) runs only with the optional
# protobuf package, so no test builds it; it is counted by name.
PYTHON_EXEC_NODES = frozenset({
    "MapInPandas", "MapInArrow",
    "ArrowEvalPython", "BatchEvalPython",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "ArrowAggregatePython", "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState", "TransformWithStateInPySpark",
})

# tree drawing, the "!" of an unresolved node and the "*(n) " codegen
# stage id precede the node name
_NODE_NAME = re.compile(r"^[\s:+\-|!]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def python_exec_nodes(plan: str) -> Counter:
    """Python physical nodes of an executed-plan string, counted by
    kind.  Matches whole node names, so ArrowEvalPythonUDTF is not also
    an ArrowEvalPython and a UDF named like a node does not count."""
    names = (_NODE_NAME.match(line) for line in plan.splitlines())
    return Counter(m.group(1) for m in names
                   if m and m.group(1) in PYTHON_EXEC_NODES)
