"""Oracle mirror: run every ``queries()`` entry on Spark at sf0.01 and
compare against its ``oracle_sql()`` twin on DuckDB — same columns (sorted
by name), same row count, same values (order-insensitive).

This is the highest-value test in the repo: it re-proves every registry
entry on each run, one test per entry.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_ORACLE


def _dtype_family(dtype) -> str:
    """Collapse a pandas dtype to the family the driver's typed hash would
    see.  int-vs-float is a REAL mismatch (round-1 ``fn_math_suite`` failed
    the driver hash on exactly that: 949 vs 949.0), so the mirror must be
    dtype-sensitive, not value-only."""
    import pandas as pd
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def _normalize(df) -> list[tuple]:
    """pandas DataFrame -> sorted list of value tuples with columns sorted by
    name, floats rounded to 9 significant-ish decimals, NaN -> None."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        norm = []
        for v in tup:
            if v is None:
                norm.append(None)
            elif isinstance(v, float):
                norm.append(None if math.isnan(v) else round(v, 9))
            else:
                norm.append(v)
        rows.append(tuple(norm))
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def _pairs():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return [pytest.param(name, fn, oracles.get(name), id=name)
            for name, fn in sorted(qs.items())]


@pytest.mark.parametrize("name,fn,oracle", _pairs())
def test_query_matches_oracle(spark, duck, name, fn, oracle):
    sdf = fn(spark, SF_ORACLE).toPandas()
    if oracle is None:
        assert len(sdf) >= 0  # rows-only check, mirrors the driver's weak path
        return
    ddf = duck.execute(oracle).fetchdf()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
    assert len(sdf) == len(ddf), f"{name}: row count {len(sdf)} vs {len(ddf)}"
    type_mismatch = {
        c: (_dtype_family(sdf[c].dtype), _dtype_family(ddf[c].dtype))
        for c in sdf.columns
        if _dtype_family(sdf[c].dtype) != _dtype_family(ddf[c].dtype)}
    assert not type_mismatch, (
        f"{name}: dtype-family mismatch (spark, oracle): {type_mismatch}")
    srows, drows = _normalize(sdf), _normalize(ddf)
    mismatches = [(a, b) for a, b in zip(srows, drows) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatching rows; first: {mismatches[:3]}"
