"""Output checks, run outside the timed regions.

Query and drain results are compared with their DuckDB oracle the way
the repository's oracle tests compare them: columns sorted by name,
values canonicalised, rows compared as a sorted multiset. Results
arrive here as pandas frames (the timed fetch is `toPandas()`), so a
pandas null and a float NaN cannot be told apart; both sides fold NaN
into NULL.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import numpy as np
import pandas as pd


def to_py(v):
    """A fetched cell as a plain Python value (None for any null)."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.ndarray):
        return [to_py(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.to_pydatetime(warn=False)
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return [to_py(x) for x in v]
    if isinstance(v, dict):
        return {k: to_py(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # pyspark Row
        return {k: to_py(x) for k, x in v.asDict().items()}
    return v


def canon(v) -> str:
    """The oracle tests' canonical text of a value, applied recursively."""
    v = to_py(v)
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, decimal.Decimal):
        return str(v)
    return str(v)


def canon_rows(columns: list[str], rows) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(",".join(canon(r[i]) for i in order) for r in rows)


def integral_columns(df) -> set[str]:
    """Names of a Spark DataFrame's integer-typed columns."""
    return {f.name for f in df.schema.fields
            if f.dataType.typeName() in ("long", "integer", "short", "byte")}


def frame_rows(pdf: pd.DataFrame, int_cols=frozenset()) -> list[str]:
    """Canonical rows of a fetched frame. pandas turns an integer column
    holding nulls into float64; `int_cols` names the columns whose
    floats are turned back into integers."""
    cols = list(pdf.columns)
    fix = [i for i, c in enumerate(cols) if c in int_cols]

    def row(r):
        if not fix:
            return r
        r = list(r)
        for i in fix:
            v = r[i]
            if isinstance(v, (float, np.floating)) and not math.isnan(v):
                r[i] = int(v)
        return r

    return canon_rows(cols, (row(r) for r in pdf.itertuples(index=False, name=None)))


def oracle_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_with_oracle(con, oracle_sql: str, pdf: pd.DataFrame,
                        int_cols=frozenset()) -> str | None:
    """None when the frame matches the oracle, else a one-line reason."""
    res = con.execute(oracle_sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    scols = list(pdf.columns)
    if [c.lower() for c in scols] != [c.lower() for c in dcols]:
        return f"columns differ: {scols} vs {dcols}"
    if len(pdf) != len(drows):
        return f"row counts differ: {len(pdf)} vs {len(drows)}"
    if frame_rows(pdf, int_cols) != canon_rows(dcols, drows):
        return "values differ"
    return None


def compare_runs(a: pd.DataFrame, b: pd.DataFrame, int_cols=frozenset()) -> str | None:
    """None when two executions of one query returned the same rows."""
    if list(a.columns) != list(b.columns):
        return "columns differ between executions"
    if len(a) != len(b):
        return f"row counts differ between executions: {len(a)} vs {len(b)}"
    if frame_rows(a, int_cols) != frame_rows(b, int_cols):
        return "values differ between executions"
    return None
