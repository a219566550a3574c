"""Output checks, run after the timed loop.

Query outputs are compared with the catalog's DuckDB oracle SQL on the
same generated files, the way the catalog's own correctness gate does
it: same row count, same column names, and the same rows once both
sides are sorted on every column and every cell is rendered with
``str`` (so 123 and 123.0 differ). Tree-ingest outputs are compared
with what the generator planted.
"""

from __future__ import annotations

import math
from pathlib import Path

import pandas as pd


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    pdf = pdf[sorted(pdf.columns)].reset_index(drop=True)
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return [tuple(str(v) for v in row) for row in pdf.itertuples(index=False)]


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a short description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)} rows"
    a, b = canonical_rows(got), canonical_rows(want)
    for x, y in zip(a, b):
        if x != y:
            return f"first differing row: {x} != oracle {y}"
    return None


def duckdb_oracle(data_dir: Path, tables: list[str]):
    """A DuckDB connection with one view per generated parquet table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_query(spark_pdf: pd.DataFrame, con, oracle_sql: str) -> str | None:
    return compare_frames(spark_pdf, con.execute(oracle_sql).df())


# --- tree ingest ----------------------------------------------------------------


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def check_series(rows: pd.DataFrame, planted: dict[str, list[tuple[int, float]]]) -> str | None:
    """``rows``: relpath, t, v — every planted point exactly once."""
    got: dict[str, list[tuple[int, float]]] = {}
    for rel, t, v in rows[["relpath", "t", "v"]].itertuples(index=False):
        got.setdefault(rel, []).append((int(t), float(v)))
    if sorted(got) != sorted(planted):
        missing = sorted(set(planted) - set(got))[:3]
        extra = sorted(set(got) - set(planted))[:3]
        return f"series files differ: missing {missing}, unexpected {extra}"
    for rel, pts in planted.items():
        g = sorted(got[rel])
        if len(g) != len(pts):
            return f"{rel}: {len(g)} points != planted {len(pts)}"
        for (t1, v1), (t2, v2) in zip(g, pts):
            if t1 != t2 or not _close(v1, v2):
                return f"{rel}: point ({t1}, {v1}) != planted ({t2}, {v2})"
    return None


def check_loads(rows: pd.DataFrame, planted: dict[str, list[dict]], cols: list[str]) -> str | None:
    """``rows``: relpath plus the load-table columns; one row per planted
    (blade, station, kind)."""
    key = ["relpath", "blade", "station_r", "load_kind"]
    want = pd.DataFrame([{**r, "relpath": rel} for rel, rs in planted.items() for r in rs])
    if len(rows) != len(want):
        return f"{len(rows)} load rows != planted {len(want)}"
    got = rows.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    for c in ["relpath", "blade", "load_kind", "rotation"]:
        if list(got[c].astype(str)) != list(want[c].astype(str)):
            return f"load column {c} differs from planted"
    for c in ["station_r", "radius", "rpm", *cols]:
        for i, (x, y) in enumerate(zip(got[c], want[c])):
            if not _close(float(x), float(y)):
                return f"load column {c} row {i}: {x} != planted {y}"
    return None


def check_labels(rows: pd.DataFrame, planted: dict[tuple[str, str], str]) -> str | None:
    """``rows``: relpath, label for every run directory."""
    got = {tuple(rel.rsplit("/", 1)): lab for rel, lab in rows[["relpath", "label"]].itertuples(index=False)}
    for key, lab in planted.items():
        if got.get(key) != lab:
            return f"label of {'/'.join(key)}: {got.get(key)!r} != planted {lab!r}"
    return None


def check_numbers(rows: pd.DataFrame, planted: dict[str, list[tuple[int, float]]]) -> str | None:
    """``rows``: relpath, values — the numbers of each series file in
    order, every point's ``t`` then ``v``."""
    got = {rel: list(vals) for rel, vals in rows[["relpath", "values"]].itertuples(index=False)}
    if sorted(got) != sorted(planted):
        return f"numeric files {len(got)} != planted {len(planted)}"
    for rel, pts in planted.items():
        want = [x for t, v in pts for x in (float(t), v)]
        g = got[rel]
        if len(g) != len(want) or not all(_close(a, b) for a, b in zip(g, want)):
            return f"{rel}: extracted numbers differ from planted"
    return None


def tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
