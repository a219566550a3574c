"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed and writes plain files; the engine only ever sees those files.
The same seed gives byte-identical files (parquet is written without
timestamps or writer-version drift, one file and one row group per
table — the layout the engine's scan-layout repair is built for).

- ``write_star``: the star schema plus ``events``/``documents``/
  ``embeddings`` with the column names, types and value domains of the
  catalog's test tables, at a row scale given by ``sf``. At sf=0.01 and
  sf=0.1 the row counts, key cardinalities and file sizes (within 2%
  for every table of 100 KB or more) match the catalog's test tables of
  that scale, and words per document (about 55) and duplicate rates
  (about 5% near, under 0.5% exact) are close to theirs, so the
  engine's size gates take the same branches on both.
- ``write_tree``: a directory tree of numeric series, fixed-format load
  reports and label maps; returns what was planted so outputs can be
  checked against it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_MARK = "dup"
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
SPAN_WORDS = 8  # the span kernel's window (queries_ext15._SPAN_WORDS)

_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _write(table: pa.Table, path: Path) -> None:
    # one file, one row group, no statistics drift between runs
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    d = _EPOCH_1995 + rng.integers(lo_day, hi_day, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def gen_texts(rng: np.random.Generator, n: int, min_words: int = 10, max_words: int = 100) -> list[str]:
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(min_words, max_words + 1, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos : pos + k]))
        pos += k
    return out


@dataclass
class CorpusPlan:
    """What ``documents_table`` planted: index pairs (copy, original)."""

    n_docs: int = 0
    exact: list[tuple[int, int]] = field(default_factory=list)
    near: list[tuple[int, int]] = field(default_factory=list)


def documents_table(
    rng: np.random.Generator, n: int, exact_rate: float = 0.0, near_rate: float = 0.0
) -> tuple[pa.Table, CorpusPlan]:
    """``documents`` rows; a share of docs are exact copies of an earlier
    doc, another share near copies (an earlier doc plus a marker word)."""
    texts = gen_texts(rng, n)
    plan = CorpusPlan(n_docs=n)
    kind = rng.random(n)
    for i in range(1, n):
        src = int(rng.integers(0, i))
        if kind[i] < exact_rate:
            texts[i] = texts[src]
            plan.exact.append((i, src))
        elif kind[i] < exact_rate + near_rate:
            texts[i] = f"{texts[src]} {DUP_MARK}"
            plan.near.append((i, src))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, plan


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_star(out: Path, rng: np.random.Generator, sf: float, n_docs: int, n_emb: int) -> CorpusPlan:
    """TPC-H-shaped tables at row scale ``sf`` (sf=1: 6M lineitem rows)."""
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}), out / "region.parquet")
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        out / "nation.parquet",
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _choice(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        out / "customer.parquet",
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        out / "supplier.parquet",
    )
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": _choice(rng, [f"{a} {b}" for a in adjs for b in nouns], n_part),
                "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        out / "part.parquet",
    )
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, 0, 2404, n_ord),
                "o_orderpriority": _choice(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        out / "orders.parquet",
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
                "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _choice(rng, ["F", "O"], n_li),
                "l_shipdate": _days(rng, 1, 2499, n_li),
            }
        ),
        out / "lineitem.parquet",
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(1, int(n_ev * 0.015)), n_ev), pa.int64()),
                "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
            }
        ),
        out / "events.parquet",
    )
    docs, plan = documents_table(rng, n_docs, exact_rate=0.002, near_rate=0.05)
    _write(docs, out / "documents.parquet")
    _write(embeddings_table(rng, n_emb), out / "embeddings.parquet")
    return plan


# --- file tree ---------------------------------------------------------------

LOAD_COLS = ["torque", "flap_moment", "lag_moment", "axial_force", "chord_force", "normal_force"]


@dataclass
class TreePlan:
    """What ``write_tree`` planted, keyed by path relative to the root."""

    series: dict[str, list[tuple[int, float]]] = field(default_factory=dict)
    loads: dict[str, list[dict]] = field(default_factory=dict)
    labels: dict[tuple[str, str], str] = field(default_factory=dict)  # (dir, name) -> label
    n_files: int = 0
    n_bytes: int = 0


def _report(rng: np.random.Generator, n_blades: int, stations: list[float]) -> tuple[str, list[dict]]:
    radius = round(float(rng.uniform(5, 12)), 2)
    rpm = round(float(rng.uniform(150, 400)), 1)
    lines = [" ROTOR 1", f" RADIUS (M) =  {radius:.2f}", f" ... ROTATIONAL SPEED (RPM) =  {rpm:.1f}",
             " COUNTER ROTATION DIRECTION", " OPERATING CONDITION"]
    rows = []
    for blade in range(1, n_blades + 1):
        for st in stations:
            lines.append(f" OUTPUT = ROTOR 1 BLADE {blade} LOAD {st:.2f}R F")
            stats = {k: np.round(rng.uniform(-500, 500, 6), 3) for k in ("MEAN", "MAXIMUM", "MINIMUM")}
            p2p = np.round(rng.uniform(0, 300, 6), 3)
            for k, v in stats.items():
                lines.append(f" {k:<9} " + " ".join(f"{x:.3f}" for x in v))
            lines.append(" 1/2 PEAK-TO-PEAK  " + " ".join(f"{x:.3f}" for x in p2p))
            for psi in (0.0, 90.0, 180.0, 270.0):
                lines.append(f" PSI =  {psi:.1f} " + " ".join(f"{x:.3f}" for x in np.round(rng.uniform(-9, 9, 6), 3)))
            base = {"rotor": 1, "blade": blade, "radius": radius, "rpm": rpm, "rotation": "counter", "station_r": st}
            rows.append({**base, "load_kind": "mean", **dict(zip(LOAD_COLS, stats["MEAN"].tolist()))})
            rows.append({**base, "load_kind": "amplitude", **dict(zip(LOAD_COLS, p2p.tolist()))})
    return "\n".join(lines) + "\n", rows


def write_tree(
    root: Path, rng: np.random.Generator, n_groups: int, runs_per_group: int,
    series_per_run: int, points_per_series: int,
) -> TreePlan:
    """``root/g<i>/r<j>/s<k>.txt`` numeric series (``t=<n> v=<x>`` lines
    between comment and junk lines), one ``report.out`` load report per
    run, one ``_dict.txt`` label map per group."""
    plan = TreePlan()
    stations = [0.25, 0.5, 0.75, 1.0]
    for g in range(n_groups):
        gdir = root / f"g{g}"
        gdir.mkdir(parents=True, exist_ok=True)
        dict_lines = ["# run labels"]
        for r in range(runs_per_group):
            rdir = gdir / f"r{r}"
            rdir.mkdir(exist_ok=True)
            label = f"case_{g}_{r}_{int(rng.integers(0, 1000))}"
            dict_lines.append(f"r{r} {label}")
            plan.labels[(f"g{g}", f"r{r}")] = label
            for k in range(series_per_run):
                vals = np.round(rng.normal(0, 100, points_per_series), 3)
                pts = [(t, float(v)) for t, v in enumerate(vals)]
                body = [f"# series g{g}/r{r}/s{k}", "units: kN"]
                body += [f"t={t} v={v:.3f}" for t, v in pts]
                body.append("end of series")
                rel = f"g{g}/r{r}/s{k}.txt"
                (root / rel).write_text("\n".join(body) + "\n")
                plan.series[rel] = pts
            text, rows = _report(rng, n_blades=int(rng.integers(2, 5)), stations=stations)
            rel = f"g{g}/r{r}/report.out"
            (root / rel).write_text(text)
            plan.loads[rel] = rows
        (gdir / "_dict.txt").write_text("\n".join(dict_lines) + "\n")
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            plan.n_files += 1
            plan.n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return plan


def dir_properties(path: Path) -> dict:
    """Rows and bytes of each parquet table under ``path``."""
    out = {}
    for f in sorted(path.glob("*.parquet")):
        out[f.stem] = {"rows": pq.ParquetFile(f).metadata.num_rows, "bytes": f.stat().st_size}
    return out


def span_rows_estimate(documents: Path) -> int:
    """docs x (avg words - SPAN_WORDS + 1): the estimate the engine's span
    sizing gate compares with its 16M-row threshold."""
    texts = pq.read_table(documents, columns=["text"]).column("text").to_pylist()
    if not texts:
        return 0
    avg = sum(len(t.split(" ")) for t in texts) / len(texts)
    return int(len(texts) * max(avg - SPAN_WORDS + 1, 1.0))
