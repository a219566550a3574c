"""Tests of the benchmark's own machinery (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402


def _files(root: Path) -> dict[str, bytes]:
    return {p.relative_to(root).as_posix(): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _make_star(d: Path, seed: int) -> Path:
    inputs.write_star(d, np.random.default_rng(seed), sf=0.001, n_docs=200, n_emb=100)
    return d


def _make_tree(d: Path, seed: int) -> Path:
    inputs.write_tree(d, np.random.default_rng(seed), 2, 2, 2, 20)
    return d


@pytest.mark.parametrize("make", [_make_star, _make_tree])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make):
    a = _files(make(tmp_path / "a", 7))
    b = _files(make(tmp_path / "b", 7))
    c = _files(make(tmp_path / "c", 8))
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_documents_plant_requested_duplicates():
    table, plan = inputs.documents_table(np.random.default_rng(3), 2000, 0.02, 0.05)
    texts = table.column("text").to_pylist()
    assert all(texts[i] == texts[j] for i, j in plan.exact)
    assert all(texts[i] == f"{texts[j]} {inputs.DUP_MARK}" for i, j in plan.near)
    assert 0.01 < len(plan.exact) / 2000 < 0.03 and 0.035 < len(plan.near) / 2000 < 0.065


def test_p90_withheld_below_ten_samples_beyond_it():
    assert stats.tail_percentile([float(i) for i in range(99)], 90) is None
    assert stats.tail_percentile([float(i) for i in range(100)], 90) == 89.0
    assert stats.tail_percentile([], 90) is None


def test_warmup_rule_stops_when_rounds_stop_falling():
    assert not stats.warmed_up([30.0, 5.0], 3, 6, 0.05, 1)
    assert not stats.warmed_up([30.0, 5.0, 4.0], 3, 6, 0.05, 1)  # still 20% faster
    assert stats.warmed_up([30.0, 5.0, 4.0, 3.9], 3, 6, 0.05, 1)  # within 5% of the round before
    assert stats.warmed_up([30.0, 9.0, 8.0, 7.0, 6.0, 5.0], 3, 6, 0.05, 1)  # round cap
    falling = [30.0, 2.0, 1.9, 1.8, 1.6, 1.5, 1.4, 1.3]
    assert not stats.warmed_up(falling, 7, 16, 0.05, 3)  # windows 1.8 -> 1.4
    # one fast round among slow ones does not end warm-up...
    assert not stats.warmed_up([30.0, 2.0, 1.9, 1.8, 1.7, 1.0, 1.6, 1.5], 7, 16, 0.05, 3)
    # ...while a flat stretch does
    assert stats.warmed_up([30.0, 2.0, 1.2, 1.1, 1.15, 1.1, 1.12, 1.08], 7, 16, 0.05, 3)


def test_query_check_rejects_one_altered_row(tmp_path):
    import __spark_entry__

    data = _make_star(tmp_path / "star", 11)
    con = checks.duckdb_oracle(data, inputs.STAR_TABLES)
    sql = __spark_entry__.oracle_sql()["q01_pricing_summary"]
    want = con.execute(sql).df()
    assert len(want) > 1
    assert checks.check_query(want.sample(frac=1.0, random_state=1), con, sql) is None
    bad = want.copy()
    col = [c for c in bad.columns if pd.api.types.is_float_dtype(bad[c])][0]
    bad.loc[bad.index[0], col] += 0.01
    assert checks.check_query(bad, con, sql) is not None
    assert checks.check_query(want.iloc[1:], con, sql) is not None
    con.close()


def _tree_outputs(plan: inputs.TreePlan):
    series = pd.DataFrame(
        [(rel, float(t), v) for rel, pts in plan.series.items() for t, v in pts], columns=["relpath", "t", "v"]
    )
    loads = pd.DataFrame([{**r, "relpath": rel} for rel, rs in plan.loads.items() for r in rs])
    labels = pd.DataFrame([("/".join(k), v) for k, v in plan.labels.items()], columns=["relpath", "label"])
    return series, loads, labels


def test_tree_checks_reject_one_altered_row(tmp_path):
    plan = inputs.write_tree(tmp_path, np.random.default_rng(5), 2, 2, 2, 20)
    series, loads, labels = _tree_outputs(plan)
    assert checks.check_series(series, plan.series) is None
    assert checks.check_loads(loads, plan.loads, inputs.LOAD_COLS) is None
    assert checks.check_labels(labels, plan.labels) is None
    numbers = pd.DataFrame(
        [(rel, [x for t, v in pts for x in (float(t), v)]) for rel, pts in plan.series.items()],
        columns=["relpath", "values"],
    )
    assert checks.check_numbers(numbers, plan.series) is None

    s = series.copy()
    s.loc[3, "v"] += 0.001
    assert checks.check_series(s, plan.series) is not None
    ld = loads.copy()
    ld.loc[2, "torque"] += 0.001
    assert checks.check_loads(ld, plan.loads, inputs.LOAD_COLS) is not None
    lb = labels.copy()
    lb.loc[0, "label"] = "wrong"
    assert checks.check_labels(lb, plan.labels) is not None
    nb = numbers.copy()
    nb.at[1, "values"] = nb.at[1, "values"][:-1] + [nb.at[1, "values"][-1] + 1.0]
    assert checks.check_numbers(nb, plan.series) is not None
