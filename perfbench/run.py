"""Benchmark of the batch engine: one workload, one seed, one JSON result.

Usage, from the repository root:

    python3 perfbench/run.py --workload catalog_steady --seed 1 --seconds 10 --trace 0

The run generates its inputs from ``--seed`` under ``.perfbench-work/``,
starts the engine through ``session.get_spark`` with deployment
settings only (cores, driver heap, local and temp dirs), warms up until
round time stops falling, then runs one client in a closed loop for
``--seconds`` in whole rounds, checks every output, and prints two JSON
lines: a run record (drift stamp, input properties, check details) and,
last, the result ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: its loop alternates untraced and traced rounds,
states the tracing overhead between the two, and writes
the spans to ``.perfbench-out/``. The metric names and units come from
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import host  # noqa: E402
import stats  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DRIVER_HEAP = "4g"
WARM_TOL = 0.05



def metric_units(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, as BENCHMARK.json lists them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path, cpus: int) -> None:
    """Keep every file the engine writes inside the work dir."""
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = "1"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: Path, cpus: int):
    from batch_process_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from pyspark import SparkContext

    tree = host.process_tree()[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in tree:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class Loop:
    """One closed-loop client running whole rounds in a seeded order."""

    def __init__(self, wl, order: random.Random):
        self.wl = wl
        self.order = order
        self.req = 0
        self.errors: list[str] = []

    def round(self, samples: list, shuffle: bool = True) -> float:
        items = self.wl.items()
        if shuffle:
            self.order.shuffle(items)
        t_round = time.perf_counter()
        for item in items:
            t0 = time.perf_counter()
            ok = True
            try:
                self.wl.request(item, self.req)
            except Exception as exc:  # a failed request is counted, the run goes on
                ok = False
                self.errors.append(f"{item}: {type(exc).__name__}: {exc}"[:500])
            samples.append((item, time.perf_counter() - t0, ok))
            self.req += 1
        return time.perf_counter() - t_round

    def measure(self, seconds: float, tracer=None) -> dict[bool, tuple[list, list[float]]]:
        """Whole rounds until ``seconds`` have passed. With a tracer, rounds
        alternate untraced and traced, so both see the same warm-up drift.
        Returns traced flag -> (samples, round times)."""
        out: dict[bool, tuple[list, list[float]]] = {False: ([], []), True: ([], [])}
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            traced = tracer is not None and len(out[False][1]) > len(out[True][1])
            if tracer is not None:
                tracer.enabled = traced
            samples, rounds = out[traced]
            rounds.append(self.round(samples))
        if tracer is not None:
            tracer.enabled = False
        return out


def layer_metrics(wl, tracer, ledger, n_ops: int) -> dict[str, float]:
    ledger.book(tracer)
    self_t = tracer.self_times()

    def per_op_s(name: str) -> float:
        return sum(self_t[sp.id] for sp in tracer.spans if sp.name == name) / n_ops

    m = {
        name + "_s": per_op_s(name)
        for name in ("queries.build", "queries.exec", "sources.list", "sources.read",
                     "sources.parse", "plans.compile", "plans.run", "sinks.write", "sinks.compact")
    }
    q = [sp.spark for sp in tracer.by_layer("queries.")]
    jobs = sum(s["jobs"] for s in q)
    skews = [x for s in q for x in s["skews"]]
    m.update({
        "queries.jobs_per_op": jobs / n_ops,
        "queries.stages_per_op": sum(s["stages"] for s in q) / n_ops,
        "queries.tasks_per_op": sum(s["tasks"] for s in q) / n_ops,
        "queries.s_per_job": (m["queries.exec_s"] * n_ops / jobs) if jobs else 0.0,
        "queries.shuffle_write_mb_per_op": sum(s["shuffle_write_bytes"] for s in q) / 1e6 / n_ops,
        "queries.spill_mb_per_op": sum(s["spill_bytes"] for s in q) / 1e6 / n_ops,
        "queries.task_skew": spans.median_or_zero(skews),
        "queries.plan_cache_hit_ratio": (wl.cache_hits / wl.calls) if getattr(wl, "calls", 0) else 0.0,
    })
    tree_stats = getattr(wl, "stats", None)
    if tree_stats and wl.requests:
        m.update({
            "sources.files_per_op": tree_stats["files_read"] / wl.requests,
            "sinks.written_mb_per_op": tree_stats["written_bytes"] / 1e6 / wl.requests,
            "sinks.files_per_op": tree_stats["files_written"] / wl.requests,
            "sinks.files_after_compact_per_op": tree_stats["files_compacted"] / wl.requests,
        })
    return m


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    import numpy as np

    cpus = len(os.sched_getaffinity(0))
    configure_env(work, cpus)
    stamp = host.DriftStamp(DRIVER_HEAP)
    wl = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    props = wl.prepare(work, np.random.default_rng(args.seed))
    inputs_s = time.perf_counter() - t0

    sampler = host.TreeSampler()
    t_setup = time.perf_counter()
    spark = start_session(work, cpus)
    try:
        session_start_s = time.perf_counter() - t_setup
        sc = spark.sparkContext
        tracer = spans.Tracer(False, sc)
        wl.start(spark, tracer)
        loop = Loop(wl, random.Random(args.seed))
        warm: list[float] = []
        warm_samples: list = []
        min_rounds, max_rounds, window = wl.warm_rounds
        while not stats.warmed_up(warm, min_rounds, max_rounds, WARM_TOL, window):
            warm.append(loop.round(warm_samples, shuffle=False))
        setup_s = time.perf_counter() - t_setup
        # the engine's scan-layout repair copies: which tables it rewrote, and how much
        layout = [d for base in (work / "tmp").glob("bps_layout_*") for d in base.iterdir()]
        layout_mb = sum(checks.tree_bytes(d) for d in layout) / 1e6
        layout_tables = sorted(d.name.rsplit("-", 1)[0] for d in layout)

        def ops_per_s(rounds: list[float]) -> float:
            """Requests per second at the median round: one slow round
            (a GC pause, a noisy neighbour) does not move it."""
            return len(wl.items()) / statistics.median(rounds)

        wl.reset_counters()
        gc0, cpu0 = spans.jvm_gc_s(sc), host.tree_cpu_s(host.process_tree())
        if args.trace:
            loops = loop.measure(args.seconds, tracer)
        else:
            loops = loop.measure(args.seconds)
        samples, rounds = loops[bool(args.trace)]
        all_samples = loops[False][0] + loops[True][0]
        gc_s = spans.jvm_gc_s(sc) - gc0
        cpu_s = host.tree_cpu_s(host.process_tree()) - cpu0
        sampler.close()

        n = len(samples)
        metrics: dict[str, float]
        if args.trace:
            metrics = layer_metrics(wl, tracer, spans.SparkLedger(sc), n)
            metrics.update({
                "session.start_s": session_start_s,
                "session.gc_s_per_op": gc_s / len(all_samples),
                "session.cpu_s_per_op": cpu_s / len(all_samples),
                "queries.layout_written_mb": layout_mb,
                "trace.overhead_pct": (ops_per_s(loops[False][1]) / ops_per_s(rounds) - 1.0) * 100.0,
            })
            out_dir = ROOT / ".perfbench-out"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl")
        else:
            lat = [s for _, s, _ in samples]
            metrics = {
                "setup_s": setup_s,
                "ops_per_s": ops_per_s(rounds),
                "latency_p50_s": statistics.median(lat),
            }

        check = wl.check()
    finally:
        sampler.close()
        stop_session(spark)

    bad = {k for k, v in check.items() if v}
    failed = sum(1 for item, _, ok in all_samples if not ok or item in bad)
    lat = [s for _, s, _ in samples]
    per_item: dict[str, list[float]] = {}
    for item, s, _ in samples:
        per_item.setdefault(item, []).append(s)
    units = metric_units(args.trace)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamp": stamp.finish(),
        "inputs": props,
        "inputs_s": round(inputs_s, 4),
        "layout_rewritten": layout_tables,
        "session_start_s": round(session_start_s, 4),
        "warmup_round_s": [round(x, 4) for x in warm],
        "cold_item_s": {item: round(s, 4) for item, s, _ in warm_samples[: len(wl.items())]},
        "samples": n,
        "measured_round_s": [round(x, 4) for x in rounds],
        "peak_rss_mb": round(sampler.peak_rss / 1e6, 2),
        "latency_p90_s": stats.tail_percentile(lat, 90),
        "item_median_s": {k: round(statistics.median(v), 4) for k, v in sorted(per_item.items())},
        "checks": check,
        "errors": loop.errors[:10],
    }
    result = {
        "correct": not bad and not loop.errors,
        "attempted": len(all_samples),
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "batch_process_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench-work" / f"{args.workload}-{os.getpid()}"
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for item, problem in record["checks"].items():
        if problem:
            print(f"perfbench: check failed for {item}: {problem}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
