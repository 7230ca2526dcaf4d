#!/usr/bin/env python3
"""Pipeline benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload ingest_label_write --seed 7 --seconds 20 --trace 0

Steps: generate the seeded inputs under ``.perfbench_work/``; start a
``local[nproc]`` session; run the workload once (warm-up) and check its
output against the DuckDB oracle at those inputs; then repeat the
workload for ``--seconds`` seconds, checking every run's output checksum
against the oracle-verified one. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``:
end-to-end metrics with ``--trace 0``; with ``--trace 1``, untraced and
traced runs alternate and the per-layer metrics come from the traced ones.
The line before it stamps the host and session; spans and stamps are also
written to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
# import the benchmark as the ``perfbench`` package from the repo root, so
# its module names never shadow standard-library ones (``trace``)
if sys.path and Path(sys.path[0]).resolve() == ROOT / "perfbench":
    sys.path[0] = str(ROOT)
DEFAULT_SEED = 2004
EXIT_NO_PROGRAM = 2



def _units(kind: str) -> dict[str, str]:
    """Metric name → unit, for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: Path) -> dict:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``; give the workers the repo on PYTHONPATH (they are launched
    by the JVM, not from the repo root)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = str(tmp)
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def _settle(spark, budget_s: float = 5.0) -> None:
    """Before a timed run: wait (bounded) until the JIT compiler has gone
    quiet, then collect garbage, so a run does not pay for compilation
    queued by the previous one or for its garbage."""
    jvm = spark.sparkContext._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    deadline = time.perf_counter() + budget_s
    last = jit.getTotalCompilationTime()
    while time.perf_counter() < deadline:
        time.sleep(0.5)
        now = jit.getTotalCompilationTime()
        if now - last < 20:  # ms of compilation in the last half second
            break
        last = now
    jvm.System.gc()


def _layer_metrics(wl, tr) -> dict[str, float]:
    from perfbench.trace import MB, reportable, self_times

    spans = tr.spans
    selft = self_times(spans)
    by = {s.name: s for s in spans}
    root = by["run"]
    m: dict[str, float] = {}
    for s in spans:
        m[f"{s.name}.s"] = m.get(f"{s.name}.s", 0.0) + selft[s.id]
    rc = root.counters
    m.update({
        "session.task_s": rc["run_ms"] / 1e3,
        "session.cpu_busy": tr.cpu_busy(root),
        "session.shuffle_mb": rc["shuffle_write_b"] / MB,
        "session.spill_mb": rc["spill_b"] / MB,
        "session.gc_s": rc["gc_ms"] / 1e3,
        "session.failed_tasks": rc["failed_tasks"],
        "bench.unattributed_s": selft[root.id],
    })
    m.update(wl.layer_metrics(by, tr))
    for k, vals in tr.plans.items():
        if vals:
            m[f"plans.{k}.p50"] = reportable(vals)["p50"]
    return m


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "vlm_data_pipeline_spark").is_dir():
        print(f"program package vlm_data_pipeline_spark not found under {ROOT}", file=sys.stderr)
        return EXIT_NO_PROGRAM
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return EXIT_NO_PROGRAM
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    conf = _isolate(work)
    try:
        return _bench(args, WORKLOADS[args.workload](), work, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args, wl, work: Path, conf: dict) -> int:
    import bench  # the repo's quiet-box probe

    from perfbench.trace import RssSampler, Tracer, median, reportable, storage_mb

    foreign_jvms = bench._foreign_jvms()
    cores = len(os.sched_getaffinity(0))

    t = time.perf_counter()
    wl.prepare(args.seed, str(work / "data"))
    input_gen_s = time.perf_counter() - t

    from vlm_data_pipeline_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", cpus=cores, extra_conf=conf)
    start_s = time.perf_counter() - t
    rss = RssSampler()
    try:
        # warm-up: the first run, also the one checked against the oracle
        t = time.perf_counter()
        ref = wl.run(spark, Tracer(spark, False, cores), canonical=True)
        spark.catalog.clearCache()
        warmup_s = time.perf_counter() - t
        t = time.perf_counter()
        expected = wl.oracle()
        oracle_s = time.perf_counter() - t
        correct = all(ref.get(k) == v for k, v in expected.items())
        if not correct:
            print(f"oracle mismatch: spark={ref} oracle={expected}", file=sys.stderr)
        verified = {k: v for k, v in ref.items() if not k.endswith(".canonical")}
        _settle(spark)
        setup_s = time.perf_counter() - T_START - input_gen_s - oracle_s

        walls, traced, stored = [], [], []
        attempted = failed = 0
        t_measure = time.perf_counter()
        while True:
            trace_this = bool(args.trace) and attempted % 2 == 1
            tr = Tracer(spark, trace_this, cores)
            rss.active = not trace_this
            t = time.perf_counter()
            try:
                with tr.span("run"):
                    got = wl.run(spark, tr)
                wall = time.perf_counter() - t
                tr.finish()
                if tr.open_stages:
                    print(f"{tr.open_stages} stages still not final after the run; "
                          "their counters may be partial", file=sys.stderr)
                ok = got == verified
                if not ok:
                    print(f"checksum mismatch: {got} != {verified}", file=sys.stderr)
            except Exception:
                traceback.print_exc()
                ok = False
                wall = time.perf_counter() - t
            rss.active = False
            stored_mb = storage_mb(spark)  # before clearing: what the run left cached
            spark.catalog.clearCache()
            attempted += 1
            failed += not ok
            if not trace_this:
                walls.append(wall)
                stored.append(stored_mb)
            elif ok:
                traced.append((wall, tr))
            # with --trace 1, stop after a traced run so both kinds ran
            if time.perf_counter() - t_measure >= args.seconds and (
                not args.trace or attempted % 2 == 0
            ):
                break
            _settle(spark)

        stamp = {
            "workload": wl.name, "seed": args.seed, "nproc": cores,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "conf": dict(sorted(spark.sparkContext.getConf().getAll())),
            "foreign_jvms": foreign_jvms, "input_rows": wl.rows,
            "input_gen_s": input_gen_s, "oracle_s": oracle_s,
            "run_walls_s": walls, "verified": {k: list(v) for k, v in verified.items()},
        }
        if args.trace:
            units = _units("per_layer")
            layer = {k: 0.0 for k in units}
            per_run = [_layer_metrics(wl, tr) for _, tr in traced]
            for k in units:
                vals = [m[k] for m in per_run if k in m]
                if vals:
                    layer[k] = median(vals)
            layer["session.start_s"] = start_s
            layer["session.warmup_s"] = warmup_s
            layer["session.storage_mb_after_run"] = median(stored)
            if traced:
                layer["bench.trace_overhead_s"] = median([w for w, _ in traced]) - median(walls)
            metrics = {k: _metric(v, units[k]) for k, v in layer.items()}
            stamp["open_stages"] = [tr.open_stages for _, tr in traced]
            stamp["spans"] = [
                [[s.name, s.parent, s.start, s.end, s.counters, s.attrs] for s in tr.spans]
                for _, tr in traced
            ]
            stamp["plans"] = [
                {k: {"n": len(v), **reportable(v)} for k, v in tr.plans.items() if v}
                for _, tr in traced
            ]
        else:
            run_wall = median(walls)
            values = {
                "setup_s": setup_s,
                "run_wall_s": run_wall,
                "input_rows_per_s": wl.rows / run_wall,
                "peak_rss_mb": rss.peak_mb,
            }
            metrics = {k: _metric(values[k], u) for k, u in _units("end_to_end").items()}
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(
            json.dumps(stamp, default=str, indent=1)
        )
        stamp.pop("spans", None)
        stamp.pop("plans", None)
        print(json.dumps({"stamp": stamp}, default=str))
        print(json.dumps({
            "correct": bool(correct and failed == 0),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        rss.close()
        _stop(spark)


if __name__ == "__main__":
    sys.exit(main())
