"""The repository benchmark: one workload per run, closed loop, one client.

Run from the root of a checkout::

    python3 perfbench/run.py --workload chess_lake --seed 1 --seconds 5 --trace 0

The run generates its inputs from ``--seed`` under ``.perfbench/`` in the
checkout, brings Spark up on ``local[<cores>]``, runs the workload's
operations one after another until ``--seconds`` have passed (at least one
full pass), checks the outputs, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the public functions of the program's modules are wrapped in spans and the
metrics are the per-layer ones. Each run also writes a record with its
input sizes, host facts, all workload metrics and the per-layer table to
``.perfbench/records/``. See ``perfbench/README.md`` for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import host  # noqa: E402
import workloads  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
END_TO_END = ("setup_s", "pass_s")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def result_line(declared: dict, values: dict[str, float], traced: bool, correct: bool,
                attempted: int, failed: int) -> dict:
    """The closing JSON object: exactly the declared end-to-end metrics, or
    with tracing exactly the declared per-layer ones (0 for a layer the
    workload never enters)."""
    group = declared["per_layer" if traced else "end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in group}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    args = _parse(argv)
    root = Path.cwd()
    if not (root / "chess_lakehouse_spark" / "__init__.py").is_file() or not (
        root / "scripts" / "pipeline_cli.py"
    ).is_file():
        print("perfbench: run from the root of a checkout of the program "
              "(chess_lakehouse_spark/ and scripts/pipeline_cli.py not found)", file=sys.stderr)
        return 2
    declared = json.loads((root / "BENCHMARK.json").read_text())
    work = root / ".perfbench" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # the JVM's temporary files, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")])),
    })
    sys.path[:0] = [str(root), str(root / "scripts")]

    facts = host.facts(cores)
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    tracer = None
    phases = facts["phases_s"] = {}  # where the run's own wall time goes
    t0 = started

    def phase(name: str) -> None:
        nonlocal t0
        phases[name] = time.perf_counter() - t0
        t0 = time.perf_counter()

    try:
        phase("start")
        wl.generate()
        phase("generate")
        tracer = workloads.start_tracer() if args.trace else None
        setups = [wl.setup(k) for k in range(SETUPS)]
        phase("setups")
        if tracer is not None:
            tracer.active = False  # the warm-up is neither timed nor traced
        wl.warm_up()
        if tracer is not None:
            tracer.active = True
        phase("warm_up")
        wl.run(args.seconds, tracer)
        phase("run")
        if tracer is not None:
            tracer.active = False
        checks = wl.check()
        phase("check")
        facts["loadavg_end"] = host.loadavg()
        facts["peak_rss_mb"] = host.peak_rss_mb(wl.spark)
    finally:
        if tracer is not None:
            tracer.uninstall()
        workloads.shutdown(wl.spark)
    phase("shutdown")
    phases["total"] = time.perf_counter() - started

    e2e = dict(zip(END_TO_END, (statistics.median(setups), statistics.median(wl.pass_walls))))
    attempted = len(wl.ops)
    # an operation whose output check fails counts as failed
    failed = min(attempted, sum(1 for op in wl.ops if op.error)
                 + sum(1 for ok in checks.values() if not ok))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": facts, "inputs": wl.inputs,
        "setups_s": setups, "passes_s": wl.pass_walls,
        "ops": [op.as_dict() for op in wl.ops], "checks": checks,
        "known_failures": wl.known_failures,
        "end_to_end": e2e, "workload_metrics": wl.workload_metrics(),
    }
    if tracer is not None:
        record["per_layer"] = workloads.per_layer(wl, tracer)
        record["per_layer"]["peak_rss_mb"] = sum(facts["peak_rss_mb"].values())
        record["tracing_overhead"] = workloads.tracing_overhead(
            wl, root / ".perfbench" / "records", args.workload)
        if args.workload == "chess_lake":
            record["find_openings_accounting"] = workloads.find_openings_accounting(wl, tracer)
    records = root / ".perfbench" / "records"
    records.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (records / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    if tracer is not None:
        (records / f"{stem}.spans.json").write_text(json.dumps(
            {"spans": [vars(s) for s in tracer.spans], "jobs": [vars(j) for j in tracer.jobs]}))
    shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    # only declared metrics are printed; the record keeps the rest
    for name, value in [*e2e.items(), *sorted(record["workload_metrics"].items())]:
        if name in units:
            print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    for name, ok in checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    for kf in wl.known_failures:
        print(f"known failure: {kf}")
    values = record["per_layer"] if tracer is not None else e2e
    print(json.dumps(result_line(declared, values, bool(args.trace), all(checks.values()),
                                 attempted, failed)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
