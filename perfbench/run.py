"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_light --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The command generates the workload's inputs
from ``--seed`` under ``.perfbench/`` in the checkout, runs the workload in a
fresh interpreter (``perfbench/workload.py``) on ``local[<nproc>]`` with the
program's own session defaults, checks every result against its reference,
prints one line per metric (name, value, unit, sample count) and, last, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; ``--trace 1`` also writes
a Spark event log and returns the per-layer ones. The full record of a run
(validity facts, failures, per-entry and per-trigger detail, spans and layer
self times) is written to ``.perfbench/out/<workload>-seed<n>-trace<t>.json``.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

WORKLOADS = ("batch_light", "stream_events")
# sf0.01: fixed per-query cost dominates batch_light at this size and at
# sf0.1 alike, and the smaller tables keep data generation and the oracle
# check short
BATCH_SF = 0.01
# 2 files/s arrive faster than one-file micro-batches drain, so the backlog
# never empties before the last file and no watermark-only batch interleaves
STREAM_PERIOD_S = 0.5
STREAM_FILES_PER_S = 0.4  # measured files per second of --seconds
STREAM_EVENTS_PER_FILE = 2000
RUN_LIMIT_S = 170.0


def _metric_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _die(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def _wait_group(pgid: int, seconds: float) -> bool:
    """True once no process of group ``pgid`` is left, polling up to ``seconds``."""
    end = time.monotonic() + seconds
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return True
        if time.monotonic() >= end:
            return False
        time.sleep(0.1)


def _stop_group(child: subprocess.Popen) -> None:
    """SIGTERM, then SIGKILL, the child's whole process group, and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            return
        try:
            child.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
        if _wait_group(child.pid, 10.0):
            return


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("zio_analytics_spark/session.py", "zio_analytics_spark/catalog.py", "scripts/verify_oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            _die(f"{need} not found: run from the root of a checkout of the program", 2)

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work")
    tmp = os.path.join(base, "tmp")
    data = os.path.join(base, "data")
    for d in (work, tmp, data):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(base, "out"), exist_ok=True)

    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "repo_root": root,
        "work_dir": work,
        "out_path": os.path.join(work, "result.json"),
    }
    if args.workload == "batch_light":
        spec["inputs"] = datagen.write_tables(data, args.seed, BATCH_SF)
        spec["data_dir"] = data
    else:
        plan = datagen.StreamPlan(
            files=datagen.StreamPlan.warmup_files + max(3, round(args.seconds * STREAM_FILES_PER_S)),
            period_s=STREAM_PERIOD_S,
            events_per_file=STREAM_EVENTS_PER_FILE,
        )
        meta = datagen.stream_files(plan, args.seed, data)
        meta["truth"] = os.path.join(data, "truth.parquet")
        spec["stream_plan"] = plan.__dict__
        spec["stream_meta"] = meta

    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
        # keep the JVM's temp files and perf-data inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spec_path = os.path.join(work, "spec.json")
    spec["spawned_at"] = time.monotonic()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "workload.py"), spec_path],
        cwd=work,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = child.wait(timeout=RUN_LIMIT_S - (time.monotonic() - spec["spawned_at"]))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the JVM and the Python workers share the child's process group
        if child.poll() is not None:
            _wait_group(child.pid, 5.0)
        _stop_group(child)
    if rc is None:
        _die(f"run exceeded {RUN_LIMIT_S:.0f} s", 3)
    if rc != 0 or not os.path.isfile(spec["out_path"]):
        _die(f"workload process exited with code {rc}", 4)
    with open(spec["out_path"]) as f:
        res = json.load(f)
    res["report"]["run_wall_s"] = time.monotonic() - spec["spawned_at"]
    res["report"]["exit_s"] = time.monotonic() - res["report"]["finished_at"]

    record = os.path.join(base, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        untraced = os.path.join(base, "out", f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                ref = json.load(f)
            ref = {**ref["e2e"], **ref["wall"]}
            res["report"]["tracing_overhead"] = {k: v - ref[k] for k, v in {**res["e2e"], **res["wall"]}.items()}
    res["inputs"] = spec.get("inputs") or {"files": len(spec["stream_meta"]["files"]), "events_per_file": STREAM_EVENTS_PER_FILE}
    with open(record, "w") as f:
        json.dump(res, f, indent=1, default=str)

    units = _metric_units("per_layer" if args.trace else "end_to_end")
    shown = res["per_layer"] if args.trace else {**res["e2e"], **res["wall"]}
    metrics = {name: {"value": shown[name], "unit": unit} for name, unit in units.items()}
    bad = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        _die(f"no value measured for {bad}; record in {record}", 5)
    for f in res["failures"]:
        print(f"FAILED {json.dumps(f)}")
    print(f"validity {json.dumps(res['validity'])}")
    print(f"error_rate {res['failed'] / res['attempted']:.6g} ratio (n={res['attempted']})")
    for name, value in shown.items():
        unit = "MB" if name.endswith("_mb") else "s"
        print(f"{name} {value!r} {units.get(name, unit)} (n={res['samples'].get(name, 1)})")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
