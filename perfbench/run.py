"""Benchmark entry point: one run of one workload.

  python3 perfbench/run.py --workload control_plane --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from the seed (perfbench/gen.py), starts
a fresh process on local[<cores>] that sets up, checks and times the
workload (perfbench/worker.py), and prints two JSON lines: a report of
every metric with its unit, then the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` turns on the
Spark event log and spans and reports the per-layer metrics instead.

Everything the run writes stays under ``.perfbench_work/`` (deleted at
exit) and ``.perfbench_out/`` (span dumps of traced runs) in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
#: the worker is killed past this; the whole run must end within 180 s
WORKER_TIMEOUT_S = 165

#: units of the report-only metrics (the rest come from BENCHMARK.json)
REPORT_UNITS = {
    "op_p50_ms": "ms", "ops_per_s": "1/s", "peak_rss_mb": "MB",
    "phases_s": "s", "op_ms": "ms", "n_ops": "count", "elapsed_s": "s", "error_rate": "ratio",
    "nests_per_s": "1/s", "read_p50_ms": "ms", "docs_per_s": "1/s",
    "recall_at_k": "ratio", "search_p50_ms": "ms",
}


def _spark_conf(work: Path, trace: bool) -> str:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep the JVM's temp files (and its /tmp perf-data file) out
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    return shlex.join(args + ["pyspark-shell"])


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and whatever it left in its process group (JVM,
    Python daemons), and wait until the group is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            proc.poll()  # reap the worker, or its zombie keeps the group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_worker(args, cpus: int, work: Path) -> dict:
    from gen import generate

    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    t = time.perf_counter()
    sizes = generate(args.workload, args.seed, str(work / "data"))
    gen_s = time.perf_counter() - t
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_SUBMIT_ARGS=_spark_conf(work, args.trace),
    )
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "work_dir": str(work),
        "data_dir": str(work / "data"),
        "event_log_dir": str(work / "eventlog"),
        "result_path": str(work / "result.json"),
        "trace_out": str(OUT / f"trace-{args.workload}-s{args.seed}.json"),
    }
    cfg_path = work / "config.json"
    log_path = work / "worker.log"
    cfg["spawn_time"] = time.time()
    cfg_path.write_text(json.dumps(cfg))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(cfg_path)],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc)
    result_path = Path(cfg["result_path"])
    if rc != 0 or not result_path.exists():
        tail = log_path.read_text()[-4000:]
        raise RuntimeError(f"worker exit {rc}; log tail:\n{tail}")
    result = json.loads(result_path.read_text())
    result["report"].update(input_rows=sizes)
    result["report"]["phases_s"]["generate_s"] = gen_s
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "pyanamo_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print("perfbench: no pyanamo_spark package or BENCHMARK.json beside "
              "perfbench/", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import pyspark

    # a terminated run still stops its worker (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = WORK / f"{args.workload}-s{args.seed}-{os.getpid()}"
    try:
        result = run_worker(args, cpus, work)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if WORK.is_dir() and not any(WORK.iterdir()):
            WORK.rmdir()

    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = result["per_layer"] if args.trace else result["report"]
    metrics = {
        m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in listed
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]} | REPORT_UNITS
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus,
        "pyspark": pyspark.__version__,
        "metrics": {
            k: {"value": v, "unit": units[k]}
            for k, v in result["report"].items() if k in units
        },
        "input_rows": result["report"]["input_rows"],
        "failures": result["failures"],
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
