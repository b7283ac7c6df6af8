"""One benchmark run, in the fresh process ``run.py`` starts.

Sets up the Spark session from process start and builds the workload's
index, runs each distinct op once untimed to warm it and check its
output, then times whole passes of the workload's ops in a closed loop
(as many as fill the given number of seconds on the reference host),
and writes every metric to a JSON file.

Run: python3 perfbench/worker.py <config.json>
"""

from __future__ import annotations

import ctypes
import gc
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from pyanamo_spark import semantics
from pyanamo_spark.registry import QUERIES, load_all
from pyanamo_spark.session import get_spark
from tracing import Tracer, op_counters
from workloads import WORKLOADS

WARM_QUERY = "q_state_counts"
PR_SET_CHILD_SUBREAPER = 36


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    process whose parent ends stays in the tree ``_tree_stats`` walks."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _tree_stats() -> dict[int, tuple[str, int]]:
    """(command name, CPU clock ticks) of this process and of every
    descendant, zombies included, by pid. The tree is found by parent
    pid over all of /proc, so children forked by any thread count. The
    ticks are user + system time of the process itself plus that of
    the children it has reaped."""
    stats, parent = {}, {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            head, tail = Path(entry.path, "stat").read_text().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        pid = int(entry.name)
        parent[pid] = int(fields[1])
        # utime stime cutime cstime
        stats[pid] = (head.split("(", 1)[1], sum(int(f) for f in fields[11:15]))
    me = os.getpid()

    def mine(pid: int) -> bool:
        while pid in parent and pid != me:
            pid = parent[pid]
        return pid == me

    return {p: s for p, s in stats.items() if mine(p)}


def _tree_cpu_s(stats: dict[int, tuple[str, int]]) -> float:
    return sum(t for _, t in stats.values()) / os.sysconf("SC_CLK_TCK")


def _worker_and_jvm_pids() -> list[int]:
    """This process and its JVM child."""
    return [os.getpid()] + [
        p for p, (comm, _) in _tree_stats().items() if comm == "java"
    ]


def _reset_peak_rss(pids: list[int]) -> None:
    """Restart the kernel's peak-RSS counter (VmHWM) of each process."""
    for p in pids:
        Path(f"/proc/{p}/clear_refs").write_text("5")


def _peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        for line in Path(f"/proc/{p}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total += int(line.split()[1])
    return total / 1024.0


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.trace = bool(cfg["trace"])
        self.work = Path(cfg["work_dir"])
        self.wl = WORKLOADS[cfg["workload"]](
            Path(cfg["data_dir"]), self.work, cfg["seed"], cfg["cpus"]
        )
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[dict] = []  # one per timed op
        self.setup_s = self.setup_cpu_s = 0.0
        self.layer_setup: dict[str, float] = {}  # per-layer set-up times
        self.index_build_s = 0.0
        self.phases: dict[str, float] = {}  # wall time of the untimed parts
        self.engine_outputs: list[tuple] = []  # (op, output dir, sample)
        self.tracer = Tracer()

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """The cold set-up, from process start to the first warm query
        answered, plus the workload's one index build: wall time and
        the CPU time of the process tree (the worker is new, so its
        tree's CPU time so far is all set-up)."""
        a = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.wl.name}", self.cfg["cpus"])
        b = time.perf_counter()
        load_all()
        c = time.perf_counter()
        semantics.ensure_views(self.spark, self.wl.data)
        d = time.perf_counter()
        QUERIES[WARM_QUERY](self.spark, self.wl.data).collect()
        self.layer_setup = {
            "session.get_spark_s": b - a,
            "semantics.ensure_views_first_ms": (d - c) * 1e3,
        }
        if self.wl.has_index:
            t = time.perf_counter()
            self.wl.build_index(self.spark)
            self.index_build_s = time.perf_counter() - t
        self.setup_s = time.time() - self.cfg["spawn_time"]
        self.setup_cpu_s = _tree_cpu_s(_tree_stats())

    # -- ops --------------------------------------------------------------

    def execute(self, op, op_id: int, check: bool) -> dict | None:
        """Run one op; return its sample (None when it raised). With
        ``check`` the result is collected and checked instead of being
        written to the noop sink."""
        spark, tr = self.spark, self.tracer
        self.attempted += 1
        tr.op = op_id
        if self.trace and not check:
            spark.addTag(f"perfbench-op-{op_id}")
        sample = {"op": op_id, "kind": op.kind, "name": op.name, "units": op.units}
        try:
            t0 = time.perf_counter()
            with tr.span(f"{op.kind}.build"):
                if op.kind == "query":
                    df = QUERIES[op.name](spark, self.wl.data)
                elif op.kind == "search":
                    df = self.wl.search(spark, op)
                else:
                    out = self.wl.run_engine(spark, op, op_id)
                    df = None
            t1 = time.perf_counter()
            result = None
            with tr.span(f"{op.kind}.exec"):
                if df is not None and check:
                    result = df.toPandas()
                elif df is not None:
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            if self.trace and not check:
                spark.removeTag(f"perfbench-op-{op_id}")
            tr.op = None
        sample.update(build_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3)
        sample["ms"] = sample["build_ms"] + sample["exec_ms"]
        if op.kind == "query":
            sample["module"] = QUERIES[op.name].__wrapped__.__module__.split(".")[1]
        if op.kind == "engine":
            self.engine_outputs.append((op, out, sample))
        if check:
            if op.kind == "query":
                err = self.wl.check_query(op.name, result)
            elif op.kind == "search":
                err = self.wl.check_search(op, result)
            else:
                err = None  # engine outputs are checked after the loop
            if err:
                self.failures.append(f"{op.name}: {err}")
        if self.trace and not check:
            jsc = spark.sparkContext._jsc
            sample["persisted_rdds"] = jsc.getPersistentRDDs().size()
            sample["storage_mb"] = sum(
                i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()
            ) / (1024.0 * 1024.0)
        return sample

    def check_engine_outputs(self) -> None:
        for op, out, sample in self.engine_outputs:
            err = self.wl.check_engine(op, out)
            if err:
                self.failures.append(f"run_engine task_{op.arg}: {err}")
            sample["bytes_written"] = sum(
                f.stat().st_size for f in out.rglob("*") if f.is_file()
            )
            shutil.rmtree(out)
        self.engine_outputs = []

    # -- the run ----------------------------------------------------------

    def main(self) -> dict:
        _become_subreaper()
        if self.trace:
            self._instrument()
        self.setup()
        op_id = 0
        t = time.perf_counter()
        for op in self.wl.verify_ops():
            op_id += 1
            self.execute(op, op_id, check=True)
        self.check_engine_outputs()
        self.phases["verify_s"] = time.perf_counter() - t

        # peak RSS covers the timed passes only: not the checks above,
        # whose DuckDB oracles and collected results live in this process
        self.wl.close()
        gc.collect()
        pids = _worker_and_jvm_pids()
        _reset_peak_rss(pids)
        cpu_start = _tree_cpu_s(_tree_stats())
        n_passes = max(1, math.ceil(float(self.cfg["seconds"]) / self.wl.pass_s))
        start = time.perf_counter()
        pass_ends, pass_cpu = [], [cpu_start]
        for ops in itertools.islice(self.wl.passes(), n_passes):
            for op in ops:
                if op is None:  # a new curation pass
                    self.spark.catalog.clearCache()
                    continue
                op_id += 1
                sample = self.execute(op, op_id, check=False)
                if sample is not None:
                    self.samples.append(sample)
            pass_ends.append(time.perf_counter() - start)
            pass_cpu.append(_tree_cpu_s(_tree_stats()))
        elapsed = time.perf_counter() - start
        # a process alive at the start and reaped since has moved its
        # ticks into its parent's reaped-children time: the difference of
        # the two sums is the CPU time used in between
        cpu_s = pass_cpu[-1] - cpu_start
        self.phases["passes_s"] = [b - a for a, b in zip([0.0] + pass_ends, pass_ends)]
        self.phases["passes_cpu_s"] = [b - a for a, b in zip(pass_cpu, pass_cpu[1:])]
        peak_rss = _peak_rss_mb(pids)
        self.check_engine_outputs()
        self.spark.stop()
        self.wl.close()
        self.phases["after_s"] = time.perf_counter() - start - elapsed
        return self.metrics(elapsed, cpu_s, peak_rss)

    def _instrument(self) -> None:
        """A span around each ``semantics.ensure_views`` call (traced
        runs only); the op calls and their sinks get spans in ``execute``."""
        self.tracer.wrap(semantics, "ensure_views", "semantics.ensure_views")

    # -- metrics ----------------------------------------------------------

    def metrics(self, elapsed, cpu_s, peak_rss) -> dict:
        s = self.samples
        ms = [x["ms"] for x in s]
        units = {k: sum(x["units"] for x in s if x["kind"] == k) for k in ("query", "engine")}
        report = dict(
            setup_s=self.setup_s,
            op_p50_ms=_median(ms),
            ops_per_s=len(s) / elapsed,
            cpu_ms_per_op=cpu_s * 1e3 / max(1, len(s)),
            peak_rss_mb=peak_rss,
            setup_cpu_s=self.setup_cpu_s,
            phases_s=self.phases,
            op_ms={
                name: _median([x["ms"] for x in s if x["name"] == name])
                for name in dict.fromkeys(x["name"] for x in s)
            },
            n_ops=len(s),
            elapsed_s=elapsed,
            error_rate=len(self.failures) / max(1, self.attempted),
        )
        if self.wl.name == "control_plane":
            report["nests_per_s"] = units["engine"] / elapsed
            report["read_p50_ms"] = _median([x["ms"] for x in s if x["kind"] == "query"])
        else:
            report["docs_per_s"] = units["query"] / elapsed
            report["recall_at_k"] = self.wl.recall
            report["search_p50_ms"] = _median([x["ms"] for x in s if x["kind"] == "search"])
        out = {
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failures": self.failures,
            "report": report,
        }
        if self.trace:
            out["per_layer"] = self.per_layer()
        return out

    def per_layer(self) -> dict:
        s, tr = self.samples, self.tracer
        layer = dict(self.layer_setup)
        layer["semantics.ensure_views_repeat_ms"] = _median(
            tr.op_durations_ms("semantics.ensure_views")
        )
        for mod in ("operators", "dedup", "functions"):
            mine = [x for x in s if x.get("module") == mod]
            layer[f"{mod}.build_ms"] = _median([x["build_ms"] for x in mine])
            layer[f"{mod}.exec_ms"] = _median([x["exec_ms"] for x in mine])
        search = [x for x in s if x["kind"] == "search"]
        layer["similarity.index_build_s"] = self.index_build_s
        layer["similarity.search_build_ms"] = _median([x["build_ms"] for x in search])
        layer["similarity.search_exec_ms"] = _median([x["exec_ms"] for x in search])
        layer["similarity.recall_at_k"] = getattr(self.wl, "recall", 0.0)
        engine = [x for x in s if x["kind"] == "engine"]
        layer["engine.run_ms"] = _median([x["ms"] for x in engine])
        layer["engine.bytes_written_mb"] = _median(
            [x["bytes_written"] for x in engine]
        ) / (1024.0 * 1024.0)
        layer["executor.nests_executed"] = float(sum(x["units"] for x in engine))

        log_dir = Path(self.cfg["event_log_dir"])
        logs = sorted(log_dir.iterdir(), key=lambda p: p.stat().st_mtime)
        counters = op_counters(logs[-1]) if logs else {}
        per_op = [counters.get(x["op"], {}) for x in s]

        def med(key):
            return _median([c.get(key, 0.0) for c in per_op])

        layer["executor.task_time_ms"] = _median(
            [counters.get(x["op"], {}).get("pipe_task_time_ms", 0.0) for x in engine]
        )
        for key in ("jobs", "stages", "tasks"):
            layer[f"spark.{key}_per_op"] = med(key)
        layer["spark.failed_tasks"] = float(sum(c.get("failed_tasks", 0) for c in per_op))
        for key in ("task_time_ms", "crit_path_ms", "planning_ms"):
            layer[f"spark.{key}"] = med(key)
        layer["spark.sched_gap_ms"] = _median(
            [x["ms"] - c.get("crit_path_ms", 0.0) for x, c in zip(s, per_op)]
        )
        # volumes: mean per op, since most ops move none and a median is 0
        for name, key in (
            ("spark.shuffle_write_mb", "shuffle_write_mb"),
            ("spark.spill_mb", "spill_mb"),
            ("python.sent_mb", "py_sent_mb"),
            ("python.recv_mb", "py_recv_mb"),
        ):
            layer[name] = sum(c.get(key, 0.0) for c in per_op) / max(1, len(per_op))
        layer["cache.persisted_rdds"] = float(max((x["persisted_rdds"] for x in s), default=0))
        layer["cache.storage_mb"] = max((x["storage_mb"] for x in s), default=0.0)
        tr.dump(Path(self.cfg["trace_out"]), counters)
        return layer


def main() -> None:
    cfg = json.loads(Path(sys.argv[1]).read_text())
    result = Run(cfg).main()
    Path(cfg["result_path"]).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
