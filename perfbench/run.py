"""Benchmark runner for the eventstreamer_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the inputs from the seed
under ``perfbench/_runs/<run>/``, runs the workload in a fresh worker
process (``worker.py``) on ``local[nproc]``, checks its outputs and
prints one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the ``end_to_end`` list of
BENCHMARK.json; with ``--trace 1`` the run repeats the workload in a
traced session (Spark event log + streaming listener) and prints the
``per_layer`` list, including the tracing overhead. Everything a run
writes stays in its run directory, which is removed at the end.
Exits non-zero, printing no result, when the engine cannot be set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import eventlog  # noqa: E402
from workloads import (  # noqa: E402
    BATCH,
    FILE_MS,
    GEN_LATE_LIMIT_MS,
    LATENCY_LIMIT_MS,
    PLAYERS,
    RATE_HZ,
    SF,
    WARMUP_S,
    WORKLOADS,
)

# A run must end within 180 s; the workers share this budget.
RUN_BUDGET_S = 165.0
DRIVER_MEM = "1g"


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants, from /proc,
    until the file ``until`` appears (the end of the measured phase:
    the output check after it is not the system's memory).

    A process counts only from its second sample on: the JVM starts
    shell commands through vfork, and a vfork child reports its
    parent's whole RSS for the instant before it execs."""

    def __init__(self, pid: int, until: str) -> None:
        super().__init__(daemon=True)
        self.pid, self.until, self.peak_kb, self.done = pid, until, 0, threading.Event()
        self.seen: set[int] = set()

    def _tree_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo, tree = 0, [self.pid], set()
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            tree.add(pid)
            if pid not in self.seen:
                continue
            try:
                with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.seen = tree
        return total

    def run(self) -> None:
        while not self.done.wait(0.05) and not os.path.exists(self.until):
            self.peak_kb = max(self.peak_kb, self._tree_kb())


def worker_env(run_dir: str, trace: bool) -> dict:
    """Environment that confines the session to the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        }
    )
    return env


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def run_worker(cfg: dict, run_dir: str, deadline: float) -> tuple[dict, float]:
    """Run worker.py with ``cfg`` in its own directory under ``run_dir``;
    return its report and peak RSS (MB)."""
    work = os.path.join(run_dir, f"trace{cfg['trace']:d}")
    os.makedirs(work)
    out = os.path.join(work, "report.json")
    measured = os.path.join(work, "measured")
    env = worker_env(work, cfg["trace"])
    cfg = dict(cfg, out=out, measured=measured, run_dir=work, spawn_time=time.time())
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=work,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    sampler = RssSampler(proc.pid, measured)
    sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.done.set()
        sampler.join()
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # the JVM and Python workers too
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker for {cfg['workload']} failed (exit {code})")
    with open(out, encoding="utf-8") as f:
        return json.load(f), sampler.peak_kb / 1024


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the median for q=50."""
    if q == 50:
        return statistics.median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# -- end-to-end --------------------------------------------------------------


def batch_end_to_end(rep: dict) -> tuple[dict, int, int, int]:
    walls = [end - start for start, end in rep["passes"]]
    lat = [(r["end"] - r["start"]) * 1000 for r in rep["records"] if r["pass"] > 0]
    metrics = {
        "setup_s": rep["setup"]["setup_s"],
        "cold_s": walls[0],
        "warm_s": statistics.median(walls[1:]),
        "latency_p50_ms": pct(lat, 50),
        "run.latency_p90_ms": pct(lat, 90),
    }
    checks = rep["check"]
    attempted = rep["attempted"] + len(checks)
    failed = rep["exec_failures"] + sum(1 for ok in checks.values() if not ok)
    return metrics, attempted, failed, len(lat)


def stream_end_to_end(rep: dict) -> tuple[dict, int, int, int]:
    files = rep["files"]
    steady_from = rep["t0"] + WARMUP_S
    lat = [(f["emit"] - f["due"]) * 1000 for f in files if f["emit"] is not None and f["due"] > steady_from]
    emits = sorted({f["emit"] for f in files if f["emit"] is not None})
    gaps = [b - a for a, b in zip(emits, emits[1:]) if a >= steady_from]
    if files[0]["emit"] is None:
        raise RuntimeError("the stream never emitted its first file")
    metrics = {
        "setup_s": rep["setup"]["setup_s"],
        "cold_s": files[0]["emit"] - files[0]["due"],
        "warm_s": statistics.median(gaps),
        "latency_p50_ms": pct(lat, 50),
        "run.latency_p90_ms": pct(lat, 90),
    }
    bad_files = sum(
        1
        for f in files
        if f["emit"] is None or (f["due"] > steady_from and (f["emit"] - f["due"]) * 1000 > LATENCY_LIMIT_MS)
    )
    attempted = len(files) + rep["windows"]
    failed = bad_files + rep["window_mismatches"]
    return metrics, attempted, failed, len(lat)


# -- per layer -----------------------------------------------------------------


def exec_layer(log: eventlog.EventLog, windows: list[list[float]], per: float, wall: float) -> dict:
    """Event-log totals over the given windows, divided by ``per``."""
    t = eventlog.Totals()
    for start, end in windows:
        w = log.totals(start * 1000, end * 1000)
        for k in vars(t):
            setattr(t, k, getattr(t, k) + getattr(w, k))
    mb = eventlog.MB
    return {
        "exec.jobs": t.jobs / per,
        "exec.stages": t.stages / per,
        "exec.tasks": t.tasks / per,
        "exec.task_run_s": t.task_run_ms / 1000 / per,
        "exec.task_cpu_s": t.task_cpu_ms / 1000 / per,
        "exec.offcpu_s": (t.task_run_ms - t.task_cpu_ms) / 1000 / per,
        "exec.gc_s": t.gc_ms / 1000 / per,
        "exec.busy_cores": t.task_run_ms / 1000 / wall,
        "exec.shuffle_write_mb": t.shuffle_write_b / mb / per,
        "exec.shuffle_read_mb": t.shuffle_read_b / mb / per,
        "exec.spill_mb": t.spill_b / mb / per,
        "sources.input_mb": t.input_b / mb / per,
    }


def batch_layers(rep: dict, log: eventlog.EventLog) -> dict:
    warm = rep["passes"][1:]
    n = len(warm)
    out = exec_layer(log, warm, n, sum(e - s for s, e in warm))
    recs = [r for r in rep["records"] if r["pass"] > 0]
    cold = [r for r in rep["records"] if r["pass"] == 0]
    out["operators.construct_s"] = sum(r["built"] - r["start"] for r in recs) / n
    out["operators.execute_s"] = sum(r["end"] - r["built"] for r in recs) / n
    out["operators.cold_construct_s"] = sum(r["built"] - r["start"] for r in cold)
    out["operators.cold_execute_s"] = sum(r["end"] - r["built"] for r in cold)
    out["operators.construct_jobs"] = (
        sum(log.totals(r["start"] * 1000, r["built"] * 1000).jobs for r in recs) / n
    )
    for module in set(rep["modules"].values()):
        mine = [r for r in recs if rep["modules"][r["name"]] == module]
        out[f"operators.{module}.construct_s"] = sum(r["built"] - r["start"] for r in mine) / n
        out[f"operators.{module}.execute_s"] = sum(r["end"] - r["built"] for r in mine) / n
        out[f"operators.{module}.jobs"] = (
            sum(log.totals(r["start"] * 1000, r["end"] * 1000).jobs for r in mine) / n
        )
    memo = rep["memo"]
    out["memo.entries"] = memo["entries"][-1]
    out["memo.rebuilds"] = memo["rebuilds"]
    out["memo.resident_mb"] = memo["resident_mb"]
    return out


def stream_layers(rep: dict, log: eventlog.EventLog) -> dict:
    steady_from = rep["t0"] + WARMUP_S
    steady_to = rep["files"][-1]["due"]
    out = exec_layer(log, [[steady_from, steady_to]], steady_to - steady_from, steady_to - steady_from)
    prog = [p for p in rep["progress"] if p["t"] >= steady_from and p["rows"] > 0]
    dues = [f["due"] for f in rep["files"]]
    rows_per_file = PLAYERS * RATE_HZ * FILE_MS // 1000
    committed, backlog = 0, []
    for p in rep["progress"]:
        committed += p["rows"] / rows_per_file
        if p["t"] >= steady_from:
            backlog.append(sum(1 for d in dues if d <= p["t"]) - committed)

    def dur(key: str) -> float:
        return pct([p["duration"].get(key, 0) for p in prog], 50)

    out.update(
        {
            "sources.listing_ms": dur("latestOffset"),
            "stream.batches": len(prog),
            "stream.trigger_ms_p50": dur("triggerExecution"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.state_commit_ms": pct([p["state_commit_ms"] for p in prog], 50),
            "stream.state_rows": max(p["state_rows"] for p in prog),
            "stream.state_mb": max(p["state_bytes"] for p in prog) / eventlog.MB,
            "stream.backlog_files": max(backlog),
        }
    )
    return out


def gen_late_ms(rep: dict) -> float:
    """90th percentile of the generator's release lateness: a run whose
    generator fell behind shows here; one short stall does not."""
    late = [f["late_ms"] for f in rep.get("files", ())]
    return pct(late, 90) if late else 0.0


def applies(name: str, batch: bool, modules: set[str]) -> bool:
    """Whether the workload runs the layer a per-layer metric measures."""
    parts = name.split(".")
    if parts[0] == "operators":
        return batch and (len(parts) == 2 or parts[1] in modules)
    if parts[0] == "memo":
        return batch
    if (parts[0] == "stream" and name != "stream.gen_late_ms") or name == "sources.listing_ms":
        return not batch
    return True


def select(names: list[dict], values: dict, batch: bool, modules: set[str]) -> dict:
    """The metrics BENCHMARK.json lists, in its order, with their units.
    A layer the workload does not run (another workload's operator
    modules, streaming on a batch workload and the reverse) reads 0."""
    out = {}
    for m in names:
        name = m["name"]
        if name in values:
            v = values[name]
        elif not applies(name, batch, modules):
            v = 0.0
        else:
            raise KeyError(f"metric {name} was not measured")
        out[name] = {"value": float(v), "unit": m["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)

    deadline = time.time() + RUN_BUDGET_S
    load_start = os.getloadavg()[0]
    run_dir = os.path.join(HERE, "_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        base = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "cpus": nproc(),
            "data_dir": os.path.join(run_dir, "data"),
        }
        datagen.make_tables(base["data_dir"], args.seed, SF)
        end_to_end = batch_end_to_end if args.workload in BATCH else stream_end_to_end
        rep, rss = run_worker(dict(base, trace=False, check=True), run_dir, deadline)
        metrics, attempted, failed, samples = end_to_end(rep)
        metrics["peak_rss_mb"] = rss
        late = gen_late_ms(rep)
        valid = late <= GEN_LATE_LIMIT_MS
        if not valid:
            print(f"perfbench: generator ran {late:.0f} ms behind schedule; run invalid", file=sys.stderr)
            failed = attempted
        if args.trace:
            trep, _ = run_worker(dict(base, trace=True, check=False), run_dir, deadline)
            log = eventlog.read(os.path.join(run_dir, "trace1", "eventlog"))
            layers = batch_layers(trep, log) if args.workload in BATCH else stream_layers(trep, log)
            traced, *_ = end_to_end(trep)
            layers.update(
                {
                    "session.import_s": trep["setup"]["import_s"],
                    "session.spark_start_s": trep["setup"]["spark_start_s"],
                    "session.smoke_s": trep["setup"]["smoke_s"],
                    "stream.gen_late_ms": late,
                    "trace.warm_overhead_frac": traced["warm_s"] / metrics["warm_s"] - 1,
                    "trace.cold_overhead_frac": traced["cold_s"] / metrics["cold_s"] - 1,
                    "run.failed_frac": failed / attempted,
                    "run.latency_p90_ms": metrics["run.latency_p90_ms"],
                    "run.samples": samples,
                    "run.nproc": nproc(),
                    "run.loadavg_start": load_start,
                }
            )
            modules = set(trep.get("modules", {}).values())
            out = select(spec["per_layer"], layers, args.workload in BATCH, modules)
        else:
            out = select(spec["end_to_end"], metrics, args.workload in BATCH, set())
    except Exception as exc:  # no result line: the run failed
        print(f"perfbench: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": valid and failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
