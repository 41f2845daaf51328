"""One fresh Python process of a benchmark run: the system's single client.

It sets the engine up through its public entry points (the
``__spark_entry__`` import, ``session.get_spark``, the smoke
``entry(spark).limit(1).collect()``), runs one workload, checks the
outputs outside the timed region and writes a JSON report. Timing is
taken from outside every call into the engine. With ``trace`` on, the
session also writes Spark's event log and (event-stream) registers a
``StreamingQueryListener``; the report then carries the raw per-layer
samples that ``run.py`` reduces.

Usage: python3 worker.py <config-json>   (run.py builds the config)
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import BATCH, FILE_MS, WARMUP_S, pass_order, warm_passes  # noqa: E402


def setup(cfg: dict) -> tuple:
    """Import, start and smoke-check the engine; return its handles and
    the set-up timings (``setup_s`` counts from the parent's spawn)."""
    t0 = time.time()
    import __spark_entry__ as contract

    t1 = time.time()
    from eventstreamer_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cfg["cpus"])
    t2 = time.time()
    contract.SMOKE_SF_DIR = cfg["data_dir"]
    contract.entry(spark).limit(1).collect()
    t3 = time.time()
    timings = {
        "setup_s": t3 - cfg["spawn_time"],
        "import_s": t1 - t0,
        "spark_start_s": t2 - t1,
        "smoke_s": t3 - t2,
    }
    return contract, spark, timings


def end_measured(cfg: dict) -> None:
    """Tell the parent the measured phase is over (it stops sampling RSS)."""
    open(cfg["measured"], "w").close()


# -- memo layer, observed from outside -------------------------------------

_ABSENT = object()


def memo_snapshot() -> dict:
    """{(memo id, key): value} over every module-level BoundedMemo. The
    snapshot holds the values, so a rebuilt entry is a new object even
    if the old one was freed: compare with ``is``, not by id."""
    from eventstreamer_spark.memo import BoundedMemo

    snap = {}
    for name, mod in list(sys.modules.items()):
        if not name.startswith("eventstreamer_spark") or mod is None:
            continue
        for memo in vars(mod).values():
            if isinstance(memo, BoundedMemo):
                for key, value in dict.items(memo):
                    snap[(id(memo), key)] = value
    return snap


def resident_mb(spark) -> float:
    """Memory + disk held by cached and checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


# -- batch workloads ---------------------------------------------------------


def run_batch(contract, spark, cfg: dict) -> dict:
    workload, seed, trace = cfg["workload"], cfg["seed"], cfg["trace"]
    qs = contract.queries()
    data = cfg["data_dir"]
    records, passes, exec_failures = [], [], 0
    memo = {"entries": [], "rebuilds": 0, "resident_mb": 0.0}
    before = memo_snapshot() if trace else {}
    n_passes = 1 + warm_passes(cfg["seconds"])
    for pass_no in range(n_passes):
        p_start = time.time()
        for name in pass_order(workload, seed, pass_no):
            a = time.time()
            try:
                df = qs[name](spark, data)
                b = time.time()
                df.write.format("noop").mode("overwrite").save()
            except Exception:  # a failing query is counted, the run goes on
                traceback.print_exc()
                exec_failures += 1
                continue
            records.append({"pass": pass_no, "name": name, "start": a, "built": b, "end": time.time()})
        passes.append([p_start, time.time()])
        if trace:
            after = memo_snapshot()
            if pass_no > 0:
                memo["rebuilds"] += sum(1 for k, v in after.items() if before.get(k, _ABSENT) is not v)
            memo["entries"].append(len(after))
            before = after
    if trace:
        memo["resident_mb"] = resident_mb(spark)
    end_measured(cfg)
    checked = check_batch(contract, spark, cfg) if cfg["check"] else {}
    from eventstreamer_spark.registry import REGISTRY

    modules = {n: REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in BATCH[workload]}
    return {
        "records": records,
        "passes": passes,
        "attempted": n_passes * len(BATCH[workload]),
        "exec_failures": exec_failures,
        "check": checked,
        "memo": memo,
        "modules": modules,
    }


def duck_views(data_dir: str):
    import duckdb

    from eventstreamer_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_batch(contract, spark, cfg: dict) -> dict:
    """Each workload query against its DuckDB oracle, with the test
    suite's comparison; a query without an oracle must return rows."""
    from tests.conftest import assert_matches_oracle

    oracles = contract.oracle_sql()
    qs = contract.queries()
    con = duck_views(cfg["data_dir"])
    ok = {}
    for name in BATCH[cfg["workload"]]:
        try:
            df = qs[name](spark, cfg["data_dir"])
            if name in oracles:
                assert_matches_oracle(df, con, oracles[name])
            elif df.count() == 0:
                raise AssertionError("no rows")
            ok[name] = True
        except Exception:  # AssertionError or a query error: both are mismatches
            print(f"perfbench: output check failed for {name}", file=sys.stderr)
            traceback.print_exc()
            ok[name] = False
    con.close()
    return ok


# -- event-stream ------------------------------------------------------------


def make_listener(progress: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators[0] if p.stateOperators else None
            progress.append(
                {
                    "t": time.time(),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration": dict(p.durationMs),
                    "state_rows": state.numRowsTotal if state else 0,
                    "state_bytes": state.memoryUsedBytes if state else 0,
                    "state_commit_ms": state.commitTimeMs if state else 0,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def source_batches(ckpt: str) -> dict:
    """file name -> micro-batch id, from the file source's metadata log."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def run_stream(spark, cfg: dict) -> dict:
    from eventstreamer_spark.streaming.pipeline import stream_events, windowed_stream

    run_dir = cfg["run_dir"]
    input_dir = os.path.join(run_dir, "stream-in")
    stage_dir = os.path.join(run_dir, "stream-stage")
    ckpt = os.path.join(run_dir, "stream-ckpt")
    os.makedirs(input_dir)
    emits: dict[int, float] = {}
    last_rows: dict[tuple, tuple] = {}

    def sink(df, batch_id):
        for r in df.collect():
            last_rows[(r["key"], r["window_start"])] = (r["n_events"], r["avg_value"], r["sum_value"])
        emits[batch_id] = time.time()

    progress: list = []
    if cfg["trace"]:
        spark.streams.addListener(make_listener(progress))
    # The generator stages its files while the query starts; t0 leaves
    # it a few seconds to finish staging before the first release.
    n_files = int((WARMUP_S + cfg["seconds"]) * 1000 / FILE_MS)
    t0 = math.ceil(time.time() + 3)
    gen_cfg = {"t0": t0, "files": n_files, "seed": cfg["seed"], "stage_dir": stage_dir, "input_dir": input_dir}
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "generator.py"), json.dumps(gen_cfg)],
        stdout=subprocess.PIPE, text=True,
    )
    query = (
        windowed_stream(stream_events(spark, input_dir, max_files=None), "1 second", "0 seconds")
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    stdout, _ = gen.communicate(timeout=120)
    if gen.returncode != 0:
        raise RuntimeError(f"generator failed (exit {gen.returncode})")
    schedule = json.loads(stdout)
    query.processAllAvailable()
    query.stop()
    end_measured(cfg)
    batch_of = source_batches(ckpt)
    files = []
    for name, due, rel in zip(schedule["names"], schedule["due"], schedule["released"]):
        b = batch_of.get(name)
        files.append({"due": due, "late_ms": (rel - due) * 1000, "emit": emits.get(b) if b is not None else None})
    mismatches, windows = check_stream(input_dir, last_rows) if cfg["check"] else (0, 0)
    return {
        "t0": t0,
        "files": files,
        "windows": windows,
        "window_mismatches": mismatches,
        "progress": progress,
    }


def check_stream(input_dir: str, last_rows: dict) -> tuple[int, int]:
    """Last emitted value of every (key, window) vs a DuckDB GROUP BY
    over all generated files; returns (mismatches, windows)."""
    import duckdb

    from eventstreamer_spark.functions.numeric import MEAN6_DUCK, SUMK_DUCK

    sql = f"""
        SELECT CAST(user_id AS VARCHAR) AS key,
               strftime(make_timestamp(epoch_us(ts) // 1000000 * 1000000),
                        '%Y-%m-%d %H:%M:%S.%f') AS window_start,
               count(*) AS n_events,
               {MEAN6_DUCK.replace('{v}', 'value')} AS avg_value,
               {SUMK_DUCK.replace('{v}', 'value').replace('{s}', '1000000')} AS sum_value
        FROM read_parquet('{input_dir}/*.parquet') GROUP BY ALL
    """
    con = duckdb.connect()
    expected = {(k, w): (n, a, s) for k, w, n, a, s in con.execute(sql).fetchall()}
    con.close()
    keys = set(expected) | set(last_rows)
    bad = 0
    for key in keys:
        got, want = last_rows.get(key), expected.get(key)
        if got is None or want is None or got[0] != want[0] or any(
            not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9) for g, w in zip(got[1:], want[1:])
        ):
            bad += 1
    return bad, len(keys)


def main() -> None:
    cfg = json.loads(sys.argv[1])
    contract, spark, timings = setup(cfg)
    report = {"setup": timings}
    if cfg["workload"] in BATCH:
        report.update(run_batch(contract, spark, cfg))
    else:
        report.update(run_stream(spark, cfg))
    spark.stop()
    with open(cfg["out"], "w", encoding="utf-8") as f:
        json.dump(report, f)


if __name__ == "__main__":
    main()
