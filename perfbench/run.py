"""Table-engine benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload ingest|cdc --seed N \\
        --seconds S --trace 0|1

One client drives a closed loop (the next op starts when the previous
one returns) against `icelake_spark.default_session` at
`local[<cores>]`. Set-up is session start, loading the input sample,
the fixture build and untimed warm-up rounds of the op cycle.
The run then times ceil(S / round_s) rounds of the workload's op cycle,
a fixed amount of work, so a faster engine ends in the same table state
as a slower one. Every timed round is laid out (inputs, Spark
DataFrames, expected results) before the clock starts, and every op's
result is checked against the workload's model after it stops.

Prints one row of end-to-end metrics, the workload's input property
shares and, with `--trace 1`, per-layer metrics from wrappers installed
around each engine layer (perfbench/trace.py); traced and untraced ops
of each kind alternate, so the run also reports the tracing overhead.
The last stdout line is a JSON object: correct, attempted, failed,
metrics. Exits 1 if any check failed. All scratch state (warehouses,
Spark local dirs, JVM temp files) lives under `.perfbench_tmp/` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "ops/s", "rows_per_s": "rows/s",
    "append_p50_s": "s", "append_tail_s": "s",
    "upsert_p50_s": "s", "upsert_tail_s": "s",
    "delete_p50_s": "s", "delete_tail_s": "s",
    "lookup_p50_s": "s", "lookup_tail_s": "s",
    "scan_p50_s": "s", "scan_tail_s": "s",
    "bytes_per_user_byte": "ratio", "error_rate": "fraction",
    "driver_py_rss_mb": "MB",
}


@dataclass
class Record:
    kind: str
    seconds: float
    ok: bool
    rows: int
    user_bytes: int
    traced: bool
    result: object = None
    exec_s: float = 0.0
    jobs: list = field(default_factory=list)


def isolate(tmp: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python at tmp
    and make the engine importable by PySpark's Python workers."""
    for d in ("local", "java", "warehouse"):
        (tmp / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp / "java")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    java = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 'java'}"
    os.environ["SPARK_LAUNCHER_OPTS"] = java     # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.enabled=false",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf {shlex.quote('spark.sql.warehouse.dir=' + str(tmp / 'warehouse'))}",
        f"--driver-java-options {shlex.quote(java)}",
        "pyspark-shell"])
    import tempfile

    tempfile.tempdir = str(tmp / "java")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (killing it if it will
    not stop), and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it
    (nearest rank), as (value, percentile); never below the median,
    which it is with fewer than 20 samples."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return statistics.median(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Jobs:
    """Spark jobs and stage executor time per op, through job groups
    (plus any ungrouped jobs started from engine pool threads)."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.seen = set(self.tracker.getJobIdsForGroup(None))

    def begin(self, n: int) -> str:
        group = f"perfbench-{n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> list[float]:
        """Executor run time (s) of each job the op ran."""
        fresh = set(self.tracker.getJobIdsForGroup(None)) - self.seen
        self.seen |= fresh
        out = []
        for j in list(self.tracker.getJobIdsForGroup(group)) + sorted(fresh):
            info = self.tracker.getJobInfo(j)
            run_ms = 0
            for s in info.stageIds if info else ():
                try:
                    run_ms += self.store.lastStageAttempt(s).executorRunTime()
                except Exception:       # stage skipped or already evicted
                    pass
            out.append(run_ms / 1000.0)
        return out


def run_phase(ops: list, tracer, jobs) -> tuple[list, float]:
    """Run the laid-out ops in order; returns their records and the
    wall time of the phase."""
    records: list[Record] = []
    per_kind: dict[str, int] = {}
    start = time.perf_counter()
    for op in ops:
        records.append(run_op(op, len(records), per_kind, tracer, jobs))
    return records, time.perf_counter() - start


def check(ops: list, records: list) -> None:
    """Check each op's result; a failed check marks its record failed."""
    for n, (op, rec) in enumerate(zip(ops, records)):
        if not rec.ok:
            continue
        try:
            rec.ok = bool(op.check(rec.result))
        except Exception:
            traceback.print_exc()
            rec.ok = False
        if not rec.ok:
            print(f"check failed: {op.kind} op {n}", file=sys.stderr)


def run_op(op, n: int, per_kind: dict, tracer, jobs) -> Record:
    """Time op n; trace every other op of each kind when tracing."""
    nth = per_kind[op.kind] = per_kind.get(op.kind, -1) + 1
    traced = tracer is not None and nth % 2 == 0
    group = jobs.begin(n) if jobs else None
    if tracer is not None:
        tracer.op, tracer.enabled = n, traced
    t0 = time.perf_counter()
    try:
        result, ok = op.run(), True
    except Exception:
        traceback.print_exc()
        result, ok = None, False
    t1 = time.perf_counter()
    if tracer is not None:
        tracer.enabled = False
    rec = Record(op.kind, t1 - t0, ok, op.rows, op.user_bytes, traced, result)
    if hasattr(result, "to_df_done"):
        rec.exec_s = t1 - result.to_df_done
    if group is not None:
        rec.jobs = jobs.end(group)
    return rec


def warm(ops: list) -> int:
    """Run a warm-up round, untimed; returns its failed checks."""
    failed = 0
    for op in ops:
        if not op.check(op.run()):
            print(f"check failed: warm-up {op.kind}", file=sys.stderr)
            failed += 1
    return failed


def e2e_metrics(records, wall, setup_s, workload, table_dir) -> dict:
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r.kind, []).append(r.seconds)
    m = {"setup_s": setup_s, "ops_per_s": len(records) / wall,
         "rows_per_s": sum(r.rows for r in records
                           if r.kind in ("append", "upsert", "delete")) / wall}
    tails = {}
    for kind in ("append", "upsert", "delete", "lookup", "scan"):
        xs = by_kind.get(kind)
        if xs:
            m[f"{kind}_p50_s"] = statistics.median(xs)
            m[f"{kind}_tail_s"], q = tail(xs)
            tails[kind] = (q, len(xs))
    m["bytes_per_user_byte"] = dir_bytes(table_dir) / workload.live_bytes
    failed = sum(not r.ok for r in records)
    m["error_rate"] = failed / len(records)
    m["driver_py_rss_mb"] = resource.getrusage(
        resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return m, tails


def properties(records, workload) -> dict:
    """The input properties a later optimisation may rely on."""
    from icelake_spark.types.manifest import read_manifest_list

    table = workload.catalog.load_table(workload.ident)
    snaps = table.metadata.snapshots
    added = [int(s.summary.get("added-data-files", 0))
             + int(s.summary.get("added-delete-files", 0)) for s in snaps]
    reads = [r.result for r in records
             if r.kind in ("lookup", "scan") and r.result is not None]
    seen, listed, again, paths = set(), 0, 0, {}
    for r in reads:
        if r.manifest_list not in paths:
            paths[r.manifest_list] = [
                m.manifest_path for m in read_manifest_list(r.manifest_list)]
        for p in paths[r.manifest_list]:
            listed += 1
            again += p in seen
            seen.add(p)
    return {
        "manifest_reread_share": again / listed if listed else 0.0,
        "files_per_commit": sum(added) / len(added) if added else 0.0,
        "delete_files_per_read": (sum(r.delete_files for r in reads)
                                  / len(reads) if reads else 0.0),
    }


def fmt_row(name: str, m: dict, tails: dict) -> str:
    cells = []
    for key, unit in E2E_UNITS.items():
        if key not in m:
            cells.append(f"{key}=n/a")
            continue
        cell = f"{key}={m[key]:.4g} {unit}"
        kind = key.rsplit("_", 2)[0]
        if key.endswith("_tail_s") and kind in tails:
            q, n = tails[kind]
            cell += f" (p{q:.0f}, n={n})"
        cells.append(cell)
    return f"{name}: " + ", ".join(cells)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "cdc"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    # a terminated run still stops Spark and removes its scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    isolate(tmp)
    sys.path.insert(0, str(ROOT))
    spark = None
    try:
        t0 = time.perf_counter()
        import icelake_spark
        from perfbench import trace as tracing
        from perfbench.workloads import WORKLOADS

        cpus = len(os.sched_getaffinity(0))
        spark = icelake_spark.default_session(
            "perfbench", cpus=cpus, shuffle_partitions=2 * cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        cls = WORKLOADS[args.workload]
        workload = cls(spark, args.seed, math.ceil(args.seconds / cls.round_s))
        t0 = time.perf_counter()
        workload.source()
        source_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.build(str(tmp / "tables"))
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        rounds = workload.rounds()
        failed = sum(warm(next(rounds)) for _ in range(workload.warm_rounds))
        warm_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        ops = [op for r in rounds for op in r]
        layout_s = time.perf_counter() - t0
        setup_s = session_s + source_s + build_s + warm_s + layout_s

        from icelake_spark.metrics import REGISTRY

        before = REGISTRY.snapshot()
        tracer = jobs = None
        if args.trace:
            tracer = tracing.Tracer()
            tracer.install()
            jobs = Jobs(spark.sparkContext)
        try:
            records, wall = run_phase(ops, tracer, jobs)
        finally:
            if tracer is not None:
                tracer.uninstall()
        check(ops, records)
        final_ok = workload.final_check()
        table_dir = workload.catalog.table_path(workload.ident)
        m, tails = e2e_metrics(records, wall, setup_s, workload, table_dir)
        props = properties(records, workload)
        layers = None
        if tracer is not None:
            from perfbench.layers import layer_metrics

            layers = layer_metrics(tracer, records, workload, table_dir,
                                   before, REGISTRY.snapshot(), session_s)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                tmp.parent.rmdir()
            except OSError:
                pass

    failed += sum(not r.ok for r in records)
    correct = failed == 0 and final_ok
    print(fmt_row(args.workload, m, tails))
    print(f"{args.workload} setup: session {session_s:.3f} s, source "
          f"{source_s:.3f} s, fixture build {build_s:.3f} s, warm-up "
          f"{warm_s:.3f} s, layout {layout_s:.3f} s; {workload.n_rounds} "
          f"timed rounds, {len(records)} ops in {wall:.3f} s")
    print(f"{args.workload} properties: " + ", ".join(
        f"{k}={v:.4g}" for k, v in props.items())
        + " (manifest re-reads counted on the read path)")
    if layers is not None:
        for k, v in layers.items():
            print(f"{args.workload} layer {k}={v:.6g}")
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    values = layers if layers is not None else m
    metrics = {w["name"]: {"value": values[w["name"]], "unit": w["unit"]}
               for w in wanted}
    print(json.dumps({"correct": correct, "attempted": len(records),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
