"""Benchmark entry point.

    python3 perfbench/run.py --workload clone_db --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process, one client, closed loop: each
op starts when the previous one has finished, on ``local[$(nproc)]``. The
run generates its inputs from ``--seed``, sets up (session start, input
generation, a warm-up op that doubles as the output check), then runs ops
until ``--seconds`` have passed and the workload's minimum op count has run.
It prints a full record line, then the result line as the last line of
stdout.

``--trace 1`` is the separate traced run: ops alternate between traced
and untraced, the traced ones give the per-layer metrics and the spans file
(``.perfbench_out/``), and the pair gives the tracing overhead.

Everything the run writes lives under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` in the checkout; the JVM runs with that work
directory as its working directory and temp directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "database_clonev2_spark"

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "step_geomean_s": "s",
    "peak_rss_mb": "MB",
}


class RssSampler(threading.Thread):
    """Peak of (driver Python RSS + JVM RSS), sampled every 50 ms while an
    op runs (``active`` is set), so the untimed checks are not counted."""

    def __init__(self, pids: list[int]):
        super().__init__(daemon=True)
        self.pids, self.peak_kb = pids, 0
        self.active = threading.Event()
        self._stop_evt = threading.Event()

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(self.rss_kb(p) for p in self.pids))

    def run(self) -> None:
        while not self._stop_evt.wait(0.05):
            if self.active.is_set():
                self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def cpu_s() -> float:
    """User+system CPU seconds of this process and all its descendants
    (the JVM and its Python workers)."""
    total = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def start_spark(work: str, cores: int):
    """The package's session on ``local[cores]``, with every file Spark or
    the JVM writes (scratch, temp, derby.log, metastore_db,
    spark-warehouse) kept under ``work``; the JVM's working directory is
    ``work/jvm``."""
    for d in ("tmp", "spark-local", "jvm"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.chdir(os.path.join(work, "jvm"))
    from database_clonev2_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


class Ctx:
    def __init__(self, spark, tracer, work: str, seed: int, cores: int, tiny: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.cores, self.tiny = seed, cores, tiny


def environment(seed: int, cores: int) -> dict:
    import hashlib
    import subprocess

    import duckdb
    import pyspark

    h = hashlib.sha256()
    for root, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
        "package_sha256": h.hexdigest()[:16],
        "seed": seed,
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(walls: list[float]) -> dict:
    """The highest of p90/p95/p99/p99.9 with at least 10 samples beyond it."""
    n = len(walls)
    best = {"percentile": None, "value_s": None, "samples": n}
    for p in (90, 95, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = {
                "percentile": p,
                "value_s": statistics.quantiles(walls, n=1000, method="inclusive")[int(p * 10) - 1],
                "samples": n,
            }
    return best


def clean(ops: list[dict]) -> list[dict]:
    """The ops not hit by hypervisor steal (see ``workloads.STEAL_LIMIT``)."""
    from workloads import least_stolen

    return least_stolen([(o["steal_frac"], o) for o in ops]) if ops else ops


def step_medians(ops: list[dict]) -> dict[str, float]:
    """Each step's median over its samples not hit by steal."""
    from workloads import least_stolen

    steps: dict[str, list[tuple[float, float]]] = {}
    for o in ops:
        for k, v in o["steps"].items():
            steps.setdefault(k, []).append((o["step_steal"].get(k, 0.0), v))
    return {k: median(least_stolen(xs)) for k, xs in steps.items()}


def workload_fields(name: str, ops: list[dict], wl) -> dict:
    """The workload's own end-to-end figures, reported in the record."""
    sm = step_medians(ops)
    if name == "clone_db":
        done = clean([o for o in ops if o["steps"]])
        clone = [sum(o["steps"][k] for k in ("ddl", "clone", "validate")) for o in done]
        commit = [o["steps"]["upsert"] + o["steps"]["delete"] for o in done]
        return {
            "clone_rows_per_s": wl.source_rows / median(clone) if clone else 0.0,
            "clone_bytes_ratio": wl.record.get("clone_bytes_ratio"),
            "cdc_commit_p50_s": median(commit),
            "replica_lag_p50_s": sm.get("sync", 0.0),
            "cdc_write_amp": wl.record.get("cdc_write_amp"),
        }
    from workloads import DEDUP_CHAIN, QUERY_MIX

    chain_s = sum(sm.get(q, 0.0) for q in DEDUP_CHAIN)
    return {
        "query_geomean_s": geomean(sm.get(q, 0.0) for q in QUERY_MIX),
        "dedup_docs_per_s": wl.n_docs / chain_s if chain_s else 0.0,
        "dedup_recall": wl.record.get("dedup_recall"),
    }


def measure(wl, ctx, sampler, seconds: float, trace: bool) -> list[dict]:
    """The closed loop: ops until ``seconds`` have passed and at least the
    workload's ``min_ops`` ops (two in a traced run) have run. In a traced
    run even ops are traced."""
    from workloads import file_tree, steal_frac, steal_s, written

    tracer, ops = ctx.tracer, []
    t_start = time.perf_counter()
    while len(ops) < max(wl.min_ops, 2 if trace else 1) or time.perf_counter() - t_start < seconds:
        key = wl.op_key(len(ops))
        if key is None:
            break
        traced = trace and len(ops) % 2 == 0
        wl.before(key)
        if trace:
            tracer.enabled = traced
            tracer.install() if traced else tracer.uninstall()
        tree = file_tree(wl.out) if traced else None
        op = {"key": key, "traced": traced, "steps": {}, "error": None}
        wl.step_steal.clear()
        sampler.active.set()
        c, st = cpu_s(), steal_s()
        t = time.perf_counter()
        try:
            with tracer.op(len(ops), f"op:{key}"):
                op["steps"] = wl.run(key)
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            op["error"] = traceback.format_exc(limit=3)
        op["wall"] = time.perf_counter() - t
        op["cpu"], op["steal"] = cpu_s() - c, steal_s() - st
        op["steal_frac"] = steal_frac(op["steal"], op["wall"], ctx.cores)
        op["step_steal"] = dict(wl.step_steal)
        sampler.active.clear()
        if op["error"] is None:
            op.update(wl.after(key, op["steps"]) or {})
        if traced:
            op["files_written"], op["bytes_written"] = written(tree, file_tree(wl.out))
        ops.append(op)
    if trace:
        tracer.enabled = False
        tracer.uninstall()
    return ops


def count_failed(wl, ops: list[dict]) -> int:
    """Mark and count the ops that raised or whose output check failed."""
    for o in ops:
        o["failed"] = o["error"] is not None or wl.failed(o["key"])
    return sum(o["failed"] for o in ops)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    args = ap.parse_args(argv)

    t_process = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "gen_synth_docs.py")
    ):
        print(f"perfbench: {PACKAGE}/ and tools/ must sit next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from tracer import Tracer, self_times, uncovered_frac
    from workloads import STEAL_LIMIT, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    cwd = os.getcwd()
    spark = sampler = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_start_s = time.perf_counter() - t0
        pids = [os.getpid()] + [p for p in (jvm_pid(spark),) if p]
        sampler = RssSampler(pids)
        sampler.start()
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, work, args.seed, cores, args.tiny)
        wl = WORKLOADS[args.workload](ctx)
        tg = time.perf_counter()
        sizes = wl.generate()
        generate_s = time.perf_counter() - tg - wl.untimed_s
        untimed_gen = wl.untimed_s
        tracer.enabled = False  # the warm-up is not traced
        tw = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - tw - (wl.untimed_s - untimed_gen)
        setup_s = time.perf_counter() - t0 - wl.untimed_s

        ops = measure(wl, ctx, sampler, args.seconds, bool(args.trace))
        wl.finish()
        peak_rss_mb = sampler.stop()
        sampler = None
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    if not ops:
        print("perfbench: no op ran", file=sys.stderr)
        return 1
    failed = count_failed(wl, ops)
    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    walls = [o["wall"] for o in clean(untraced or ops)]
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "env": environment(args.seed, cores),
        "inputs": sizes,
        "setup": {
            "session_start_s": session_start_s,
            "generate_s": generate_s,
            "warm_s": warm_s,
            "untimed_check_s": wl.untimed_s,
        },
        "ops": len(ops),
        "op_walls_s": [round(o["wall"], 4) for o in ops],
        "op_cpu_s": [round(o["cpu"], 3) for o in ops],
        "op_steal_s": [round(o["steal"], 3) for o in ops],
        "stolen_ops": sum(o["steal_frac"] > STEAL_LIMIT for o in ops),
        "stolen_steps": sum(f > STEAL_LIMIT for o in ops for f in o["step_steal"].values()),
        "failed_frac": failed / len(ops),
        "tail": tail(walls),
        "step_p50_s": step_medians(untraced or ops),
        **workload_fields(args.workload, untraced or ops, wl),
        **wl.record,
        "errors": [o["error"] for o in ops if o["error"]][:3],
        "process_s": time.perf_counter() - t_process,
    }
    if args.trace:
        from layers import per_layer

        spans = tracer.spans
        metrics = per_layer(traced, untraced, spans, ctx, session_start_s, tracer.cache_entries_peak)
        path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        t_base = min((s["start"] for s in spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "self_s": self_times(spans),
                    "uncovered_frac": uncovered_frac(spans),
                    "spans": [{**s, "start": s["start"] - t_base, "end": s["end"] - t_base} for s in spans],
                },
                f,
            )
        record["spans_file"] = os.path.relpath(path, ROOT)
        record["self_s_per_op"] = {k: v / max(1, len(traced)) for k, v in self_times(spans).items()}
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": median(walls),
            "step_geomean_s": geomean(step_medians(ops).values()),
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
