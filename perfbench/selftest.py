"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs from the root of a checkout, on sf0.001-sized inputs and a
300-document corpus. It checks two things:

1. every workload, untraced and traced, ends with a result line whose
   metrics are exactly BENCHMARK.json's end-to-end (``--trace 0``) or
   per-layer (``--trace 1``) metrics, each with its unit, and is correct;
2. each workload's output check fires on a deliberately corrupted output.

Exits 0 when everything passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_result_lines(spec: dict) -> list[str]:
    problems = []
    for wl in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{wl} trace={trace}: exit {p.returncode}: {p.stderr[-800:]}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{wl} trace={trace}: result keys {sorted(res)}")
            if not res.get("correct"):
                problems.append(f"{wl} trace={trace}: not correct: {lines[-2][:800]}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace={trace}: metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, units {[k for k in want if got.get(k, want[k]) != want[k]]}")
            print(f"ok   {wl} trace={trace}: {len(got)} metrics", flush=True)
    return problems


def _corrupt_parquet(path: str, edit) -> None:
    """Rewrite the first data file under ``path`` with ``edit(table)`` and
    drop its checksum file, so the damage is silent."""
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    target = next(f for f in files if pq.ParquetFile(f).metadata.num_rows > 0)
    table = edit(pq.read_table(target))
    pq.write_table(table, target)
    crc = os.path.join(os.path.dirname(target), f".{os.path.basename(target)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def check_corruption_fires() -> list[str]:
    """Run each workload in-process on tiny inputs through the harness's
    loop with one output corrupted; the run must count failed ops."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sys.path[:0] = [ROOT, HERE]
    from run import Ctx, RssSampler, count_failed, measure, start_spark, stop_spark
    from tracer import Tracer
    from workloads import WORKLOADS

    def price_plus_one(t):
        typ = t.schema.field("price").type
        return t.set_column(
            t.schema.get_field_index("price"), "price",
            pc.add(t.column("price"), pa.scalar(1, typ)).cast(typ),
        )

    problems = []
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    cwd = os.getcwd()
    spark = None
    try:
        cores = len(os.sched_getaffinity(0))
        spark = start_spark(work, cores)
        # (workload, corrupted output): each check must fire on its own
        for name, case in (("clone_db", "clone"), ("clone_db", "replica"), ("query_mix", "queries")):
            ctx = Ctx(spark, Tracer(), os.path.join(work, case), 7, cores, tiny=True)
            wl = WORKLOADS[name](ctx)
            wl.generate()
            if case == "queries":
                from pyspark.sql import functions as F

                # one mix query loses rows; every document becomes its own cluster
                q = wl.queries
                q["a29_groupby_pricing"] = lambda s, d, f=q["a29_groupby_pricing"]: f(s, d).limit(1)
                q["dedup_clusters"] = lambda s, d, f=q["dedup_clusters"]: f(s, d).withColumn(
                    "cluster_id", F.col("doc_id")
                )
            wl.warm()
            if case == "clone":
                # each cloned orders table loses a row right after the op
                def run_then_corrupt(key, run=wl.run):
                    steps = run(key)
                    _corrupt_parquet(os.path.join(wl.target(), "orders.parquet"), lambda t: t.slice(1))
                    return steps

                wl.run = run_then_corrupt
            ops = measure(wl, ctx, RssSampler([]), 0, False)
            if case == "replica":
                _corrupt_parquet(wl.rep, price_plus_one)
            wl.finish()
            failed = count_failed(wl, ops)
            fired = bool(ops) and all(o["failed"] for o in ops)
            if case == "queries":  # both the DuckDB hash check and the recall check
                fired = fired and {"a29_groupby_pricing", "dedup_clusters"} <= wl.bad
            print(f"{'ok  ' if fired else 'FAIL'} {name}/{case}: {failed} of {len(ops)} ops failed "
                  f"on a corrupted output", flush=True)
            if not fired:
                problems.append(f"{name}/{case}: corrupted output passed the check")
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = check_result_lines(spec) + check_corruption_fires()
    for p in problems:
        print("FAIL", p)
    print("selftest:", "passed" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
