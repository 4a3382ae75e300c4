#!/usr/bin/env python3
"""Closed-loop benchmark of the graft Spark engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload analytics|curation|ingest \
      --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), makes the seed's
inputs (perfbench/inputs.py), runs one benchmark JVM (perfbench.Main)
and checks every set-up pass's outputs against the DuckDB oracle
(perfbench/oracle.py). The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from the traced passes, and the spans go to
.bench_work/traces/. Everything is read and written inside the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402
from oracle import Oracle  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
SETUPS = 2
WARMUP_S = 4
HEAP = "3g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def end_to_end(res: dict, failed: int) -> dict:
    passes = res["passes"]
    med = lambda k: statistics.median(p[k] for p in passes)  # noqa: E731
    return {
        "wall_s": (med("wall_s"), "s"),
        "cpu_s": (med("cpu_s"), "s"),
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "peak_storage_mb": (med("peak_storage_mb"), "MB"),
        "ok_share": (1 - failed / res["attempted"], "share"),
    }


UNITS = {"_s": "s", "_mb": "MB", "_share": "share", "_skew": "ratio"}


def per_layer(res: dict) -> dict:
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    out = {}
    for k in traced[0]:
        if "." in k:
            unit = next((u for s, u in UNITS.items() if k.endswith(s)), "count")
            out[k] = (statistics.median(p[k] for p in traced), unit)
    out["sources.bytes_written"] = (out["sources.bytes_written"][0], "B")
    out["jvm.jit_s"] = (statistics.median(res["setup_jit_s"]), "s")
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced) -
                               statistics.median(p["wall_s"] for p in plain), "s")
    return out


def main() -> int:
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = spec["workloads"][a.workload]
    build.build()
    t0 = time.time()
    data = inputs.ensure(os.path.join(HERE, "data"), os.path.join(WORK, "inputs"), a.seed)
    run = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run, d))
    traces = os.path.join(WORK, "traces")
    for d in (traces, os.path.join(WORK, "results")):
        os.makedirs(d, exist_ok=True)
    try:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
        env.pop("SPARK_GRAFT_EXTRA_CONF", None)
        cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={run}/tmp", f"-Dspark.local.dir={run}/local",
                "-cp", build.classpath(), "perfbench.Main",
                "--workload", a.workload, "--queries", ",".join(w["queries"]),
                "--fresh", w["fresh"],
                "--seconds", str(a.seconds), "--warmup", str(WARMUP_S),
                "--trace", str(a.trace),
                "--setups", str(SETUPS), "--data", data, "--work", run,
                "--out", f"{run}/result.json",
                "--trace-out", f"{traces}/{a.workload}-seed{a.seed}.json"])
        budget = max(10.0, 175 - (time.time() - t0))
        subprocess.run(cmd, cwd=run, env=env, check=True, timeout=budget,
                       stdout=sys.stderr)
        res = json.load(open(f"{run}/result.json"))
        try:  # the per-pass record is an artifact; losing it must not lose the result
            shutil.copyfile(f"{run}/result.json",
                            os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}.json"))
        except OSError as e:
            print(f"[perfbench] result record not kept: {e}", file=sys.stderr)

        sqls = json.load(open(f"{run}/oracle_sql.json"))
        oracle = Oracle(data, os.path.join(WORK, "oracle", os.path.basename(data)))
        failed = len(res["errors"])
        for i in range(SETUPS):
            for q in w["queries"]:
                if q in res["errors"]:
                    continue
                try:
                    why = "no oracle" if q not in sqls else \
                        oracle.mismatch(q, sqls[q], f"{run}/out/setup{i}/{q}")
                except Exception as e:  # an unreadable output fails its query, not the run
                    why = f"check failed: {e}"
                if why:
                    print(f"[perfbench] {q} setup{i}: {why}", file=sys.stderr)
                    failed += 1
        metrics = per_layer(res) if a.trace else end_to_end(res, failed)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": res["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
