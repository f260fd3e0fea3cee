"""8-vs-32-core scaling artifact at sf1 (VERDICT r13 #4).

The sf0.1 bench cannot demonstrate parallelism (the per-job scheduler
floor dominates; 8 cores beats 32 on most entries). This tool times
the heavy DISTRIBUTED machinery at sf1 under both core counts in
separate processes and records the 32v8 speedup per entry. The graph
queries' driver-local tiers are core-count-insensitive BY DESIGN (the
whole point is removing distributed overhead at model scale), so for
the graph loops the env-tunable gates are forced to the distributed
loops — the regime a real cluster runs — while the dedup/sql entries
run their default (distributed) paths.

Usage: python tools_scaling_8v32.py [sf1_dir]
Writes SCALE_8v32_r14.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
SF1 = sys.argv[1] if len(sys.argv) > 1 else str(REPO / ".scale" / "sf1")

QUERIES = [
    "graph_pagerank",
    "graph_label_prop",
    "graph_mst",
    "llm_dedup_minhash",
    "llm_dedup_e2e",
    "agg_ks_test",
    "sql_q2",
]

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from local_etl_spark.session import get_spark
from local_etl_spark.catalog import TABLES, table
from local_etl_spark.registry import all_queries
spark = get_spark("scale-8v32", cpus={cpus})
spark.sparkContext.setLogLevel("ERROR")
sf = {sf!r}
for name in TABLES:
    table(spark, sf, name).count()
qs = all_queries()
out = {{}}
for name in {queries!r}:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        qs[name](spark, sf).count()
        best = min(best, time.perf_counter() - t0)
    out[name] = round(best, 3)
    print(json.dumps({{name: out[name]}}), flush=True)
print("RESULT " + json.dumps(out))
"""


def run(cpus: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    # force the graph loops onto their DISTRIBUTED loops (broadcast
    # regime — the real-cluster shape below the broadcast gate)
    env["SPARK_GRAFT_PR_LOCAL_MAX_EDGES"] = "0"
    env["SPARK_GRAFT_MST_LOCAL_MAX_EDGES"] = "0"
    code = CHILD.format(repo=str(REPO), cpus=cpus, sf=SF1, queries=QUERIES)
    p = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"child rc={p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")


def calib() -> tuple:
    import multiprocessing as mp

    def burn(n):
        s = 0
        for i in range(n):
            s += i

    t = time.perf_counter()
    burn(10_000_000)
    st = round(10.0 / (time.perf_counter() - t), 1)
    n = os.cpu_count() or 1
    with mp.Pool(n) as pool:
        t = time.perf_counter()
        pool.map(_burn_mp, [5_000_000] * n)
        mt = round(5.0 * n / (time.perf_counter() - t), 1)
    return st, mt


def _burn_mp(n):
    s = 0
    for i in range(n):
        s += i


def main():
    st0, mt0 = calib()
    r8 = run(8)
    r32 = run(32)
    st1, mt1 = calib()
    out = {
        "sf1_dir": SF1,
        "forced_tiers": "PR_LOCAL=0 MST_LOCAL=0 (graph loops on the distributed loop, broadcast hint)",
        "cpus8": r8,
        "cpus32": r32,
        "speedup_32v8": {
            k: round(r8[k] / r32[k], 2) for k in r8 if k in r32 and r32[k] > 0
        },
        "calib_st": [st0, st1],
        "calib_mt": [mt0, mt1],
        "wall_clock": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime()),
    }
    (REPO / "SCALE_8v32_r14.json").write_text(json.dumps(out, indent=1))
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
