#!/usr/bin/env python
"""A/B a single Spark conf value across a set of catalog entries.

Round-13 instrument for the VERDICT r12 32-core anti-scaling cluster
(corpus_clean_pipeline 0.28, ann_topk_ivf 0.40, source_distinct_hll
0.44, dedup_clusters_capped 0.49, contamination_bloom 0.53,
dedup_minhash_pairs 0.54): hypothesis is guide §5 memory pressure —
spark.driver.memory=8g shared by 32 concurrent tasks leaves ~150 MB
of execution+storage per task for wide-state aggregates, vs 4x that
at 8 cores. Each (conf, value) variant runs in a FRESH JVM (local
mode cannot resize a live driver heap), same bench methodology
(min-of-N, clearCache between repeats), and reports per-entry
min-of-N wall time per variant; with two or more variants, a
first-vs-second speedup table follows the raw JSON.

Usage: python scripts/ab_driver_mem.py <sf_dir> <cpus> <mem1,mem2> q1 q2 ...
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

WORKER = """
import json, os, sys, time
sys.path.insert(0, {root!r})
from sqltask_spark.queries import QUERIES
from sqltask_spark.session import get_spark
import pandas as pd
from pyspark.sql import functions as F

mem = sys.argv[1]
cpus = sys.argv[2]
sf_dir = sys.argv[3]
names = sys.argv[4:]
spark = get_spark(
    app_name=f"ab_mem_{{mem}}",
    master=f"local[{{cpus}}]",
    conf={{
        "spark.sql.shuffle.partitions": cpus,
        "spark.ui.enabled": "false",
        "spark.driver.memory": mem,
    }},
)
spark.sparkContext.setLogLevel("ERROR")
QUERIES["q1_pricing_summary"](spark, sf_dir).limit(1).collect()

@F.pandas_udf("long")
def _warm(s: pd.Series) -> pd.Series:
    return s

spark.range(1000).repartition(int(cpus)).select(_warm("id")).count()
out = {{}}
repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
for name in names:
    best = None
    for _ in range(repeats):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    out[name] = round(best, 3)
print("ABRESULT " + json.dumps({{"mem": mem, "times": out}}))
"""


def main() -> int:
    sf_dir, cpus, mems = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    names = sys.argv[4:]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = WORKER.format(root=root)
    results = {}
    for mem in mems:
        p = subprocess.run(
            [sys.executable, "-c", script, mem, cpus, sf_dir, *names],
            capture_output=True, text=True,
        )
        for line in p.stdout.splitlines():
            if line.startswith("ABRESULT "):
                rec = json.loads(line[len("ABRESULT "):])
                results[rec["mem"]] = rec["times"]
        if mem not in results:
            print(f"variant {mem} FAILED:\n{p.stderr[-2000:]}")
            return 1
    print(json.dumps(results, indent=1))
    if len(mems) < 2:
        return 0
    a, b = mems[0], mems[1]
    print(f"\n{'entry':35s} {a:>8s} {b:>8s}  speedup")
    for n in names:
        ta, tb = results[a].get(n), results[b].get(n)
        if ta and tb:
            print(f"{n:35s} {ta:8.3f} {tb:8.3f}  {ta / tb:6.2f}x")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
