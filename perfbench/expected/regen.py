#!/usr/bin/env python3
"""Regenerates expected/ops.tsv, the expected output of every operation
the benchmark can time: the 89 SparkEntry queries implemented in
graft.analytics and the 12 dedup_graph queries, 101 in all.

    python3 perfbench/expected/regen.py

It needs the `duckdb` and `pandas` Python modules. Steps:
1. graft.Verify writes each query's output over perfbench/data/sf0.01
   as parquet, with the oracle SQL (SparkEntry.oracleSql) beside it;
2. tools/check_oracle.py runs that SQL in DuckDB and compares (the tool
   is used as it is, read-only); every query must pass;
3. perfbench.Expect records each output's row count, digest and schema.

The `workload` column says which workload times the query; `none` means
the query is checked here but not timed (see README.md).
"""
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's own build and JVM launch)

DATA = os.path.join(HERE, "data", "sf0.01")
OUT_TSV = os.path.join(HERE, "expected", "ops.tsv")

# The queries each timed workload runs; README.md says why these.
ANALYTICS_MIX = [
    "q02_revenue_by_flag", "q07_revenue_by_nation", "q09_running_window",
    "q10_setops", "q12_json_extract", "q14_sessionize", "q27_subquery",
    "q33_percentiles", "q42_cube", "q48_pivot", "q62_outer_join",
    "q120_copurchase", "q165_snapshot_diff", "q166_k_anonymity",
    "q175_mv_merge", "q180_benford_audit", "q197_drift_monitor",
    "q202_dp_histogram",
]
DEDUP_GRAPH_TIMED = [
    "q20_ngram_jaccard", "q145_containment", "q98_consensus_neardup",
    "q196_kcore", "q208_label_prop",
]
DEDUP_GRAPH = DEDUP_GRAPH_TIMED + [
    "q168_cluster_split", "q244_cluster_shards", "q191_effective_size",
    "q253_ann_router", "q224_hits", "q254_curation_pipeline",
    "q255_curation_refresh",
]
ALIASES = {"R": "analytics", "E": "analytics", "T": "text", "D": "dedup",
           "V": "vector", "G": "graph"}


def query_modules():
    """Module of each SparkEntry query, read from the source: the
    `graft.<module>.` object it calls, or the alias SparkEntry imports."""
    path = os.path.join(run.ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    src = open(path).read()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    mods = {}
    for entry in re.split(r'\n\s*(?="q\d+)', body):
        m = re.match(r'"(q\d+\w*)"\s*->\s*(.*)', entry, re.S)
        if not m:
            continue
        rhs = re.sub(r"//.*", "", m.group(2))
        full = re.search(r"graft\.(\w+)\.", rhs)
        alias = re.search(r"\b([RETDVG])\.\w+", rhs)
        mods[m.group(1)] = full.group(1) if full else ALIASES[alias.group(1)]
    return mods


def main():
    mods = query_modules()
    analytics = sorted(n for n, m in mods.items() if m == "analytics")
    names = analytics + DEDUP_GRAPH
    unknown = set(ANALYTICS_MIX + DEDUP_GRAPH) - set(mods)
    if unknown:
        sys.exit(f"not SparkEntry queries: {sorted(unknown)}")
    classpath = run.build()
    run.fresh_workdir()
    out = os.path.join(run.WORK, "verify")
    env = dict(run.engine_env(), SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_CKPT_DIR=os.path.join(run.WORK, "checkpoints"))
    rc, _ = run.run_child(run.java_cmd(classpath, "graft.Verify", DATA, out, ",".join(names)),
                          3600, run.ROOT, env=env)
    if rc != 0:
        sys.exit(f"graft.Verify exited with {rc}")
    ledger = os.path.join(run.WORK, "oracle.json")
    checker = os.path.join(run.ROOT, "tools", "check_oracle.py")
    rc, _ = run.run_child([sys.executable, checker, DATA, out, f"--json={ledger}"],
                          3600, run.ROOT)
    status = {k: v["status"] for k, v in json.load(open(ledger)).items()}
    plan = os.path.join(run.WORK, "plan.tsv")
    with open(plan, "w") as f:
        for n in names:
            wl = ("analytics_mix" if n in ANALYTICS_MIX else
                  "dedup_graph" if n in DEDUP_GRAPH_TIMED else "none")
            f.write(f"{n}\t{mods[n]}\t{wl}\t{status.get(n, 'missing')}\n")
    rc, _ = run.run_child(run.java_cmd(classpath, "perfbench.Expect", out, plan, OUT_TSV, run.WORK),
                          3600, run.ROOT, env=env)
    if rc != 0:
        sys.exit(f"perfbench.Expect exited with {rc}")
    failed = sorted(n for n in names if status.get(n) != "pass")
    print(f"{len(names)} operations, {len(names) - len(failed)} pass the oracle"
          + (f"; failing: {failed}" if failed else ""))
    shutil.rmtree(out)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
