#!/usr/bin/env python3
"""Records the expected output of every fixture query the workloads run.

    python3 perfbench/record.py

For each scale factor in workloads.json this generates the fixture
tables, dumps the workloads' queries with `graft.Verify` and checks the
dump against the DuckDB oracle with `tools/check.py`. It then runs the
benchmark JVM twice, in two different orders, and takes each query's
(row count, hash) from those runs. A query is checked by hash only if the
oracle passed it and both runs agree on the hash; otherwise by row count,
with the reason recorded. Any oracle failure or row-count disagreement
stops the recording.
"""
import json
import os
import subprocess
import sys

import run

TOOLS_CHECK = os.path.join(run.ROOT, "tools", "check.py")


def verify(sf, data, names):
    out = os.path.join(run.WORK, "verify", f"sf{sf}")
    env = dict(run.sbt_env(), SPARK_DRIVER_MEM=run.HEAP,
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    code, log = run.run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"runMain graft.Verify {data} {out} {','.join(names)}"],
        cwd=run.ROOT, env=env, timeout=1800, capture=True)
    if code != 0:
        sys.exit(f"graft.Verify failed:\n{log[-3000:]}")
    res = subprocess.run([sys.executable, TOOLS_CHECK, data, out],
                         capture_output=True, text=True)
    status = {}
    for line in res.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[1].rstrip(":") in names:
            status[parts[1].rstrip(":")] = parts[0]
    print(res.stdout)
    return status


def main():
    workloads = run.load_json("workloads.json")["workloads"]
    classpath, _ = run.build()
    expected = {}
    by_sf = {}
    for name, cfg in workloads.items():
        by_sf.setdefault(cfg["scale_factor"], []).extend(
            (name, q) for q in cfg["queries"] if q != "ingest_ndjson")
    for sf, pairs in sorted(by_sf.items()):
        data = run.fixtures(sf)
        names = sorted({q for _, q in pairs})
        status = verify(sf, data, names)
        bad = [q for q in names if status.get(q) not in ("PASS", "WEAK")]
        if bad:
            sys.exit(f"oracle check did not pass at sf{sf}: {bad}")
        runs = []
        for seed in (1, 2):
            got = {}
            for workload in sorted({w for w, _ in pairs}):
                plan = [(q, None, None) for w, q in pairs if w == workload]
                plan = plan if seed == 1 else plan[::-1]
                rec, _ = run.execute(f"record-{workload}", workloads[workload], classpath,
                                     data, plan, seed, 0, 60)
                got.update({it["name"]: it for it in rec["items"]})
            runs.append(got)
        table = {}
        for q in names:
            a, b = runs[0][q], runs[1][q]
            if a["rows"] != b["rows"] or a["rows"] < 0:
                sys.exit(f"{q}: row count differs between runs ({a['rows']} vs {b['rows']})")
            entry = {"rows": a["rows"], "hash": a["hash"], "check": "hash"}
            if status[q] == "WEAK":
                entry.update(check="rows", why="no oracle SQL: only the row count is attested")
            elif a["hash"] != b["hash"]:
                entry.update(check="rows", why="result rows are not bit-stable across runs")
            table[q] = entry
        expected[f"sf{sf}"] = table
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
