#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark (sbt, offline) and generates the fixture tables; later runs
reuse both. Each run starts a fresh JVM with a fresh
`GraftSession.builder(local[n], n)`, n = the machine's cores, then one
client submits the workload's items one at a time in a seed-permuted
order and checks every result against `expected.json`.

With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1` the run registers listeners, records spans
(written to `.work/trace/`) and the last line carries the per-layer
metrics. Human-readable lines before it give every figure with its unit.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep margin for exit
# an item past the watchdog is cancelled and fails; no item starts after
# the pass deadline. Set-up, the deadline, one watchdog and the closing
# calibration together stay inside RUN_LIMIT_S.
WATCHDOG_S = 30
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


# --- build -----------------------------------------------------------------

BUILD_FILES = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]


def source_files():
    files = list(BUILD_FILES)
    for r in SOURCE_ROOTS:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine and benchmark if their sources changed; returns the
    runtime classpath and the sources' stamp."""
    for f in BUILD_FILES + SOURCE_ROOTS:
        if not os.path.exists(f):
            fail(f"missing {os.path.relpath(f, ROOT)}: run from a checkout of the engine")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"], stamp
    os.makedirs(WORK, exist_ok=True)
    code, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                         timeout=850, capture=True)
    lines = [ln for ln in out.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip(), stamp


def run_proc(cmd, cwd, env=None, timeout=RUN_LIMIT_S, capture=False, stderr=None):
    """Runs `cmd` in its own process group and waits for it; on timeout
    kills the whole group. Returns (exit code, captured stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                         stderr=subprocess.STDOUT if capture else stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        print(f"perfbench: {cmd[0]} killed after {timeout:.0f}s", file=sys.stderr)
        return -9, out or ""
    finally:
        # the engine keeps per-process scratch in /dev/shm when it can
        # (else under the run's temp dir, removed with it); remove this
        # JVM's so that runs do not accumulate it
        shutil.rmtree(f"/dev/shm/graft_local_{p.pid}", ignore_errors=True)
    return p.returncode, out or ""


# --- inputs ----------------------------------------------------------------

def fixtures(sf):
    """Fixture tables of scale factor `sf`, generated once per checkout."""
    d = os.path.join(WORK, "data", f"sf{sf}")
    marker = os.path.join(d, "GENERATED")
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()
    if os.path.exists(marker) and open(marker).read() == version:
        return d
    shutil.rmtree(d, ignore_errors=True)
    gen.write_fixtures(sf, d)
    with open(marker, "w") as fh:
        fh.write(version)
    return d


def ingest_inputs(seed):
    """NDJSON arrivals of `seed` and their expected (groups, hash, corrupt)."""
    d = os.path.join(WORK, "ingest", f"seed-{seed}")
    exp_file = os.path.join(d, "expected.json")
    if not os.path.exists(exp_file):
        shutil.rmtree(d, ignore_errors=True)
        groups, digest, corrupt = gen.write_arrivals(seed, os.path.join(d, "arrivals"))
        with open(exp_file, "w") as fh:
            json.dump({"groups": groups, "hash": digest, "corrupt": corrupt}, fh)
    with open(exp_file) as fh:
        return os.path.join(d, "arrivals"), json.load(fh)


# --- metrics ---------------------------------------------------------------

def order(items, seed):
    """The run order of a workload's items: a permutation fixed by seed."""
    out = sorted(items)
    random.Random(seed).shuffle(out)
    return out


def percentile(xs, p):
    """Nearest-rank percentile `p` of `xs`."""
    s = sorted(xs)
    return s[max(0, -(-p * len(s) // 100) - 1)]


def samples_beyond(n, p):
    """Samples of `n` strictly above the nearest-rank percentile `p`; a
    timing is reported at `p` only when at least ten lie beyond it."""
    return n - (-(-p * n // 100))


def end_to_end(rec, attempted, failed):
    items = rec["items"]
    # an item skipped at the pass deadline failed but never ran: no latency
    lat = [it["seconds"] for it in items if not it["skipped"]]
    correct = sum(1 for it in items if it["ok"])
    return {
        "setup_s": (rec["setup_s"], "s"),
        "throughput_qps": (correct / rec["pass_s"], "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "heap_live_peak_mb": (rec["heap_live_peak_mb"], "MB"),
    }, {
        "fail_frac": failed / attempted,
        "latency_samples": len(lat),
        "latency_p90_s": percentile(lat, 90),
        "p90_samples_beyond": samples_beyond(len(lat), 90),
    }


def config_key(workload, cfg, stamp):
    """Identifies the code and workload definition a run measured."""
    return hashlib.sha256(json.dumps([workload, cfg["scale_factor"], cfg["queries"], stamp])
                          .encode()).hexdigest()


def overhead(key, traced_qps):
    """Tracing overhead against the median throughput of this checkout's
    untraced runs of the same code and workload, with their count; None
    when there are none."""
    log = os.path.join(WORK, "untraced.jsonl")
    qps = []
    if os.path.exists(log):
        with open(log) as fh:
            qps = [r["qps"] for r in map(json.loads, fh) if r["key"] == key]
    return (1.0 - traced_qps / statistics.median(qps), len(qps)) if qps else None


def execute(workload, cfg, classpath, data, plan, seed, trace, seconds):
    """One JVM run over `plan`, a list of (item, expected rows, expected
    hash); None leaves a value unchecked. Returns the run record and the
    path of its span file."""
    extra = []
    if any(name == "ingest_ndjson" for name, _, _ in plan):
        arrivals, exp = ingest_inputs(seed)
        extra = ["--ingest", arrivals, "--ingest-corrupt", str(exp["corrupt"])]
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    with open(os.path.join(run_dir, "plan.tsv"), "w") as fh:
        fh.writelines(f"{n}\t{'-' if r is None else r}\t{'-' if h is None else h}\n"
                      for n, r, h in plan)
    out = os.path.join(run_dir, "record.json")
    trace_dir = os.path.join(WORK, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    spans = os.path.join(trace_dir, f"{workload}-seed{seed}.jsonl")
    cmd = (["java", *ADD_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main",
            "--plan", os.path.join(run_dir, "plan.tsv"), "--out", out,
            "--work", run_dir, "--data", data, "--cores", str(os.cpu_count() or 1),
            "--workload", workload, "--trace", str(trace),
            "--spans", spans, "--tables", ",".join(cfg["tables"]),
            "--watchdog-s", str(WATCHDOG_S),
            "--deadline-s", str(int(min(90, max(45, 4 * seconds))))] + extra)
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        code, _ = run_proc(cmd, cwd=ROOT, stderr=log)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"benchmark JVM exited {code}")
    with open(out) as fh:
        return json.load(fh), spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    workloads = load_json("workloads.json")
    if args.workload not in workloads["workloads"]:
        fail(f"unknown workload {args.workload}")
    cfg = workloads["workloads"][args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    classpath, stamp = build()
    sf = cfg["scale_factor"]
    data = fixtures(sf)
    expected = load_json("expected.json")[f"sf{sf}"]

    plan = []
    for name in order(cfg["queries"], args.seed):
        if name == "ingest_ndjson":
            _, exp = ingest_inputs(args.seed)
            plan.append((name, exp["groups"], exp["hash"]))
        else:
            e = expected[name]
            plan.append((name, e["rows"], e["hash"] if e["check"] == "hash" else None))
    rec, spans = execute(args.workload, cfg, classpath, data, plan, args.seed,
                         args.trace, args.seconds)

    key = config_key(args.workload, cfg, stamp)
    attempted = len(rec["items"])
    failed = sum(1 for it in rec["items"] if not it["ok"])
    e2e, extra_figs = end_to_end(rec, attempted, failed)
    print(f"workload {args.workload}  seed {args.seed}  sf {sf}  cores {os.cpu_count()}  "
          f"trace {args.trace}  items {attempted}")
    for it in rec["items"]:
        status = "ok" if it["ok"] else f"FAILED: {it['error']}"
        print(f"  {it['name']:40s} {it['seconds']:8.3f} s  rows {it['rows']:>8}  {status}")
    print(f"calibration_start_s {rec['calib_start_s']:.3f}  calibration_end_s "
          f"{rec['calib_end_s']:.3f}  degraded_from {rec['degraded_from']}  "
          f"pass_s {rec['pass_s']:.3f}")
    print(f"fail_frac {extra_figs['fail_frac']:.4f}  ({failed}/{attempted})")
    print(f"latency_p50_s over {extra_figs['latency_samples']} samples")
    if args.workload == "small-catalog":
        note = ("" if extra_figs["p90_samples_beyond"] >= 10 else
                "  (fewer than 10 samples beyond p90: not a reportable percentile)")
        print(f"latency_p90_s {extra_figs['latency_p90_s']:.4f} s over "
              f"{extra_figs['latency_samples']} samples{note}")

    if args.trace:
        over = overhead(key, e2e["throughput_qps"][0])
        if over is not None:
            print(f"trace.overhead_frac {over[0]:.4f} frac (against the median "
                  f"throughput_qps of {over[1]} untraced runs of this code)")
        else:
            print("trace.overhead_frac not measured: no untraced run of this code "
                  "and workload in this checkout")
        print(f"spans in {os.path.relpath(spans, ROOT)}")
        metrics = {k: {"value": rec["layers"][k], "unit": units[k]} for k in units}
    else:
        with open(os.path.join(WORK, "untraced.jsonl"), "a") as fh:
            fh.write(json.dumps({"key": key, "seed": args.seed,
                                 "qps": e2e["throughput_qps"][0]}) + "\n")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
