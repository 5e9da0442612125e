#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
runs one workload in a fresh JVM, checks its outputs against the golden
file and prints one JSON result line.

    python3 perfbench/run.py --workload battery_serial --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. Build output, the harness's work
directories and raw results go under `.bench_build/`. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GOLDEN = os.path.join(HERE, "golden.json")

# Input tables: the read-only test tables of TESTDATA.md, at the largest
# scale at which a workload's run fits its time budget (README.md,
# "Sizing").
TESTDATA = os.path.expanduser("~/testdata")
CPUS = len(os.sched_getaffinity(0))
SETUPS = 3
RUN_TIMEOUT_S = 170

# The battery: a fixed slice of SparkEntry.queries, the same in every
# run (the seed only shuffles its order): one query of every QueryGroup,
# light driver-bound ones and heavy kernels, plus one stream_* member.
# That member drains the whole 18-member stream group, which takes three
# times as long as the other eight queries together, so it runs once, at
# the start of the first pass: the repeat passes time the queries alone.
# Each query's time is weighted by the share of a full 160-query pass its
# QueryGroup takes (WEIGHTS below), so the drain counts as much as the
# streaming group does in the full battery, not more.
BATTERY = [
    "q1_agg",               # core
    "range_join",           # relational
    "a1_zonal_stats",       # aggregate
    "dedup_jaccard",        # text
    "sparse_cosine_pairs",  # corpus
    "sim_topk",             # vector
    "sessionize",           # advanced
    "funnel_steps",         # event
    "stream_daily_agg",     # streaming
]
FIRST_PASS_ONLY = ["stream_daily_agg"]

# The pipelines: a fixed slice of examples/ covering every sink kind
# (parquet, CSV, DuckDB over JDBC, publish), the ledger's skips, the
# re-run steps that never skip (jdbc_write) and the known re-run failure
# of corpus_clean.yml.
PIPELINES = [
    "corpus_clean.yml", "daily_rollup.yml", "profile_demo.yml",
    "relational_sink.yml",
]

# `repeats`: the fewest repeat passes after the first. A pipelines pass
# still warms up after four passes (cold runs of 11, 5, 4, 3.8 and
# 3.6 s), so its per-pipeline medians need more passes; the battery's
# warm passes spread no less with four repeats than with two.
WORKLOADS = {
    "battery_serial": {"mode": "battery", "sf": "sf0.01", "items": BATTERY, "repeats": 2},
    "pipelines": {"mode": "pipelines", "sf": "sf0.1", "items": PIPELINES, "repeats": 4},
}

# Seconds of a full pass over all 160 queries that each slice query
# stands for, per second of its own: its QueryGroup's total over its own
# time, both from one full battery run at sf0.01 (README.md, "Sizing").
# Cold: the first pass after set-up, in which the first stream_* query
# drains the stream group, so stream_daily_agg, which drains it here,
# stands for the group's total over that drain; warm: the mean of two
# later passes, without the streaming group, which the repeats do not
# run.
WEIGHTS_COLD = {
    "q1_agg": 1.0, "range_join": 15.01, "a1_zonal_stats": 32.26,
    "dedup_jaccard": 30.89, "sparse_cosine_pairs": 8.72, "sim_topk": 35.5,
    "sessionize": 18.85, "funnel_steps": 3.53, "stream_daily_agg": 1.19,
}
WEIGHTS_WARM = {
    "q1_agg": 1.0, "range_join": 12.41, "a1_zonal_stats": 28.18,
    "dedup_jaccard": 32.83, "sparse_cosine_pairs": 14.3, "sim_topk": 29.37,
    "sessionize": 21.28, "funnel_steps": 3.44,
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; cache the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_harness(cp, workload, seed, seconds, trace):
    spec = WORKLOADS[workload]
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--mode", spec["mode"], "--items", ",".join(spec["items"]),
            "--sf-dir", os.path.join(TESTDATA, spec["sf"]),
            "--first-pass-only", ",".join(FIRST_PASS_ONLY),
            "--examples", os.path.join(ROOT, "examples"), "--work", work,
            "--seed", str(seed), "--repeats", str(max(spec["repeats"], seconds // 4)),
            "--trace", str(trace), "--setups", str(SETUPS),
            "--cpus", str(CPUS), "--out", out]
    log = os.path.join(BUILD, f"{workload}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out (log: {log})")
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def pct(values, q):
    """Nearest-rank percentile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def load_golden():
    if not os.path.exists(GOLDEN):
        return {}
    with open(GOLDEN) as f:
        return json.load(f)


def check(res, golden):
    """Compare the run's outputs with the golden ones. Returns the
    mismatches, which make the run incorrect, and the declared pipeline
    outputs that exist but cannot be read, which are failed operations.
    A missing output is a mismatch even where the golden file agrees."""
    expect = golden.get(res["mode"], {})
    mismatches, unreadable = [], []
    names = [it["name"] for it in res["passes"][0]["items"]]
    for name in sorted(set(names) | set(expect)):
        got, want = res["checks"].get(name), expect.get(name)
        if want is None:
            mismatches.append(f"{name}: no golden entry")
        elif res["mode"] == "pipelines" and got is not None:
            for out in sorted(set(got) | set(want)):
                rows = got.get(out, -1)
                if isinstance(rows, str):
                    unreadable.append(f"{name}: {out}: {rows}")
                elif rows == -1:
                    mismatches.append(f"{name}: {out} is missing")
                elif rows != want.get(out):
                    mismatches.append(f"{name}: {out}: got {rows}, golden {want.get(out)}")
        elif got != want:
            mismatches.append(f"{name}: got {got}, golden {want}")
    return mismatches, unreadable


def item_medians(passes, phase="", weights=None):
    """Sum over items of each item's median time across `passes`: the
    wall of a pass whose every item took its median time, each item
    weighted by `weights` when given. An item's failed attempts count
    only when it never succeeded."""
    times = {}
    for p in passes:
        for it in p["items"]:
            if it["phase"] == phase:
                times.setdefault(it["name"], []).append(it)
    total = 0.0
    for name, attempts in times.items():
        ok = [a["s"] for a in attempts if not a["error"]]
        weight = 1.0 if weights is None else weights[name]
        total += weight * statistics.median(ok or [a["s"] for a in attempts])
    return total


def end_to_end(res):
    """The gated metrics. A battery's first pass runs the drain and every
    query cold; its repeats time the queries warm; both are weighted to a
    full 160-query pass. Every pipelines pass is a cold run into a fresh
    workdir and a re-run on it, and the per-pipeline medians keep the
    JVM's first pass out."""
    passes = res["passes"]
    if res["mode"] == "battery":
        cold = item_medians(passes[:1], weights=WEIGHTS_COLD)
        rerun = item_medians(passes[1:], weights=WEIGHTS_WARM)
    else:
        cold = item_medians(passes, "cold")
        rerun = item_medians(passes, "rerun")
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "cold_setup_s": (res["setup_s"][0], "s"),
        "cold_run_s": (cold, "s"),
        "rerun_s": (rerun, "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }


def per_layer(res):
    """The per-layer metrics of a traced run: totals over its two traced
    passes (the first pass and one repeat). Every metric BENCHMARK.json
    names is reported; a layer the workload does not touch reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    got = dict(res["layers"])
    got["jvm.gc_s"] = res["jvm"]["gc_s"]
    got["jvm.jit_s"] = res["jvm"]["jit_s"]
    if res["mode"] == "battery":
        groups = res["groups"]
        items = [it for p in res["passes"] for it in p["items"]]
        got["queries.build_s"] = sum(it["build_s"] for it in items)
        latencies = [it["s"] for it in res["passes"][1]["items"]]
        got["queries.p50_s"] = pct(latencies, 0.5)
        got["queries.p90_s"] = pct(latencies, 0.9)
        for g in set(groups.values()):
            got[f"queries.{g}_s"] = sum(it["s"] for it in items if groups[it["name"]] == g)
    got["trace.overhead_s"] = res["passes"][1]["wall_s"] - res["untraced_pass"]["wall_s"]
    unknown = sorted(set(got) - set(names))
    if unknown:
        print(f"perfbench: layers not in BENCHMARK.json: {unknown}", file=sys.stderr)
    return {k: (got.get(k, 0.0), u) for k, u in names.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-golden", action="store_true",
                    help="record this run's outputs as the golden ones")
    a = ap.parse_args()

    for need in ["build.sbt", "src/main/scala", "examples", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the engine: {need} is missing")
    sf_dir = os.path.join(TESTDATA, WORKLOADS[a.workload]["sf"])
    if not os.path.isdir(sf_dir):
        fail(f"input tables not found: {sf_dir}")

    cp = build()
    res = run_harness(cp, a.workload, a.seed, a.seconds, a.trace)

    golden = load_golden()
    if a.write_golden:
        bad = check(res, {res["mode"]: res["checks"]})
        if any(bad):
            fail(f"not writing a golden file with these outputs: {bad}")
        golden[res["mode"]] = res["checks"]
        with open(GOLDEN, "w") as f:
            json.dump(golden, f, indent=1, sort_keys=True)
            f.write("\n")
    mismatches, unreadable = check(res, golden)
    errors = [f"{it['name']} (pass {i + 1} {it['phase']}): {it['error']}"
              for i, p in enumerate(res["passes"]) for it in p["items"] if it["error"]]
    errors += unreadable
    metrics = per_layer(res) if a.trace else end_to_end(res)

    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "order": res["order"], "setup_runs_s": res["setup_s"],
        "pass_walls_s": [p["wall_s"] for p in res["passes"]],
        "errors": errors, "mismatches": mismatches,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    with open(os.path.join(BUILD, f"{a.workload}.artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for e in errors + mismatches:
        print(f"perfbench: failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not mismatches,
        "attempted": sum(len(p["items"]) for p in res["passes"]),
        "failed": len(errors) + len(mismatches),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
