#!/usr/bin/env python3
"""graft's benchmark: one workload, closed loop, a fixed amount of timed work.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness (perfbench/harness, sbt) into .bench_build/, and each seed's input
is generated there once (perfbench/gen.py). The harness JVM then
sets up a session through GraftSession, warms up, and runs the timed passes
of the workload's mix (--seconds worth at 4 cores); every operation's output
is then checked (DuckDB oracle for batch queries, batch-fold parity for the
streaming twins). Human-readable lines go to stdout first; the last line is
one JSON object {"correct", "attempted", "failed", "metrics"} holding the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

Workloads and the reasons for them are listed in perfbench/README.md.
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
import time

# run.py imports gen.py and the repo's tools/check_oracle.py; leave no
# __pycache__ behind in the checkout
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
# a run ends within DEADLINE_S of its start, not counting a first build
# (at most BUILD_TIMEOUT_S)
DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 600

# nominal_pass_s is a pass's length at 4 cores: --seconds buys
# ceil(seconds / nominal_pass_s) timed passes (at least 2), so every run of
# a workload does the same timed work however fast the machine is that day
WORKLOADS = {
    "equipment": {"kind": "batch", "ops": ["q01", "q05", "q07", "q251", "q287"], "op": "query",
                  "nominal_pass_s": 3.0},
    "stream_replay": {"kind": "stream", "ops": ["holt", "kalman"], "op": "batch",
                      "nominal_pass_s": 2.0, "slices": 30, "slices_per_pass": 1},
}
# only the cold pass is warm-up: the JIT keeps compiling for a dozen passes
# more, so further warm-up buys no plateau, while more timed passes keep the
# medians from following a slow spell of a shared host
WARMUP_PASSES = 1

# Spark on JDK 17 needs these outside spark-submit (the same list graft's
# build.sbt passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

T0 = time.monotonic()
BUILD_S = 0.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def remaining():
    return DEADLINE_S - (time.monotonic() - T0 - BUILD_S)


# ---------------------------------------------------------------- build

def source_hash():
    """Content hash of everything the harness classpath is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(HERE, "harness", "build.sbt"))
    files.append(os.path.join(HERE, "harness", "project", "build.properties"))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness once per source tree; return the classpath."""
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = source_hash()
    out = os.path.join(WORK, "build", digest)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), digest, 0.0
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t = time.monotonic()
    with open(os.path.join(out, "build.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=logf, text=True, timeout=BUILD_TIMEOUT_S)
        logf.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if "scala-2.13" in ln and ":" in ln]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (see {os.path.relpath(out, ROOT)}/build.log)", 1)
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(lines[-1].strip())
    os.replace(cp_file + ".tmp", cp_file)
    secs = time.monotonic() - t
    log(f"built graft + harness in {secs:.1f} s")
    return lines[-1].strip(), digest, secs


def git_commit():
    """HEAD of the checkout, or None where it is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- inputs

def inputs(seed, scale):
    """The seed's input tables, generated once and reused."""
    sys.path.insert(0, HERE)
    import gen
    d = os.path.join(WORK, "data", f"sf{scale}-seed{seed}")
    marker = os.path.join(d, "rows.json")
    if os.path.isfile(marker):
        with open(marker) as fh:
            return d, json.load(fh), 0.0
    t = time.monotonic()
    counts = gen.write(d, seed, scale)
    secs = time.monotonic() - t
    with open(marker, "w") as fh:
        json.dump(counts, fh)
    log(f"generated sf{scale} inputs for seed {seed} in {secs:.1f} s")
    return d, counts, secs


# ---------------------------------------------------------------- harness

def run_harness(cp, wl, args, data_dir, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap keeps the resident set independent of when
    # G1 decides to grow the heap, so peak_rss_mb moves with off-heap memory
    # (metaspace, code cache, RocksDB) rather than with GC timing
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dderby.system.home={run_dir}",
              # graft's build runs every forked JVM with this codegen cache
              # size; at Spark's default (100) the cache thrashed, so each
              # warm pass recompiled 62-88 classes depending on the seed's
              # query order and pass_s moved with the seed, not the code
              "-Dspark.sql.codegen.cache.maxEntries=8192",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", cp, "graftbench.Main",
              "--kind", wl["kind"], "--ops", ",".join(wl["ops"]),
              "--data", data_dir, "--out", run_dir, "--seed", str(args.seed),
              "--trace", str(args.trace), "--warmup", str(WARMUP_PASSES),
              "--passes", str(max(2, math.ceil(args.seconds / wl["nominal_pass_s"])))])
    if wl["kind"] == "stream":
        cmd += ["--slices", str(wl["slices"]), "--slices-per-pass", str(wl["slices_per_pass"])]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(remaining() - 8.0, 5.0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness JVM ran past the deadline and was stopped", 1)
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(result):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        log(tail)
        fail(f"harness JVM exited with {rc}", 1)
    with open(result) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- checks

def oracle_gate(run_dir, data_dir, queries):
    """DuckDB oracle over each query's written output, canonicalized the way
    tools/check_oracle.py does. Returns {query: None | failure text}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check_oracle import TABLES, canon, type_mismatches
    con = duckdb.connect()
    for t in TABLES:
        if os.path.isfile(f"{data_dir}/{t}.parquet"):  # gen.py writes what the mixes read
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    verdict = {}
    for q in queries:
        try:
            got_rel = con.sql(f"SELECT * FROM '{run_dir}/{q}/*.parquet'")
            got_desc = list(zip(got_rel.columns, [str(t) for t in got_rel.types]))
            got = canon(got_rel.fetchall(), got_rel.columns)
            exp_rel = con.sql(oracle[q])
            exp_desc = list(zip(exp_rel.columns, [str(t) for t in exp_rel.types]))
            exp = canon(exp_rel.fetchall(), exp_rel.columns)
        except Exception as e:  # noqa: BLE001 - any error fails the query
            verdict[q] = f"exception {e}"
            continue
        if sorted(got_rel.columns) != sorted(exp_rel.columns):
            verdict[q] = f"columns spark={sorted(got_rel.columns)} oracle={sorted(exp_rel.columns)}"
        elif type_mismatches(got_desc, exp_desc):
            verdict[q] = "column types " + "; ".join(type_mismatches(got_desc, exp_desc))
        elif got != exp:
            verdict[q] = f"rows differ: spark={len(got)} oracle={len(exp)}"
        else:
            verdict[q] = None
    return verdict


def gate(wl, res, run_dir, data_dir):
    """{operation name: None | failure text} for every operation in the mix."""
    checks = res["checks"]
    if wl["kind"] == "stream":
        return {k: None if v["ok"] else "; ".join(v["mismatches"]) or "parity failed"
                for k, v in checks.items()}
    verdict = oracle_gate(run_dir, data_dir,
                          [q for q in checks["queries"] if q not in checks["errors"]])
    verdict.update(checks["errors"])
    return verdict


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def metrics(wl, res, trace):
    """(end-to-end, per-layer, notes): each metric maps to (value, unit)."""
    untraced = [p for p in res["passes"] if not p["traced"]]
    plain = {p["pass"] for p in untraced}
    lat = [o["seconds"] for o in res["ops"] if o["pass"] in plain]
    e2e = {
        "pass_s": (statistics.median(p["seconds"] for p in untraced), "s"),
        "op_p50_s": (quantile(lat, 0.5), "s"),
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    # p90 is printed, not bounded: a run has 18-30 samples, so at most three
    # lie beyond p90 and it follows the host's slowest moments
    notes = {f"{wl['op']}_p50_s": (e2e["op_p50_s"][0], "s"),
             f"{wl['op']}_p90_s": (quantile(lat, 0.9), "s"),
             "samples": (len(lat), "count"), "passes": (len(untraced), "count")}
    if wl["kind"] == "stream":
        rows = sum(o["rows"] for o in res["ops"] if o["pass"] in plain)
        notes["rows_per_s"] = (rows / sum(p["seconds"] for p in untraced), "1/s")
    layers = {}
    traced = [p for p in res["passes"] if p["traced"]]
    if trace and traced:
        units = {"_s": "s", "_ms": "ms", "_mb": "MB", "_pct": "%"}
        for k in traced[0]["layers"]:
            v = statistics.fmean(p["layers"][k] for p in traced)
            unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
            if k == "spark.core_util":
                unit = "ratio"
            layers[k] = (v, unit)
        t_pass = statistics.median(p["seconds"] for p in traced)
        layers["trace.pass_s"] = (t_pass, "s")
        layers["trace.overhead_pct"] = (100.0 * (t_pass / e2e["pass_s"][0] - 1.0), "%")
    return e2e, layers, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # input scale factor; tests/smoke.py runs at 0.001
    ap.add_argument("--scale", type=float, default=0.1)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    global BUILD_S
    cp, digest, BUILD_S = build()
    data_dir, rows, gen_s = inputs(args.seed, args.scale)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res = run_harness(cp, wl, args, data_dir, run_dir)
    verdict = gate(wl, res, run_dir, data_dir)

    bad = {k for k, v in verdict.items() if v}
    for k in sorted(bad):
        log(f"FAIL {k}: {verdict[k]}")
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"] or o["name"] in bad)
    e2e, layers, notes = metrics(wl, res, args.trace == 1)

    context = dict(res["context"], workload=args.workload, source_hash=digest,
                   input_rows=rows, scale=args.scale, mix=wl["ops"],
                   git_commit=git_commit(), build_s=BUILD_S, input_gen_s=gen_s)
    print(f"context {json.dumps(context, sort_keys=True)}")
    shown = dict(e2e, **notes, fail_ratio=(failed / attempted, "ratio"), **layers)
    for k, (v, unit) in shown.items():
        print(f"metric {k} {v:.6g} {unit}")
    emitted = layers if args.trace == 1 else e2e
    with open(os.path.join(run_dir, "metrics.json"), "w") as fh:
        json.dump({"end_to_end": e2e, "per_layer": layers, "notes": notes,
                   "verdict": verdict, "context": context}, fh, indent=1)
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in emitted.items()},
    }))


if __name__ == "__main__":
    main()
