#!/usr/bin/env python3
"""Smoke mode: every workload once, at sf0.001, with tracing on.

    python3 perfbench/tests/smoke.py          (from the root of a checkout)

For each workload in BENCHMARK.json it checks that
  - the run succeeds with fail_ratio 0 (oracle and parity gates on);
  - every end-to-end and per-layer metric named in BENCHMARK.json is
    emitted, with its unit;
  - the spans reconcile: ops.build + action = query and add_data + action =
    micro_batch, within MARGIN_MS; every job span hangs below an operation
    and lies inside its parent span (ops.build, add_data or action), within
    MARGIN_MS (listener times are whole milliseconds); and per traced pass
    spark.job_wall_s + driver.off_job_s = the pass's wall time, with
    spark.job_wall_s equal to the union of the pass's job spans, within
    MARGIN_MS.
Exits non-zero on the first workload that fails a check.
"""
import json
import os
import subprocess
import sys

MARGIN_MS = 2.0
ROOT = os.getcwd()


def fail(msg):
    print(f"smoke: FAIL {msg}")
    sys.exit(1)


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def check_spans(run_dir, passes):
    spans = [json.loads(ln) for ln in open(os.path.join(run_dir, "spans.jsonl"))]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    dur = lambda s: s["end_ms"] - s["start_ms"]  # noqa: E731
    for s in spans:
        if s["name"] in ("query", "micro_batch"):
            first = "ops.build" if s["name"] == "query" else "add_data"
            parts = {k["name"]: dur(k) for k in kids.get(s["id"], [])
                     if k["name"] in (first, "action")}
            if len(parts) != 2 or abs(sum(parts.values()) - dur(s)) > MARGIN_MS:
                fail(f"{s['name']} span {s['id']} does not split into {first} + action: {parts}")
        if s["name"] == "job":
            p = by_id.get(s["parent"])
            if p is None or p["name"] not in ("ops.build", "add_data", "action"):
                fail(f"job span {s['id']} is not below a query or micro-batch")
            if s["start_ms"] < p["start_ms"] - MARGIN_MS or s["end_ms"] > p["end_ms"] + MARGIN_MS:
                fail(f"job span {s['id']} lies outside its {p['name']} span {p['id']}")
    pass_spans = {s["attrs"]["pass"]: s for s in spans if s["name"] == "pass"}
    for p in passes:
        if not p["traced"]:
            continue
        lay, ps = p["layers"], pass_spans[p["pass"]]
        wall = p["seconds"]
        if abs(lay["spark.job_wall_s"] + lay["driver.off_job_s"] - wall) > MARGIN_MS / 1e3:
            fail(f"pass {p['pass']}: job_wall + off_job != wall ({lay} vs {wall})")
        jobs = [(max(j["start_ms"], ps["start_ms"]), min(j["end_ms"], ps["end_ms"]))
                for j in spans if j["name"] == "job" and j["end_ms"] > ps["start_ms"]
                and j["start_ms"] < ps["end_ms"]]
        if abs(union_ms(jobs) / 1e3 - lay["spark.job_wall_s"]) > MARGIN_MS / 1e3:
            fail(f"pass {p['pass']}: job spans cover {union_ms(jobs)} ms, "
                 f"spark.job_wall_s says {lay['spark.job_wall_s']} s")
    return len(spans)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for wl in bench["workloads"]:
        name = wl["name"]
        cmd = bench["command"] + ["--workload", name, "--seed", "1", "--seconds", "1",
                                  "--trace", "1", "--scale", "0.001"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            fail(f"{name}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if not result["correct"] or result["failed"] != 0:
            fail(f"{name}: correct={result['correct']} failed={result['failed']}\n{proc.stderr[-3000:]}")
        run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{name}-seed1-trace1")
        full = json.load(open(os.path.join(run_dir, "metrics.json")))
        for group, got in (("end_to_end", full["end_to_end"]), ("per_layer", result["metrics"])):
            for m in bench[group]:
                v = got.get(m["name"])
                unit = v[1] if isinstance(v, list) else (v or {}).get("unit")
                if v is None or unit != m["unit"]:
                    fail(f"{name}: {group} metric {m['name']} missing or not in {m['unit']} ({v})")
        n = check_spans(run_dir, json.load(open(os.path.join(run_dir, "result.json")))["passes"])
        print(f"smoke: ok {name} ({result['attempted']} operations, {n} spans, "
              f"tracing overhead {result['metrics']['trace.overhead_pct']['value']:.1f}%)")


if __name__ == "__main__":
    main()
