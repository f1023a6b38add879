#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001, untraced and traced.

    python3 perfbench/smoke_test.py [workload ...]

Run from the root of a graft checkout. For each workload (by default
those BENCHMARK.json lists) and each trace mode it runs one short
benchmark and asserts:

  * every metric BENCHMARK.json names for that mode is present, with
    the unit BENCHMARK.json declares;
  * no operation failed (error_rate 0) and the run reports correct;
  * traced: the span tree is well formed — every parent exists, every
    child lies inside its parent, and every self time is at least 0.

Exits 0 when every assertion holds, 1 otherwise.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=900)
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0 and lines, f"{workload}: exit {out.returncode}"
    return json.loads(lines[-1])


def check_spans(path):
    with open(path) as fh:
        spans = json.load(fh)
    assert spans, "no spans recorded"
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end_ns"] >= s["start_ns"], f"span {s['id']} ends before it starts"
        assert s["self_ns"] >= 0, f"span {s['id']} has self time {s['self_ns']}"
        if s["parent"] >= 0:
            p = by_id.get(s["parent"])
            assert p is not None, f"span {s['id']} has no parent {s['parent']}"
            assert p["start_ns"] <= s["start_ns"] and s["end_ns"] <= p["end_ns"], \
                f"span {s['id']} ({s['name']}) lies outside parent {p['id']} ({p['name']})"
    return len(spans)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    failures = []
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            try:
                res = run(w, trace)
                got = res["metrics"]
                for m in bench[key]:
                    assert m["name"] in got, f"missing metric {m['name']}"
                    assert got[m["name"]]["unit"] == m["unit"], \
                        f"{m['name']}: unit {got[m['name']]['unit']} != {m['unit']}"
                assert res["failed"] == 0 and res["correct"], \
                    f"{res['failed']} of {res['attempted']} operations failed"
                extra = ""
                if trace:
                    n = check_spans(os.path.join(
                        ROOT, ".bench_build", "records", f"{w}-seed7-trace1-spans.json"))
                    extra = f", {n} spans well formed"
                print(f"ok   {w} trace={trace}: {len(got)} metrics, "
                      f"{res['attempted']} operations{extra}")
            except (AssertionError, subprocess.SubprocessError, ValueError,
                    KeyError, OSError) as e:
                failures.append(f"{w} trace={trace}: {e}")
                print(f"FAIL {w} trace={trace}: {e}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
