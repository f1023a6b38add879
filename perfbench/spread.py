#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload store_rw --seeds 1-10 [--trace 1]
    python3 perfbench/spread.py --report .bench_build/spread/*.jsonl

Run from the root of a graft checkout. Each run's result line is
appended to .bench_build/spread/<workload>-trace<t>.jsonl. For every
metric the report gives the median, the quartiles and the spread — the
distance between the first and third quartile as a share of the median
(Python's statistics.quantiles(values, n=4)) — next to the metric's
bound in BENCHMARK.json; a spread at or above a third of the bound is
flagged. --report prints the same table from saved result files, as
markdown.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build", "spread")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def table(rows, bench):
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    names = list(rows[0]["metrics"])
    lines = ["| metric | unit | median | q1 | q3 | spread | bound |",
             "| --- | --- | --- | --- | --- | --- | --- |"]
    for n in names:
        vals = [r["metrics"][n]["value"] for r in rows if n in r["metrics"]]
        vals = [v for v in vals if v is not None]
        if len(vals) < 2 or not any(vals):
            continue  # a layer this workload never reaches
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(n)
        flag = " !" if b is not None and spread >= b / 3 else ""
        lines.append(f"| {n} | {rows[0]['metrics'][n]['unit']} | {med:.4g} | "
                     f"{q1:.4g} | {q3:.4g} | {spread:.3f}{flag} | "
                     f"{'' if b is None else b} |")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--report", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.report:
        medians = {}
        for path in a.report:
            with open(path) as fh:
                rows = [json.loads(ln) for ln in fh if ln.strip()]
            failed = sum(r["failed"] for r in rows)
            name = os.path.basename(path)[:-6]
            print(f"\n### {name} — {len(rows)} runs (seeds "
                  f"{', '.join(str(r['seed']) for r in rows)}), {failed} failed "
                  f"operations of {sum(r['attempted'] for r in rows)}\n")
            print(table(rows, bench))
            for k in ("pass_s", "traced_pass_s"):
                vals = [r["metrics"][k]["value"] for r in rows if k in r["metrics"]]
                if vals:
                    medians[(name.rsplit("-trace", 1)[0], k)] = statistics.median(vals)
        for (w, k), v in sorted(medians.items()):
            if k == "traced_pass_s" and (w, "pass_s") in medians:
                base = medians[(w, "pass_s")]
                print(f"\ntracing overhead, {w}: traced pass_s {v:.3f} s - untraced "
                      f"{base:.3f} s = {v - base:+.3f} s ({(v - base) / base:+.1%})")
        return
    os.makedirs(OUT, exist_ok=True)
    dest = os.path.join(OUT, f"{a.workload}-trace{a.trace}.jsonl")
    rows = []
    for s in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(s), "--seconds", str(bench["run_seconds"]),
               "--trace", a.trace]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {s}: exit {out.returncode}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        res["seed"] = s
        rows.append(res)
        with open(dest, "a") as fh:
            fh.write(json.dumps(res) + "\n")
        print(f"seed {s}: failed={res['failed']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    if len(rows) >= 2:
        print(table(rows, bench))


if __name__ == "__main__":
    main()
