"""Run the benchmark over seeds, and compare two sets of runs.

Record ten untraced runs per workload (seeds 1..10) into a JSON-lines file::

    python3 perfbench/compare.py record runs-a.jsonl --seeds 1-10

Summarise one set — median, quartiles and spread (IQR ÷ median) per
(metric, workload), flagged when the spread exceeds a third of the bound::

    python3 perfbench/compare.py spread runs-a.jsonl

Compare a base set with a changed set.  A pair is a *mover* only when the
medians differ by more than the metric's bound; it is *unresolved* when
either side's spread is wider than the bound (choosing-metrics §8); it is
*missing* when only one side has it::

    python3 perfbench/compare.py diff runs-a.jsonl runs-b.jsonl

Bounds come from ``BENCHMARK.json``; the workload-specific end-to-end
metrics the JSON line does not carry use :data:`EXTRA`.  Only runs that
exited 0 with ``correct`` true carry values; each workload's count of
other runs and its ``failed``/``attempted`` totals are reported beside
them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: report-line metrics → (better, bound)
EXTRA = {
    "verdict_docs_per_s": ("higher", 0.25),
    "peak_rss_mb": ("lower", 0.25),
    "scaling_eff_1to4": ("higher", 0.25),
}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def bounds() -> dict:
    out = {m["name"]: (m["better"], m["bound"]) for m in _bench()["end_to_end"]}
    for k, v in EXTRA.items():
        out.setdefault(k, v)
    return out


def parse_run(stdout: str) -> dict:
    """End-to-end values from a run's report lines and its final JSON."""
    lines = stdout.strip().splitlines()
    res = json.loads(lines[-1])
    vals = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) >= 3 and parts[0] == "e2e" and parts[2] != "missing":
            vals[parts[1]] = float(parts[2])
    for k, m in res["metrics"].items():
        vals[k] = m["value"]
    return {"result": res, "values": vals}


def _seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def record(args) -> int:
    bench = _bench()
    for seed in _seeds(args.seeds):
        for wl in [w["name"] for w in bench["workloads"]]:
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t
            rec = {"workload": wl, "seed": seed, "exit": p.returncode, "wall_s": wall}
            if p.returncode == 0:
                rec.update(parse_run(p.stdout))
            else:
                rec["stderr_tail"] = p.stderr[-2000:]
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print("%s seed=%d exit=%d wall=%.1fs correct=%s" % (
                wl, seed, p.returncode, wall, rec.get("result", {}).get("correct")), flush=True)
    return 0


#: per-workload run counts :func:`load` keeps
HEALTH = ("runs", "bad_runs", "failed", "attempted")


def load(path: str):
    """``(values, health)``: (workload, metric) → list of values over the
    runs that exited 0 and are ``correct``, and per workload the counts
    ``runs``, ``bad_runs`` (nonzero exit or not ``correct``), ``failed``
    and ``attempted``."""
    values: dict = {}
    health: dict = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            h = health.setdefault(rec["workload"], dict.fromkeys(HEALTH, 0))
            h["runs"] += 1
            res = rec.get("result") if rec.get("exit") == 0 else None
            if res is not None:
                h["failed"] += res["failed"]
                h["attempted"] += res["attempted"]
            if res is None or not res["correct"]:
                h["bad_runs"] += 1
                continue
            for k, v in rec["values"].items():
                if v is not None:
                    values.setdefault((rec["workload"], k), []).append(v)
    return values, health


def _health_line(wl: str, h: dict) -> str:
    return "%s: %d runs, %d not correct, failed %d of %d attempted" % (
        wl, h["runs"], h["bad_runs"], h["failed"], h["attempted"])


def stats(vals: list):
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, ((q3 - q1) / abs(med) if med else float("inf"))


def spread(args) -> int:
    bnd = bounds()
    values, health = load(args.runs)
    worst = 0
    for wl, h in sorted(health.items()):
        print("# " + _health_line(wl, h))
        if h["bad_runs"] or h["failed"]:
            worst = 1
    print("%-18s %-20s %4s %12s %12s %12s %8s %6s" % ("workload", "metric", "n", "median", "q1", "q3", "spread", "bound"))
    for (wl, m), vals in sorted(values.items()):
        if m not in bnd:
            continue
        med, q1, q3, sp = stats(vals)
        b = bnd[m][1]
        flag = "" if sp < b / 3 else (" > bound/3" if sp <= b else " > bound")
        if sp > b:
            worst = 1
        print("%-18s %-20s %4d %12.6g %12.6g %12.6g %8.4f %6.2f%s" % (wl, m, len(vals), med, q1, q3, sp, b, flag))
    return worst


def diff(args) -> int:
    bnd = bounds()
    (a, ha), (b, hb) = load(args.base), load(args.change)
    problems = movers = 0
    for wl in sorted(set(ha) | set(hb)):
        none = dict.fromkeys(HEALTH, 0)
        x, y = ha.get(wl, none), hb.get(wl, none)
        rate = [h["failed"] / h["attempted"] if h["attempted"] else None for h in (x, y)]
        rise = y["bad_runs"] > x["bad_runs"] or (rate[0] is not None and rate[1] is not None and rate[1] > rate[0])
        print("# base   " + _health_line(wl, x))
        print("# change " + _health_line(wl, y) + ("  FAILURES ROSE" if rise else ""))
        problems += rise or not y["runs"]
    print("%-18s %-20s %12s %12s %8s  %s" % ("workload", "metric", "base med", "change med", "delta", "verdict"))
    for key in sorted(k for k in set(a) | set(b) if k[1] in bnd):
        wl, m = key
        if key not in a or key not in b:
            print("%-18s %-20s %12s %12s %8s  missing on the %s side" % (
                wl, m, "", "", "", "change" if key in a else "base"))
            problems += 1
            continue
        better, bound = bnd[m]
        ma, qa1, qa3, sa = stats(a[key])
        mb, qb1, qb3, sb = stats(b[key])
        delta = (mb - ma) / abs(ma) if ma else float("inf")
        worse = delta > bound if better == "lower" else delta < -bound
        gain = delta < -bound if better == "lower" else delta > bound
        if max(sa, sb) > bound:
            verdict = "unresolved (spread %.3f/%.3f > bound %.2f)" % (sa, sb, bound)
        elif worse:
            verdict, movers = "WORSE", movers + 1
        elif gain:
            verdict, movers = "better", movers + 1
        else:
            verdict = "same"
        print("%-18s %-20s %12.6g %12.6g %+8.3f  %s  [q %.4g..%.4g | %.4g..%.4g]" % (
            wl, m, ma, mb, delta, verdict, qa1, qa3, qb1, qb3))
    print("movers: %d, missing or failing: %d" % (movers, problems))
    return 1 if movers or problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record", help="run the benchmark over seeds into a JSON-lines file")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    s = sub.add_parser("spread", help="per (metric, workload) median, quartiles and spread")
    s.add_argument("runs")
    d = sub.add_parser("diff", help="movers between a base and a changed set of runs")
    d.add_argument("base")
    d.add_argument("change")
    args = ap.parse_args(argv)
    return {"record": record, "spread": spread, "diff": diff}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
