#!/usr/bin/env python3
"""Compare two commits with the pipeline benchmark.

Run alternating-order pairs of a parent and a change checkout (each a
checkout of the repository holding perfbench/):

    python3 perfbench/compare.py pairs --parent DIR --change DIR \\
        --workload sync_steady --pairs 10 --out pairs.jsonl

Each run measures BENCHMARK.json's run_seconds; pair i runs seed
1000 + i on both sides.

Judge the pairs (untraced runs) per workload and end-to-end metric:

    python3 perfbench/compare.py report pairs.jsonl [--benchmark BENCHMARK.json]

  - each side's median and quartiles;
  - GAIN when the change wins at least 9/10 of the pairs (ties count for
    neither) and the medians differ by more than the parent's IQR;
  - REGRESSION when the change's median is worse than the parent's by
    more than the metric's bound;
  - UNRESOLVED when the parent's own spread (IQR / median) exceeds the
    bound, unless every change run beats every parent run;
  - otherwise "within bound".
  A workload whose change runs fail more operations than the parent's
  gets FAILURES and no GAIN.
  Each run's quiet-box record (load average at start and end, other JVMs
  running) is listed, and runs made on a busy box are flagged.

Diff the per-layer metrics (self time per layer included) of two traced
runs, e.g. one of each side made with --trace 1; untraced runs in the
same files give the tracing overhead (traced minus untraced run_s):

    python3 perfbench/compare.py layers parent_traced.jsonl change_traced.jsonl
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
FIRST_SEED = 1000


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def cmd_pairs(a):
    """Alternate which side runs first; tag every record with its pair."""
    seconds = json.load(open(a.benchmark))["run_seconds"]
    seeds = range(FIRST_SEED, FIRST_SEED + a.pairs)
    for i, seed in enumerate(seeds):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        for side, checkout in order:
            tmp = a.out + ".run"
            if os.path.exists(tmp):
                os.remove(tmp)
            subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"),
                 "--workload", a.workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", "0",
                 "--record", os.path.abspath(tmp)],
                cwd=checkout, check=True, stdout=subprocess.DEVNULL)
            rec = load(tmp)[-1]
            os.remove(tmp)
            rec.update(side=side, pair=i)
            with open(a.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"pair {i} {side} seed {seed} done", file=sys.stderr)


def busy_box(rec):
    q = rec.get("quiet_box", {})
    cpus = os.cpu_count() or 1
    return (q.get("jvms_start", 0) > 0 or q.get("jvms_end", 0) > 0
            or max(q.get("load_start", [0])[0], q.get("load_end", [0])[0]) > cpus)


def cmd_report(a):
    bench = json.load(open(a.benchmark))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    recs = [r for r in load(a.pairs) if not r.get("trace")]
    for r in recs:
        q = r.get("quiet_box", {})
        flag = "  BUSY" if busy_box(r) else ""
        print(f"quiet-box pair {r.get('pair')} {r.get('side')}: load "
              f"{q.get('load_start', ['?'])[0]} -> {q.get('load_end', ['?'])[0]}, "
              f"other JVMs {q.get('jvms_start')}/{q.get('jvms_end')}{flag}")
    workloads = sorted({r["info"]["workload"] for r in recs})
    for w in workloads:
        rs = [r for r in recs if r["info"]["workload"] == w]
        failed = {side: sum(r["failed"] for r in rs if r.get("side") == side)
                  for side in ("parent", "change")}
        attempted = {side: sum(r["attempted"] for r in rs if r.get("side") == side)
                     for side in ("parent", "change")}
        more_failures = failed["change"] > failed["parent"]
        print(f"\n== {w}: failed operations parent {failed['parent']}/"
              f"{attempted['parent']}, change {failed['change']}/{attempted['change']}"
              + ("  FAILURES (no gain counts)" if more_failures else ""))
        for name, m in metrics.items():
            by_pair = {}
            for r in rs:
                if name in r["metrics"]:
                    by_pair.setdefault(r["pair"], {})[r["side"]] = r["metrics"][name]["value"]
            pairs = [p for p in by_pair.values() if "parent" in p and "change" in p]
            if not pairs:
                continue
            par = [p["parent"] for p in pairs]
            chg = [p["change"] for p in pairs]
            lower = m["better"] == "lower"
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            wins = sum(better(p["change"], p["parent"]) for p in pairs)
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            iqr = pq3 - pq1
            worse_by = ((cmed - pmed) if lower else (pmed - cmed)) / pmed
            spread = iqr / pmed
            all_better = all(better(c, p) for c in chg for p in par)
            if wins >= 0.9 * len(pairs) and abs(cmed - pmed) > iqr and not more_failures:
                verdict = "GAIN"
            elif spread > m["bound"] and not all_better:
                verdict = "UNRESOLVED (parent spread above bound)"
            elif worse_by > m["bound"]:
                verdict = "REGRESSION"
            else:
                verdict = "within bound"
            print(f"  {name:14s} parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}]  "
                  f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  wins {wins}/{len(pairs)}  "
                  f"worse by {worse_by:+.1%} (bound {m['bound']:.0%}, parent spread "
                  f"{spread:.1%})  {verdict}")


def tracing_overhead(recs, label):
    """Traced minus untraced run_s, per workload, from one record file."""
    for w in sorted({r["info"]["workload"] for r in recs}):
        plain = [r["metrics"]["run_s"]["value"] for r in recs
                 if r["info"]["workload"] == w and not r.get("trace")]
        traced = [r["metrics"]["trace.run_s"]["value"] for r in recs
                  if r["info"]["workload"] == w and r.get("trace")]
        if plain and traced:
            p, t = statistics.median(plain), statistics.median(traced)
            print(f"{label} {w}: tracing overhead {t - p:+.3f} s on run_s "
                  f"{p:.3f} s ({(t - p) / p:+.1%}; {len(traced)} traced, "
                  f"{len(plain)} untraced runs)")


def cmd_layers(a):
    all_a, all_b = load(a.parent_traced), load(a.change_traced)
    tracing_overhead(all_a, "parent")
    tracing_overhead(all_b, "change")
    ra = [r for r in all_a if r.get("trace")]
    rb = [r for r in all_b if r.get("trace")]
    for w in sorted({r["info"]["workload"] for r in ra + rb}):
        ma = [r["metrics"] for r in ra if r["info"]["workload"] == w]
        mb = [r["metrics"] for r in rb if r["info"]["workload"] == w]
        if not ma or not mb:
            continue
        print(f"== {w} (medians of {len(ma)} vs {len(mb)} traced runs)")
        for k in ma[0]:
            va = statistics.median(m[k]["value"] for m in ma if k in m)
            vb = statistics.median(m[k]["value"] for m in mb if k in m)
            rel = f"{(vb - va) / va:+.1%}" if va else "  n/a"
            print(f"  {k:34s} {va:12.4f} -> {vb:12.4f} {ma[0][k]['unit']:6s} {rel}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--out", required=True)
    p.add_argument("--benchmark", default=BENCHMARK)
    r = sub.add_parser("report")
    r.add_argument("pairs")
    r.add_argument("--benchmark", default=BENCHMARK)
    l = sub.add_parser("layers")
    l.add_argument("parent_traced")
    l.add_argument("change_traced")
    a = ap.parse_args()
    {"pairs": cmd_pairs, "report": cmd_report, "layers": cmd_layers}[a.cmd](a)


if __name__ == "__main__":
    main()
