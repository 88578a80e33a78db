#!/usr/bin/env python3
"""Compare two commits with the benchmark (parent vs change).

  python3 perfbench/compare.py run --parent DIR --change DIR --out FILE
  python3 perfbench/compare.py report FILE [--bench BENCHMARK.json]

``run`` runs ``perfbench/run.py`` in two checkouts on every workload of
the change's ``BENCHMARK.json``: ten untraced pairs and one traced pair,
each pair with the same seed on both sides, alternating which side runs
first. It appends every result to FILE (one JSON object a line). Run
length comes from ``BENCHMARK.json`` and is the same on both sides.

``report`` prints, per workload and end-to-end metric, each side's median
and quartiles, the share of pairs the change wins (ties count for
neither) and a verdict: ``improved`` needs nine tenths of the pairs won
and a median gain beyond the parent's quartile distance; ``unresolved``
means a side's spread exceeds the metric's bound; ``regressed`` means
the change's median is worse by more than the bound. It then prints the
relative change of every per-layer metric from the traced runs.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
from pathlib import Path  # noqa: E402

import stats  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PAIRS = 10
TRACED_PAIRS = 1
SEED0 = 1000


def load_bench(path):
    return json.loads(Path(path).read_text())


def run_one(checkout, workload, seed, seconds, trace):
    res = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} ({workload}, seed {seed}):\n"
                         f"{res.stderr[-2000:]}")
    return json.loads(lines[-1])


def cmd_run(args):
    bench = load_bench(Path(args.change) / "BENCHMARK.json")
    workloads = [w["name"] for w in bench["workloads"]]
    sides = {"parent": args.parent, "change": args.change}
    with open(args.out, "a") as fh:
        for pair in range(PAIRS + TRACED_PAIRS):
            trace = int(pair >= PAIRS)
            order = ["parent", "change"] if pair % 2 == 0 else ["change", "parent"]
            for w in workloads:
                for side in order:
                    seed = SEED0 + pair
                    result = run_one(sides[side], w, seed, bench["run_seconds"], trace)
                    row = {"side": side, "pair": pair, "workload": w, "seed": seed,
                           "trace": trace, "result": result}
                    fh.write(json.dumps(row) + "\n")
                    fh.flush()
                    print(f"pair {pair} {w} {side}: correct={result['correct']}",
                          flush=True)


def collect(rows, trace):
    """{(workload, side): [(pair, metrics)]} for runs with ``trace``."""
    out = {}
    for r in rows:
        if r["trace"] == trace:
            out.setdefault((r["workload"], r["side"]), []).append(
                (r["pair"], {k: v["value"] for k, v in r["result"]["metrics"].items()}))
    return out


def report(rows, bench):
    """The report's lines for ``rows`` judged against ``bench``."""
    lines = []
    plain = collect(rows, 0)
    failed = [r for r in rows if not r["result"]["correct"]]
    for r in failed:
        lines.append(f"INCORRECT: {r['side']} {r['workload']} seed {r['seed']}")
    workloads = sorted({w for w, _ in plain})
    lines.append("workload metric parent[q1 med q3] change[q1 med q3] "
                 "wins n verdict")
    for w in workloads:
        par = dict(plain.get((w, "parent"), []))
        chg = dict(plain.get((w, "change"), []))
        pairs = sorted(set(par) & set(chg))
        if not pairs:
            continue
        for m in bench["end_to_end"]:
            name = m["name"]
            p = [par[i][name] for i in pairs]
            c = [chg[i][name] for i in pairs]
            pq = stats.quartiles(p)
            cq = stats.quartiles(c)
            wins = stats.pair_wins(p, c, m["better"])
            v = stats.verdict(p, c, m["better"], m["bound"])
            lines.append(
                f"{w} {name} [{pq[0]:.4g} {pq[1]:.4g} {pq[2]:.4g}] "
                f"[{cq[0]:.4g} {cq[1]:.4g} {cq[2]:.4g}] {wins:.2f} {len(pairs)} {v}")
    traced = collect(rows, 1)
    for w in sorted({w for w, _ in traced}):
        par = [m for _, m in traced.get((w, "parent"), [])]
        chg = [m for _, m in traced.get((w, "change"), [])]
        if not par or not chg:
            continue
        lines.append(f"{w} per-layer (traced runs: parent {len(par)}, change {len(chg)})")
        for m in bench["per_layer"]:
            name = m["name"]
            a = statistics.median(x.get(name, 0.0) for x in par)
            b = statistics.median(x.get(name, 0.0) for x in chg)
            if a == 0 and b == 0:
                continue
            delta = f"{(b - a) / abs(a):+.1%}" if a else "new"
            lines.append(f"  {name} {a:.4g} -> {b:.4g} {m['unit']} ({delta})")
    return lines


def cmd_report(args):
    rows = [json.loads(line) for line in Path(args.file).read_text().splitlines() if line]
    print("\n".join(report(rows, load_bench(args.bench))))


def main():
    ap = argparse.ArgumentParser(description="Compare parent and change.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--out", required=True)
    r.set_defaults(func=cmd_run)
    p = sub.add_parser("report")
    p.add_argument("file")
    p.add_argument("--bench", default=str(ROOT / "BENCHMARK.json"))
    p.set_defaults(func=cmd_report)
    args = ap.parse_args()
    args.func(args)


if __name__ == "__main__":
    main()
