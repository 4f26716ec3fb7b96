#!/usr/bin/env python3
"""Interleaved A/B of perfbench/run.py between a base commit and this
checkout. Run from the root of a graft checkout:

    python3 tools/ab_perfbench.py --workload dashboard --pairs 10
    python3 tools/ab_perfbench.py --workload kv_ingest --pairs 5 --base HEAD

The base side is --base (default HEAD~1, the parent commit), extracted
with `git archive` to target/ab-base-<sha> on first use and reused
after. The change side is this checkout as it is on disk, uncommitted
edits included: use --base HEAD to measure them against the last
commit.

Each side first runs once, untimed, so its build and table generation
happen before any measured run. Then pair i runs seed (--seed0 + i) on
both sides, one after the other, the base first in even pairs and the
change first in odd ones, so a trend in the host's load weighs on both
sides alike. Both sides run their own perfbench/ with the same
arguments; each writes its build outputs and tables under its own
.bench_build.

Printed: one line per run (seed, side, loadavg_start, cpu_steal_share,
floor_s, correct and the metrics), then for each metric the median and
quartiles of each side, the ratio of the medians (change / base), the
pairs each side won (ties count for neither) and whether the change's
gain clears the rule "wins at least 9 of 10 pairs, and the medians
differ by more than the base's own interquartile range".
"""
import argparse
import json
import os
import subprocess
import sys

ROOT = os.getcwd()


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          capture_output=True).stdout.strip()


def base_checkout(rev):
    """The tree of `rev` under target/, extracted once per commit."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = os.path.join(ROOT, "target", f"ab-base-{sha[:12]}")
    if not os.path.exists(os.path.join(path, "perfbench", "run.py")):
        os.makedirs(path, exist_ok=True)
        tar = subprocess.run(["git", "archive", sha], cwd=ROOT, check=True,
                             capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", path], input=tar, check=True)
    return path


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`; returns its perfbench-report."""
    # the ceiling keeps an extracted base from reporting the enclosing
    # repository's commit as its own
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(checkout, ".bench_build"),
               GIT_CEILING_DIRECTORIES=os.path.dirname(checkout))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=checkout, env=env, text=True, capture_output=True)
    report = result = None
    for line in p.stdout.splitlines():
        if line.startswith("perfbench-report "):
            report = json.loads(line[len("perfbench-report "):])
        elif line.startswith("{"):
            result = json.loads(line)
    if p.returncode != 0 or report is None or result is None:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"perfbench failed in {checkout} (seed {seed}, exit {p.returncode})")
    report["correct"] = result["correct"]
    return report


def better(spec, name):
    """'higher' or 'lower', from BENCHMARK.json, else from the unit."""
    for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
        if m["name"] == name:
            return m["better"]
    return "higher" if name.endswith("_per_s") else "lower"


def summary(spec, pairs):
    names = [n for n in pairs[0]["base"]["metrics"] if n in pairs[0]["change"]["metrics"]]
    rows = []
    for n in names:
        b = [p["base"]["metrics"][n]["value"] for p in pairs]
        c = [p["change"]["metrics"][n]["value"] for p in pairs]
        hi = better(spec, n) == "higher"
        cw = sum(1 for x, y in zip(b, c) if (y > x if hi else y < x))
        bw = sum(1 for x, y in zip(b, c) if (x > y if hi else x < y))
        bm, cm = quantile(b, 0.5), quantile(c, 0.5)
        iqr = quantile(b, 0.75) - quantile(b, 0.25)
        gain = (cm - bm if hi else bm - cm)
        rows.append({"metric": n, "better": better(spec, n),
                     "base": [quantile(b, 0.25), bm, quantile(b, 0.75)],
                     "change": [quantile(c, 0.25), cm, quantile(c, 0.75)],
                     "ratio": cm / bm if bm else float("nan"),
                     "change_wins": cw, "base_wins": bw,
                     "gain_clears_rule": cw >= 0.9 * len(pairs) and gain > iqr})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default="HEAD~1", help="base commit (default HEAD~1)")
    a = ap.parse_args()

    sides = {"base": base_checkout(a.base), "change": ROOT}
    for name, path in sides.items():
        print(f"{name}: {path}", flush=True)
        run(path, a.workload, 0, 2, 0)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    pairs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        pair = {}
        for name in order:
            r = pair[name] = run(sides[name], a.workload, seed, a.seconds, a.trace)
            h = r["host"]
            e2e = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"seed={seed} {name:6s} loadavg_start={h['loadavg_start']:.2f} "
                  f"cpu_steal_share={h.get('cpu_steal_share', float('nan')):.4f} "
                  f"floor_s={h.get('floor_s', float('nan')):.4f} "
                  f"correct={r['correct']} {e2e}", flush=True)
        pairs.append(pair)

    print(f"\n{a.workload}: {len(pairs)} pairs, median [q1, q3] per side, "
          "ratio = change/base median")
    for row in summary(spec, pairs):
        b, c = row["base"], row["change"]
        print(f"{row['metric']:34s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
              f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  ratio {row['ratio']:.3f}  "
              f"wins change {row['change_wins']}/base {row['base_wins']}  "
              f"({row['better']} is better; gain clears rule: {row['gain_clears_rule']})")
    bad = [(n, p[n]["seed"]) for p in pairs for n in p if not p[n]["correct"]]
    if bad:
        print(f"INCORRECT runs: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
