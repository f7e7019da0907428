"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are each a file, or a directory of files, holding the saved
standard output of one or more `perfbench/run.py` runs. For every workload and
end-to-end metric it prints both sides' median and quartiles, the pair wins
of AFTER over BEFORE (runs paired by seed; ties count for neither side), and
a verdict against the metric's bound in BENCHMARK.json:

  improved    at least 10 pairs, AFTER wins at least nine tenths of them,
              and the medians differ, in AFTER's favour, by more than
              BEFORE's quartile spread
  regressed   AFTER's median is worse than BEFORE's by more than the bound
  unresolved  either side's quartile spread is wider than the bound, unless
              every AFTER run beats every BEFORE run
  unchanged   otherwise

Per-layer metrics from traced runs are listed as medians, without a verdict.
The load probes recorded beside each run are printed as context only; they
never drop or rescale a run.
"""
import json
import os
import statistics
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_runs(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    runs = []
    for name in files:
        context = None
        with open(name, errors="replace") as f:
            for line in f:
                line = line.strip()
                if line.startswith("perfbench {"):
                    context = json.loads(line[len("perfbench "):])
                elif line.startswith("{") and context is not None:
                    try:
                        res = json.loads(line)
                    except ValueError:
                        continue
                    if set(res) == {"correct", "attempted", "failed", "metrics"}:
                        runs.append(dict(context, result=res))
                        context = None
    return runs


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(before, after, pairs, better, bound):
    b1, bm, b3 = quartiles(before)
    a1, am, a3 = quartiles(after)
    wins = sum(1 for b, a in pairs if better(a, b))
    spread = max((b3 - b1) / abs(bm) if bm else 0.0, (a3 - a1) / abs(am) if am else 0.0)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and better(am, bm) and abs(am - bm) > b3 - b1:
        return "improved"
    worse_by = abs(am - bm) / abs(bm) if bm else 0.0
    if better(bm, am) and worse_by > bound:
        return "regressed"
    if spread > bound and not all(better(a, b) for a in after for b in before):
        return "unresolved"
    return "unchanged"


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with open(BENCH) as f:
        bench = json.load(f)
    before, after = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    print(f"runs: before {len(before)}, after {len(after)}")
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, specs in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            b = [r for r in before if r["workload"] == w and r["trace"] == trace]
            a = [r for r in after if r["workload"] == w and r["trace"] == trace]
            if not b or not a:
                continue
            fails = (sum(r["result"]["failed"] for r in b), sum(r["result"]["attempted"] for r in b),
                     sum(r["result"]["failed"] for r in a), sum(r["result"]["attempted"] for r in a))
            print(f"\n== {w} ({'traced' if trace else 'end to end'}; failed/attempted "
                  f"before {fails[0]}/{fails[1]}, after {fails[2]}/{fails[3]})")
            for spec in specs:
                m = spec["name"]
                bv = [r["result"]["metrics"][m]["value"] for r in b if m in r["result"]["metrics"]]
                av = [r["result"]["metrics"][m]["value"] for r in a if m in r["result"]["metrics"]]
                if not bv or not av:
                    continue
                bq, aq = quartiles(bv), quartiles(av)
                line = (f"{m:32s} before {bq[1]:.6g} [{bq[0]:.6g}, {bq[2]:.6g}]  "
                        f"after {aq[1]:.6g} [{aq[0]:.6g}, {aq[2]:.6g}]")
                if trace == 0:
                    lower = spec["better"] == "lower"
                    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
                    by_seed = {r["seed"]: r["result"]["metrics"][m]["value"] for r in b}
                    pairs = [(by_seed[r["seed"]], r["result"]["metrics"][m]["value"])
                             for r in a if r["seed"] in by_seed]
                    wins = sum(1 for x, y in pairs if better(y, x))
                    line += (f"  wins {wins}/{len(pairs)}  "
                             f"{verdict(bv, av, pairs, better, spec['bound'])}")
                print(line)
            for side, runs in (("before", b), ("after", a)):
                probes = {}
                for r in runs:
                    for k, v in r["probes"].items():
                        probes.setdefault(k, []).append(v)
                print(f"  probes {side}: " + ", ".join(
                    f"{k} {statistics.median(v):.3f}" for k, v in sorted(probes.items())))


if __name__ == "__main__":
    main()
