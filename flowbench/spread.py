#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median and
spread (interquartile distance as a share of the median, from
statistics.quantiles(values, n=4)) against the bounds in BENCHMARK.json.

    python3 flowbench/spread.py --workload relay --seeds 1-10 [--trace 1] \
        [--out results.json]

With --overhead, each seed runs untraced and then traced, back to back,
and the report adds the tracing overhead: for each end-to-end figure the
traced run also prints, the traced median over the untraced median, minus
one, with both spreads.

Run from the root of a checkout; each run is one run of flowbench/run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# untraced end-to-end metric -> the same figure in a traced run
TRACED_AS = {
    "relay": {"throughput_per_s": "relay.msgs_per_s",
              "latency_p50_ms": "relay.latency_p50_ms",
              "latency_tail_ms": "relay.latency_p99_ms"},
    "curate": {"throughput_per_s": "curate.docs_per_s"},
}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print("seed %d trace %d: exit %d" % (seed, trace, p.returncode), flush=True)
        return None
    r = json.loads(lines[-1])
    r["seed"] = seed
    print("seed %d trace %d: correct=%s %s" % (seed, trace, r["correct"], " ".join(
        "%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())), flush=True)
    return r


def summarize(runs, bounds):
    report = {}
    for name in (runs[0]["metrics"] if runs else {}):
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        report[name] = {"median": med, "q1": q[0], "q3": q[2], "spread": spread,
                        "bound": bounds.get(name), "values": vals}
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if spread <= b / 3 else
                                     "  WIDE" if spread > b else "  over b/3")
        print("%-28s median %-12.5g spread %.4f%s%s" % (
            name, med, spread, "" if b is None else " (bound %.2f)" % b, flag))
    return report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    traces = (0, 1) if a.overhead else (a.trace,)
    runs = {t: [] for t in traces}
    for s in seeds(a.seeds):
        for t in traces:
            r = run_once(a.workload, s, bench["run_seconds"], t)
            if r is not None:
                runs[t].append(r)
    out = {"workload": a.workload, "trace": a.trace, "runs": runs[traces[-1]]}
    if a.overhead:
        out = {"workload": a.workload, "untraced": summarize(runs[0], bounds),
               "traced": summarize(runs[1], {}), "overhead": {}}
        for plain, traced in TRACED_AS.get(a.workload, {}).items():
            u, t = out["untraced"].get(plain), out["traced"].get(traced)
            if not u or not t:
                continue
            out["overhead"][plain] = {
                "untraced_median": u["median"], "untraced_spread": u["spread"],
                "traced_median": t["median"], "traced_spread": t["spread"],
                "traced_over_untraced": t["median"] / u["median"] - 1}
            print("overhead %-20s untraced %.5g (spread %.3f), traced %.5g "
                  "(spread %.3f): %+.1f%%" % (plain, u["median"], u["spread"],
                                            t["median"], t["spread"],
                                            100 * (t["median"] / u["median"] - 1)))
    else:
        out["metrics"] = summarize(runs[a.trace], bounds)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
