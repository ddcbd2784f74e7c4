"""A/A steadiness check: run the benchmark on several seeds per workload and
report, for every end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median, as ``statistics.quantiles(values, n=4)`` gives them.
With two result files it also reports how far the second set's medians moved
from the first's, against each metric's bound in BENCHMARK.json.

    python3 perfbench/aa.py run --seeds 1-10 --out perfbench/aa/set-a.json
    python3 perfbench/aa.py compare perfbench/aa/set-a.json perfbench/aa/set-b.json
    python3 perfbench/aa.py run --seeds 1-3 --trace 1 --out perfbench/aa/traced.json
    python3 perfbench/aa.py run --seeds 1-1 --workloads hourly_parquet --cpus 1 --out ...

Run from the root of a checkout. Runs are sequential, one process at a time.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def spreads(values: list[float]) -> dict:
    if len(values) < 2:
        return {"median": values[0], "spread": 0.0, "values": values}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "spread": (q3 - q1) / med if med else 0.0, "values": values}


def run(args) -> None:
    bench = json.load(open("BENCHMARK.json"))
    lo, hi = (int(x) for x in args.seeds.split("-"))
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    extra = ["--cpus", str(args.cpus)] if args.cpus else []
    out = {"seconds": bench["run_seconds"], "trace": args.trace, "extra": extra, "runs": {}}
    for w in workloads:
        for seed in range(lo, hi + 1):
            t0 = time.monotonic()
            proc = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", str(args.trace)] + extra,
                capture_output=True, text=True, check=True,
            )
            wall = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            if not result["correct"] or result["failed"]:
                sys.exit(f"{w} seed {seed}: incorrect: {detail['failures']}")
            out["runs"].setdefault(w, []).append(
                {"seed": seed, "wall_s": wall, "result": result, "detail": detail})
            print(f"{w} seed {seed}: {wall:.1f} s", file=sys.stderr, flush=True)
            json.dump(out, open(args.out, "w"), indent=1)
    out["summary"] = summarize(out, bench)
    json.dump(out, open(args.out, "w"), indent=1)
    print(json.dumps(out["summary"], indent=1))


def summarize(data: dict, bench: dict) -> dict:
    """Every printed metric (with its bound, when gated); the ungated
    latency and throughput figures of the detail line and the host's steal
    share alongside, for reading them."""
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w, runs in data["runs"].items():
        rows = {}
        for name in runs[0]["result"]["metrics"]:
            s = spreads([r["result"]["metrics"][name]["value"] for r in runs])
            rows[name] = {"median": s["median"], "spread": round(s["spread"], 4)}
            if name in bounds:
                rows[name].update(bound=bounds[name],
                                  within_third=s["spread"] < bounds[name] / 3)
        for name in runs[0]["detail"]["ungated"]:
            s = spreads([r["detail"]["ungated"][name]["value"] for r in runs])
            rows[f"ungated.{name}"] = {"median": s["median"],
                                       "spread": round(s["spread"], 4)}
        rows["steal_share"] = spreads([r["detail"]["steal_share"] for r in runs])
        rows["wall_s_mean"] = statistics.fmean(r["wall_s"] for r in runs)
        summary[w] = rows
    return summary


def compare(args) -> None:
    bench = json.load(open("BENCHMARK.json"))
    a, b = json.load(open(args.first)), json.load(open(args.second))
    worse = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    report = {}
    for w in a["summary"]:
        for name, (better, bound) in worse.items():
            ma, mb = a["summary"][w][name]["median"], b["summary"][w][name]["median"]
            change = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
            report[f"{w}/{name}"] = {"first": ma, "second": mb,
                                     "worse_by": round(change, 4), "bound": bound,
                                     "ok": change <= bound}
    print(json.dumps(report, indent=1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--cpus", type=int, default=0, help="passed on when set")
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    (run if args.cmd == "run" else compare)(args)


if __name__ == "__main__":
    main()
