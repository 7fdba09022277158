"""Take a baseline: two sets of untraced runs per workload, then traced runs.

    python3 perfbench/baseline.py --out perfbench/BASELINE_4core.json

Run from the repository root.  Each run is one ``perfbench/run.py``
process.  The two sets use disjoint seeds (``--set1`` and ``--set2``) and
are interleaved: round i runs every workload once with the i-th seed of
each set, the workload order and which set goes first alternating from
round to round, so a slow window of the machine falls on both sets alike.
For every end-to-end metric each set gives the median, the quartiles
(``statistics.quantiles(values, n=4)``) and their distance as a share of
the median; ``comparison`` gives how much worse set 2's median is than set
1's.  Then one traced run per workload (``--traced-seed``, a longer
``--traced-seconds`` window so it holds several traced passes) adds the
per-layer ledger, the tracing overhead (``trace_overhead_s``: a traced pass
minus the untraced pass run next to it) and the two layers with the most
self time.  The output file is rewritten after every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layer self time = its construction span plus the extra time of its
# action over its input's action (see workloads.py probes)
SELF_TIME = {
    "cells.encode": ["cells.encode_s"],
    "pip_join": ["pip_join.construct_s", "pip_join.exec_s"],
    "knn": ["knn.construct_s", "knn.exec_s"],
    "sampling": ["sampling.construct_s", "sampling.exec_s"],
    "images.verify": ["images.verify_construct_s", "images.verify_exec_s"],
    "lineage": ["lineage.overhead_s", "lineage.resume_s"],
    "dedup.construct": ["dedup.construct_s"],
    "dedup.signatures": ["dedup.signatures_s"],
}
ENV_KEYS = ("nproc", "cpus_usable", "master", "spark", "java", "python", "numpy",
            "pyarrow")


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    out = json.loads(lines[-1])
    for ln in lines[:-1]:
        out.update(json.loads(ln))
    return out


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else 0.0, "values": values}


def top_layers(metrics: dict, n: int = 2) -> list[tuple[str, float]]:
    self_s = {layer: sum(metrics[k]["value"] for k in keys)
              for layer, keys in SELF_TIME.items()}
    if metrics["dedup.signatures_s"]["value"]:
        self_s["dedup.lsh_verify"] = (metrics["dedup.exec_s"]["value"]
                                      - metrics["dedup.signatures_s"]["value"])
    return sorted(self_s.items(), key=lambda kv: -kv[1])[:n]


def summarize_set(runs: list[dict], end_to_end: list[dict]) -> dict:
    return {"env": runs[-1]["env"],
            "seeds": [r["env"]["seed"] for r in runs],
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "pass_s_each": [r["report"]["pass_s_each"] for r in runs],
            "cpu_steal_frac": [r["report"]["cpu_steal_frac"] for r in runs],
            "tail_percentile": [r["report"]["pass_s_tail_percentile"] for r in runs],
            "metrics": {m["name"]: spread([r["metrics"][m["name"]]["value"] for r in runs])
                        for m in end_to_end}}


def worse_by(m: dict, first: float, second: float) -> float:
    """How much worse *second* is than *first*, as a share of *first*."""
    d = (second - first) if m["better"] == "lower" else (first - second)
    return d / first if first else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--set1", default="1-10")
    ap.add_argument("--set2", default="11-20")
    ap.add_argument("--traced-seed", type=int, default=97)
    ap.add_argument("--traced-seconds", type=int, default=40)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    names = [w["name"] for w in spec["workloads"]]
    seeds = {"set1": _seeds(args.set1), "set2": _seeds(args.set2)}
    if len(seeds["set1"]) != len(seeds["set2"]):
        ap.error("the two sets need as many seeds each")
    runs: dict = {s: {n: [] for n in names} for s in seeds}
    out = {"box": {}, "run_seconds": seconds, "order": "interleaved",
           "sets": {}, "comparison": {}, "traced": {}}

    def save():
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")

    for i in range(len(seeds["set1"])):
        order = names if i % 2 == 0 else names[::-1]
        sets = ("set1", "set2") if i % 2 == 0 else ("set2", "set1")
        for name in order:
            for s in sets:
                r = run_once(name, seeds[s][i], seconds, 0)
                runs[s][name].append(r)
                out["box"] = {k: r["env"][k] for k in ENV_KEYS}
                print(s, name, seeds[s][i],
                      {k: round(v["value"], 4) for k, v in r["metrics"].items()},
                      file=sys.stderr, flush=True)
        for s in seeds:
            out["sets"][s] = {"seeds": [seeds[s][j] for j in range(i + 1)],
                              "workloads": {n: summarize_set(runs[s][n], spec["end_to_end"])
                                            for n in names if len(runs[s][n]) > 1}}
        save()
    for name in names:
        m1, m2 = (out["sets"][s]["workloads"][name]["metrics"] for s in seeds)
        out["comparison"][name] = {
            m["name"]: {"set1_median": m1[m["name"]]["median"],
                        "set2_median": m2[m["name"]]["median"],
                        "set2_worse_by": worse_by(m, m1[m["name"]]["median"],
                                                  m2[m["name"]]["median"]),
                        "bound": m["bound"]}
            for m in spec["end_to_end"]}
    save()
    for name in names:
        t = run_once(name, args.traced_seed, args.traced_seconds, 1)
        out["traced"][name] = {
            "seed": args.traced_seed, "seconds": args.traced_seconds,
            "attempted": t["attempted"], "failed": t["failed"],
            "passes": t["report"]["passes"],
            "cpu_steal_frac": t["report"]["cpu_steal_frac"],
            "per_layer": {k: v["value"] for k, v in t["metrics"].items()},
            "top_two_self_s": top_layers(t["metrics"]),
            "spans": t["report"]["spans"],
        }
        save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
