"""Record a traced-run baseline for one workload and seed.

    python3 perfbench/baseline.py --workload topic_report --seed 1 --untraced 3

Runs ``run.py`` untraced ``--untraced`` times and traced once, all at the
same seed, and writes ``perfbench/baseline/<workload>-s<seed>-<UTC time>.json``
with the per-layer split, the traced wall time of the timed phase, the
untraced median and the tracing overhead between them.  Each call writes a
new file; none is overwritten.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(detail, result) lines of one ``run.py`` process."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["detail"], json.loads(out[-1])


def portable(env: dict) -> dict:
    """The pinned environment with checkout paths made relative and the
    interpreter named by its basename, so the record holds no host path."""
    out = {}
    for k, v in env.items():
        if isinstance(v, str):
            v = v.replace(sys.executable, os.path.basename(sys.executable))
            v = v.replace(ROOT + os.sep, "").replace(ROOT, ".")
        out[k] = v
    return out


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--untraced", type=int, default=3)
    args = ap.parse_args()

    walls = [run_once(args.workload, args.seed, seconds, 0)[0]["wall_s"]
             for _ in range(args.untraced)]
    detail, result = run_once(args.workload, args.seed, seconds, 1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    untraced = statistics.median(walls)
    wall = m["trace.wall_s"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "run_seconds": seconds,
        "env": portable(detail["env"]),
        "inputs": detail["inputs"],
        "correct": result["correct"],
        "untraced_wall_s": walls,
        "traced_wall_s": wall,
        "tracing_overhead": wall / untraced - 1,
        # self times of every span, the root's included, against the wall
        "self_sum_over_wall": m["trace.self_sum_s"] / wall,
        # the share of the wall that some layer's span covers
        "attributed_share": 1 - m["self.bench_s"] / wall,
        "self_s_by_layer": {k[5:-2]: v for k, v in m.items() if k.startswith("self.")},
        "per_layer": m,
        "udf_profiles": detail.get("udf_profiles", {}),
    }
    out_dir = os.path.join(HERE, "baseline")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-{stamp}.json")
    with open(path, "x") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(path)


if __name__ == "__main__":
    main()
