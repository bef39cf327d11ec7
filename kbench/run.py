#!/usr/bin/env python3
"""kbench: the repository's benchmark.

    python3 kbench/run.py --workload <ingest_catchup|dashboard_mixed>
                          --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program and the
benchmark into kbench/build. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. See kbench/README.md.
"""
import argparse
import json
import os
import sys
import time

T_START = time.time()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

END_TO_END = {"setup_s": "s", "throughput_per_s": "op/s", "latency_p50_ms": "ms"}


def per_layer_names():
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest_catchup", "dashboard_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    layer_units = per_layer_names()
    args.build_s = common.build()
    import daemon_lanes as lane
    attempted, failed, e2e, layers, info = lane.run(args, T_START)
    print("kbench info: " + json.dumps(info, sort_keys=True))
    if args.trace:
        print("kbench end-to-end (traced): " + json.dumps({k: v[0] for k, v in e2e.items()}))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(e2e[k][0]), "unit": u} for k, u in END_TO_END.items()}
    correct = bool(info.get("checks_ok", True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
