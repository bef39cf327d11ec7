#!/usr/bin/env bash
# A/B of the benchmark: a parent revision against this checkout's working tree.
#
#   tools/kbench_ab.sh <parent-rev> <workload> <seed>...
#
# Exports <parent-rev> into a scratch directory with `git archive` (a plain
# copy: the repository's .git gains no worktree entry to prune if the run is
# interrupted), then for each seed runs `python3 kbench/run.py --trace 0` once
# on the parent and once on this checkout. The side that runs first alternates
# from seed to seed, so a drift of the machine hits both sides alike. Each side
# builds its own sources into its own kbench/build; nothing tracked changes.
#
# Prints each run's end-to-end metrics as it finishes, then per metric the
# per-seed pairs, each side's median and quartiles, the number of pairs the
# change wins, and whether the medians differ by more than the parent's
# quartile spread. Each run lasts BENCHMARK.json's run_seconds, the length the
# benchmark itself runs at; needs 1 minute or so per run.
#
# Environment:
#   KBENCH_AB_DIR  scratch directory (default: a new one under ${TMPDIR:-/tmp});
#                  results.jsonl and one log per run are kept there
set -euo pipefail
[ $# -ge 3 ] || { sed -n '2,3p' "$0" >&2; exit 2; }
rev="$1"; workload="$2"; shift 2
change="$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)"
secs="$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$change/BENCHMARK.json")"
dir="${KBENCH_AB_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/kbench_ab.XXXXXX")}"
parent="$dir/parent"
mkdir -p "$parent"
git -C "$change" archive "$rev" | tar -x -C "$parent"
results="$dir/results.jsonl"
: > "$results"
echo "kbench_ab: parent $(git -C "$change" rev-parse --short "$rev") in $parent, change $change, $workload, ${secs}s, results $results"

run_side() { # side seed
  local side="$1" seed="$2" root log
  root="$parent"; [ "$side" = change ] && root="$change"
  log="$dir/${side}_${seed}.log"
  (cd "$root" && python3 kbench/run.py --workload "$workload" --seed "$seed" \
    --seconds "$secs" --trace 0) > "$log" 2>&1 || true
  python3 - "$side" "$seed" "$log" >> "$results" <<'EOF'
import json, sys
side, seed, log = sys.argv[1], int(sys.argv[2]), sys.argv[3]
lines = [l for l in open(log).read().splitlines() if l.startswith('{"correct"')]
row = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 0, "failed": -1, "metrics": {}}
row.update(side=side, seed=seed)
print(json.dumps(row))
EOF
  tail -n 1 "$results"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then run_side parent "$seed"; run_side change "$seed"
  else run_side change "$seed"; run_side parent "$seed"; fi
  i=$((i + 1))
done

python3 - "$results" "$change/BENCHMARK.json" <<'EOF'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
spec = json.load(open(sys.argv[2]))["end_to_end"]
by = {(r["side"], r["seed"]): r for r in rows}
seeds = sorted({r["seed"] for r in rows})
bad = [r for r in rows if not r["correct"] or r["failed"] != 0]
print(f"\nruns: {len(rows)}, not correct or with failed operations: {len(bad)}")
def quart(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(s, by[("parent", s)]["metrics"].get(name, {}).get("value"),
              by[("change", s)]["metrics"].get(name, {}).get("value")) for s in seeds
             if ("parent", s) in by and ("change", s) in by]
    pairs = [(s, p, c) for s, p, c in pairs if p is not None and c is not None]
    if not pairs:
        continue
    print(f"\n{name} ({m['unit']}, {m['better']} is better)")
    for s, p, c in pairs:
        print(f"  seed {s}: parent {p:.3f}  change {c:.3f}")
    ps, cs = [p for _, p, _ in pairs], [c for _, _, c in pairs]
    (pq1, pmed, pq3), (cq1, cmed, cq3) = quart(ps), quart(cs)
    wins = sum((c < p) if lower else (c > p) for _, p, c in pairs)
    print(f"  parent median {pmed:.3f} (quartiles {pq1:.3f} to {pq3:.3f}, spread {(pq3 - pq1) / pmed:.3f})")
    print(f"  change median {cmed:.3f} (quartiles {cq1:.3f} to {cq3:.3f}, spread {(cq3 - cq1) / cmed:.3f})")
    print(f"  change wins {wins} of {len(pairs)} pairs; medians differ by {abs(cmed - pmed):.3f}, "
          f"{'more' if abs(cmed - pmed) > pq3 - pq1 else 'not more'} than the parent's quartile spread {pq3 - pq1:.3f}")
EOF
