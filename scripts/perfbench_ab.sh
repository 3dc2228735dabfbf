#!/usr/bin/env bash
# A/B a perfbench workload: the checkout this script sits in ("change")
# against a parent revision, in alternating runs over fresh seeds.
#
#   scripts/perfbench_ab.sh <workload> <parent-rev> <pairs>
#
# The parent is checked out into a git worktree under /tmp (or taken from
# PARENT_DIR, an existing checkout of it). Pair i runs both sides on seed
# SEED_BASE+i (default 1000), parent first on even pairs and change first
# on odd ones, for BENCHMARK.json's run_seconds. Each run's JSON goes to
# OUT (default a fresh /tmp dir). The summary gives, for every end-to-end
# metric of BENCHMARK.json: the median and quartiles of each side, the
# pairs the change won, whether the change clears the gain rule (wins at
# least 9 in 10 pairs and its median beats the parent's by more than the
# parent's interquartile range), and whether it regresses past the
# metric's bound: "yes" when the change's median is worse than the
# parent's by more than bound x the parent's median, "unresolved" when
# the parent's interquartile range exceeds that margin and not every
# change run beats every parent run, "no" otherwise.
#
# Runs only perfbench/run.py; it writes nothing under perfbench/.
set -euo pipefail

if [ $# -ne 3 ]; then
  echo "usage: $0 <workload> <parent-rev> <pairs>" >&2
  exit 2
fi
workload=$1 parent_rev=$2 pairs=$3
change=$(cd "$(dirname "$0")/.." && pwd)
seed_base=${SEED_BASE:-1000}
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$change/BENCHMARK.json")
out=${OUT:-$(mktemp -d /tmp/perfbench_ab.XXXXXX)}
mkdir -p "$out"

parent=${PARENT_DIR:-}
if [ -z "$parent" ]; then
  parent=$(mktemp -d /tmp/perfbench_ab_parent.XXXXXX)
  rmdir "$parent"
  git -C "$change" worktree add --detach "$parent" "$parent_rev" >/dev/null
  trap 'git -C "$change" worktree remove --force "$parent"' EXIT
fi

run() { # side dir seed
  local f="$out/$1-seed$3.json"
  if (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
        --seconds "$seconds" --trace 0) > "$f.log" 2>/dev/null; then
    tail -n 1 "$f.log" > "$f"
  else
    echo "run failed: $1 seed $3 (see $f.log)" >&2
  fi
  rm -f "$f.log"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed_base + i))
  if ((i % 2 == 0)); then
    run parent "$parent" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$parent" "$seed"
  fi
  echo "pair $((i + 1))/$pairs (seed $seed) done" >&2
done

python3 - "$out" "$change/BENCHMARK.json" "$workload" "$seed_base" "$pairs" <<'EOF'
import json, os, statistics, sys

out, bench, workload, seed_base, pairs = sys.argv[1:6]
seeds = [int(seed_base) + i for i in range(int(pairs))]

def load(side, seed):
    p = os.path.join(out, f"{side}-seed{seed}.json")
    return json.load(open(p)) if os.path.exists(p) else None

runs = [(load("parent", s), load("change", s)) for s in seeds]
runs = [(p, c) for p, c in runs if p and c]
print(f"{workload}: {len(runs)} complete pairs of {pairs}; results in {out}")
print("failed ops: parent", [p["failed"] for p, _ in runs],
      "change", [c["failed"] for _, c in runs])

def q(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3

print(f"{'metric':<15}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'Δmed':>9}{'won':>7}  gain  regress")
for m in json.load(open(bench))["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    ps = [p["metrics"][name]["value"] for p, _ in runs]
    cs = [c["metrics"][name]["value"] for _, c in runs]
    if not ps:
        continue
    pq, cq = q(ps), q(cs)
    won = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
    delta = cq[1] - pq[1]
    better = -delta if lower else delta
    gain = won * 10 >= 9 * len(ps) and better > pq[2] - pq[0]
    margin = m["bound"] * abs(pq[1])
    all_beat = max(cs) < min(ps) if lower else min(cs) > max(ps)
    if -better > margin:
        regress = "yes"
    elif pq[2] - pq[0] > margin and not all_beat:
        regress = "unresolved"
    else:
        regress = "no"
    rel = f"{delta / pq[1]:+.1%}" if pq[1] else "n/a"
    fmt = lambda t: "/".join(f"{v:.4g}" for v in t)
    print(f"{name:<15}{fmt(pq):>30}{fmt(cq):>30}{rel:>9}{won:>4}/{len(ps):<2}  {'yes' if gain else 'no':<6}{regress}")
EOF
