#!/bin/bash
# Interleaved A/B of the perfbench benchmark: a parent revision against this
# checkout's working tree, seed by seed; the side that runs first alternates
# between pairs.
#
#   tools/perfbench_ab.sh <parent-rev> <workload> <seed>...
#
# Both sides are exported the same way, each into its own temporary
# directory (under $TMPDIR, default /tmp) that is removed on exit, and each
# builds there from scratch: the parent from `git archive`, the change from
# a snapshot of the working tree (tracked and untracked files, minus what
# .gitignore excludes, so no build output of this checkout). The build is
# offline, so both exports reuse this checkout's perfbench/.sbt through a
# symlink. Each run is `python3 perfbench/run.py --seconds 8 --trace 0`. Prints every
# pair's end-to-end metrics with the change's relative delta, then per
# metric the medians of each side, the parent's interquartile range and the
# number of pairs in which the change is better.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
REV="$1"; WORKLOAD="$2"; shift 2
PARENT="$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")"
CHANGE="$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")"
RESULTS="$PARENT.jsonl"
trap 'rm -rf "$PARENT" "$CHANGE" "$RESULTS"' EXIT
git -C "$REPO" archive "$(git -C "$REPO" rev-parse "$REV")" | tar -x -C "$PARENT"
# files deleted from the working tree but still in the index are skipped
git -C "$REPO" ls-files -co --exclude-standard -z |
  (cd "$REPO" && xargs -0 sh -c 'for f; do [ ! -e "$f" ] || printf "%s\0" "$f"; done' sh) |
  tar -C "$REPO" --null -T - -c | tar -x -C "$CHANGE"
mkdir -p "$REPO/perfbench/.sbt"
ln -s "$REPO/perfbench/.sbt" "$PARENT/perfbench/.sbt"
ln -s "$REPO/perfbench/.sbt" "$CHANGE/perfbench/.sbt"

run() {  # <checkout> <side> <seed>: appends {"side","seed",...result} to RESULTS
  local line
  line="$(cd "$1" && python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$3" --seconds 8 --trace 0 2>/dev/null | tail -n 1)" || true
  python3 - "$2" "$3" "$line" >>"$RESULTS" <<'PY'
import json, sys
side, seed, line = sys.argv[1], int(sys.argv[2]), sys.argv[3]
try:
    out = json.loads(line)
    out["metrics"] = {k: m["value"] for k, m in out["metrics"].items()}
except (ValueError, KeyError, TypeError):
    out = {"correct": False, "metrics": {}, "error": line[-200:]}
print(json.dumps(dict(out, side=side, seed=seed)))
PY
}

echo "perfbench A/B: parent $(git -C "$REPO" rev-parse --short "$REV")" \
  "vs $(git -C "$REPO" rev-parse --short HEAD)+worktree, workload $WORKLOAD"
first=parent
for seed in "$@"; do
  if [ "$first" = parent ]; then
    run "$PARENT" parent "$seed"; run "$CHANGE" change "$seed"; first=change
  else
    run "$CHANGE" change "$seed"; run "$PARENT" parent "$seed"; first=parent
  fi
  python3 - "$RESULTS" "$seed" <<'PY'
import json, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
seed = int(sys.argv[2])
a, b = ([r for r in rows if r["seed"] == seed and r["side"] == s][-1]
        for s in ("parent", "change"))
cells = []
for k in sorted(set(a["metrics"]) | set(b["metrics"])):
    x, y = a["metrics"].get(k), b["metrics"].get(k)
    d = f"{(y - x) / x:+.1%}" if x and y is not None else "n/a"
    cells.append(f"{k} {x:.4g} -> {y:.4g} ({d})" if x is not None and y is not None
                 else f"{k} {x} -> {y}")
ok = "" if a.get("correct") and b.get("correct") else "  [INCORRECT RUN]"
print(f"seed {seed}: " + "; ".join(cells) + ok, flush=True)
PY
done
python3 - "$RESULTS" "$REPO/BENCHMARK.json" <<'PY'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
better = {m["name"]: m["better"] for m in json.load(open(sys.argv[2]))["end_to_end"]}
pairs = {}
for r in rows:
    pairs.setdefault(r["seed"], {})[r["side"]] = r["metrics"]
for k in sorted({k for r in rows for k in r["metrics"]}):
    a = [p["parent"][k] for p in pairs.values() if k in p.get("parent", {})]
    b = [p["change"][k] for p in pairs.values() if k in p.get("change", {})]
    if not a or not b:
        continue
    x, y = statistics.median(a), statistics.median(b)
    q = statistics.quantiles(a, n=4) if len(a) > 1 else [a[0]] * 3
    sign = -1 if better.get(k, "lower") == "lower" else 1
    won = sum(1 for p in pairs.values() if k in p.get("parent", {})
              and k in p.get("change", {})
              and sign * (p["change"][k] - p["parent"][k]) > 0)
    print(f"median {k}: parent {x:.4g} change {y:.4g} ({(y - x) / x:+.1%}); "
          f"parent IQR {q[2] - q[0]:.4g}; change better in {won}/{len(pairs)} pairs")
PY
