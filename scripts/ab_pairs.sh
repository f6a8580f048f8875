#!/usr/bin/env bash
# A/B pairs of graftbench runs: the committed parent (HEAD) against the
# working tree. Usage:
#   scripts/ab_pairs.sh [workload] [pairs] [seconds] [first seed] [trace]
# (defaults: event_store 10 6 1 0). Both sides are copied to
# ${TMPDIR:-/tmp}/graft-ab/{parent,change}, and each copy's
# graftbench/run.py builds its own engine on its first run. Pair i runs
# seed (first seed + i) on both sides, one after the other; the side that
# runs first alternates between pairs, so a drift in host load falls on
# both sides alike. Both output lines of each run (the detail object and
# the result) go to <side>.jsonl in that directory.
# Prints, for each end-to-end metric of BENCHMARK.json, the median and
# quartiles of each side and the number of pairs the change won, and a
# verdict by the rules of a paired A/B: a gain when the change wins at
# least 9/10 of the pairs and the medians differ by more than the
# parent's interquartile range; a regression when the change's median is
# worse than the parent's by more than the metric's BENCHMARK.json
# `bound`, read as a fraction of the parent median; "unresolved" when the
# parent's IQR exceeds that bound, unless every change run beats every
# parent run. Then it prints the
# median per side of the workload's own metrics (the detail line's
# `metrics`) and of each number in its `context` (`jvm.jit_ms`,
# `jvm.gc_ms`, `host.steal_pct`, ...), then the failed ops and incorrect
# runs of each side. With
# trace 1 the runs are traced (`--trace 1`): the end-to-end metrics come
# from the detail line's `shared_metrics`, and the median per side of
# every `log.*` and `append.*` layer metric is printed too. Runs one JVM
# at a time.
set -euo pipefail
cd "$(dirname "$0")/.."
WORKLOAD=${1:-event_store}
PAIRS=${2:-10}
SECONDS_PER_RUN=${3:-6}
SEED0=${4:-1}
TRACE=${5:-0}
AB=${TMPDIR:-/tmp}/graft-ab

rm -rf "$AB"
mkdir -p "$AB/parent" "$AB/change"
git archive HEAD | tar -x -C "$AB/parent"
# the working tree: tracked files that still exist plus untracked, not ignored ones
git ls-files -z --cached --others --exclude-standard |
  while IFS= read -r -d '' f; do if [ -e "$f" ]; then printf '%s\0' "$f"; fi; done |
  tar --null -T - -cf - | tar -x -C "$AB/change"

run() { # side seed
  local out detail line
  out=$(cd "$AB/$1" && python3 graftbench/run.py --workload "$WORKLOAD" --seed "$2" \
    --seconds "$SECONDS_PER_RUN" --trace "$TRACE" 2>>"$AB/$1.err" | tail -n 2) || out=''
  detail=$(printf '%s\n' "$out" | sed -n 1p)
  line=$(printf '%s\n' "$out" | sed -n 2p)
  [ -n "$line" ] || { line='{}'; detail='{}'; }
  printf '{"seed": %s, "detail": %s, "result": %s}\n' "$2" "$detail" "$line" >>"$AB/$1.jsonl"
  echo "[ab] $1 seed $2: $line" >&2
}

for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then run parent "$seed"; run change "$seed"
  else run change "$seed"; run parent "$seed"; fi
done

python3 - "$AB" <<'EOF'
import json, math, statistics, sys
ab = sys.argv[1]
spec = json.load(open("BENCHMARK.json"))
runs = {s: {r["seed"]: r for r in map(json.loads, open(f"{ab}/{s}.jsonl"))} for s in ("parent", "change")}
side = {s: {k: r["result"] for k, r in rs.items()} for s, rs in runs.items()}
def e2e(r):  # from the detail line: a traced run's result line holds per-layer metrics
    shared = r["detail"].get("shared_metrics")
    return {k: {"value": v} for k, v in shared.items()} if shared and "metrics" in r["result"] else None
def q(xs):
    if len(xs) < 2:
        return (xs or [float("nan")])[0], float("nan"), float("nan")
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    vals = {s: {k: e2e(r)[name]["value"] for k, r in runs[s].items() if e2e(r)} for s in runs}
    seeds = sorted(set(vals["parent"]) & set(vals["change"]))
    wins = sum((vals["change"][k] < vals["parent"][k]) == lower
               and vals["change"][k] != vals["parent"][k] for k in seeds)
    (pm, p1, p3), (cm, c1, c3) = (q([vals[s][k] for k in seeds]) for s in ("parent", "change"))
    print(f"{name} ({m['unit']}, {m['better']} is better): parent median {pm:.3f} [q1 {p1:.3f}, q3 {p3:.3f}]"
          f"  change median {cm:.3f} [q1 {c1:.3f}, q3 {c3:.3f}]  delta {100 * (cm - pm) / pm:+.1f}%"
          f"  change better in {wins}/{len(seeds)} pairs")
    # a gain needs 9/10 of the pairs and a median gap above the parent's IQR;
    # the no-regression rule reads BENCHMARK.json's bound as a fraction of the parent median
    gap, iqr, bound = (pm - cm) if lower else (cm - pm), p3 - p1, m["bound"]
    gain = wins >= 0.9 * len(seeds) and gap > iqr
    beats_all = bool(seeds) and all((c < p) == lower and c != p
                                    for c in (vals["change"][k] for k in seeds) for p in (vals["parent"][k] for k in seeds))
    if beats_all:
        regress = "no regression (every change run beats every parent run)"
    elif iqr > bound * pm:
        regress = f"unresolved (parent IQR {iqr:.3f} exceeds the bound, {bound:.0%} of the parent median = {bound * pm:.3f})"
    elif -gap > bound * pm:
        regress = f"REGRESSION (change worse by {-gap:.3f}, over {bound:.0%} of the parent median = {bound * pm:.3f})"
    else:
        regress = f"no regression (change worse by at most {bound:.0%} of the parent median = {bound * pm:.3f})"
    print(f"verdict {name}: gain {'yes' if gain else 'no'} (change better in {wins}/{len(seeds)} pairs, needs"
          f" {math.ceil(0.9 * len(seeds))}; median gap {gap:.3f} vs parent IQR {iqr:.3f}); {regress}")
def number(v):  # a metric is {"value": x}, a context entry a bare x
    v = v.get("value") if isinstance(v, dict) else v
    return v if isinstance(v, (int, float)) and not isinstance(v, bool) else None
def medians(title, key, keep):
    names = sorted({n for rs in runs.values() for r in rs.values() for n in r["detail"].get(key, {}) if keep(n)})
    for n in names:
        per = {s: [v for r in rs.values() if (v := number(r["detail"].get(key, {}).get(n))) is not None]
               for s, rs in runs.items()}
        if per["parent"] or per["change"]:
            print(f"{title} {n}: parent median {q(per['parent'])[0]:.3f}  change median {q(per['change'])[0]:.3f}")
medians("metric", "metrics", lambda n: True)
medians("context", "context", lambda n: True)
medians("layer", "layers", lambda n: n.startswith(("log.", "append.")))
for s in side:
    rs = side[s].values()
    print(f"{s}: {len(rs)} runs, {sum(1 for r in rs if 'metrics' not in r)} without a result, "
          f"{sum(1 for r in rs if r.get('correct') is False)} incorrect, "
          f"{sum(r.get('failed', 0) for r in rs)} failed ops")
EOF
