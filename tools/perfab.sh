#!/usr/bin/env bash
# tools/perfab.sh — interleaved perfbench A/B of this checkout against
# an older commit, on one workload.
#
# Usage:
#   tools/perfab.sh <git-ref> <workload> <pairs> [first-seed] [seconds]
#     <git-ref>     the OLD code to compare against, built in a
#                   throwaway `git clone --local` under /tmp (nothing is
#                   written under this repo's .git)
#     <workload>    a perfbench workload (collections, ingest_cycle)
#     <pairs>       number of timed pairs
#     [first-seed]  seed of pair 1; pair i runs seed first-seed + i - 1
#                   on both sides (default 101)
#     [seconds]     perfbench --seconds (default 10, BENCHMARK.json's)
#
# Each side first makes one discarded run: it builds its jar, fits its
# serving store and writes its class-data-sharing archive, so no timed
# run pays for them. Then each pair runs both sides on the same seed,
# fresh JVM per run, and the side that runs first alternates per pair
# (cur first in odd pairs). Every run's metrics, steal share and
# position in the run order go to tools/perfab_<ref>_<ts>.json; the
# script prints, per metric, each side's median and quartiles and the
# pairs the current tree won.
set -euo pipefail

USAGE="usage: perfab.sh <git-ref> <workload> <pairs> [first-seed] [seconds]"
REF="${1:?$USAGE}"
WORKLOAD="${2:?$USAGE}"
PAIRS="${3:?$USAGE}"
SEED0="${4:-101}"
SECONDS_PER_RUN="${5:-10}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SAFE_REF="$(printf '%s' "$REF" | tr -c 'A-Za-z0-9._-' '_')"
WT="/tmp/graft_perfab_wt_${SAFE_REF}"
TS="$(date +%Y%m%d_%H%M%S)"
OUT="$REPO/tools/perfab_${SAFE_REF}_${TS}.json"
TMP="$(mktemp -d /tmp/graft_perfab_runs.XXXXXX)"

SHA="$(git -C "$REPO" rev-parse --verify "${REF}^{commit}")"
rm -rf "$WT"
git clone -q --local --no-checkout "$REPO" "$WT"
git -C "$WT" checkout -q --detach "$SHA"

run_side() { # $1=side $2=dir $3=tag $4=seed
  local side="$1" dir="$2" tag="$3" seed="$4"
  echo "[perfab] ${tag} side ${side} seed ${seed}"
  echo "${side} ${tag} ${seed}" >> "$TMP/order"
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
      --seconds "$SECONDS_PER_RUN" --trace 0) \
    >"$TMP/${side}_${tag}.out" 2>"$TMP/${side}_${tag}.err" ||
    echo "[perfab] WARNING: side ${side} ${tag} exited nonzero (log: $TMP/${side}_${tag}.err)"
}

run_side cur "$REPO" warm "$SEED0"
run_side ref "$WT" warm "$SEED0"
for i in $(seq 1 "$PAIRS"); do
  seed=$((SEED0 + i - 1))
  if [ $((i % 2)) -eq 1 ]; then
    run_side cur "$REPO" "$i" "$seed"
    run_side ref "$WT" "$i" "$seed"
  else
    run_side ref "$WT" "$i" "$seed"
    run_side cur "$REPO" "$i" "$seed"
  fi
done

python3 - "$OUT" "$REF" "$SHA" "$WORKLOAD" "$PAIRS" "$SECONDS_PER_RUN" "$TMP" <<'PY'
import json, os, statistics, sys
out, ref, ref_sha, workload, pairs, seconds, tmp = sys.argv[1:8]
HIGHER = {"rows_per_s"}
runs = []
for pos, line in enumerate(open(os.path.join(tmp, "order")).read().splitlines()):
    side, tag, seed = line.split()
    row = {"side": side, "pair": None if tag == "warm" else int(tag),
           "seed": int(seed), "position": pos, "discarded": tag == "warm"}
    try:
        lines = [json.loads(l) for l in open(os.path.join(tmp, f"{side}_{tag}.out"))
                 if l.startswith("{")]
        cond = next(l["conditions"] for l in lines if "conditions" in l)
        res = lines[-1]
        row.update(steal_share=cond.get("steal_share"), loadavg=cond.get("loadavg"),
                   class_archive=cond.get("class_archive"),
                   correct=res["correct"], attempted=res["attempted"], failed=res["failed"],
                   metrics={k: v["value"] for k, v in res["metrics"].items()})
    except (OSError, StopIteration, KeyError, IndexError, json.JSONDecodeError) as e:
        row["error"] = f"run output unreadable: {e}"
    runs.append(row)

timed = [r for r in runs if not r["discarded"] and "metrics" in r]
names = sorted({k for r in timed for k in r["metrics"]})

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

summary = {}
for m in names:
    side = {s: [r["metrics"][m] for r in timed if r["side"] == s and m in r["metrics"]]
            for s in ("cur", "ref")}
    by_pair = {}
    for r in timed:
        if m in r["metrics"]:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r["metrics"][m]
    both = [p for p in by_pair.values() if "cur" in p and "ref" in p]
    better = (lambda c, b: c > b) if m in HIGHER else (lambda c, b: c < b)
    summary[m] = {
        s: dict(zip(("q1", "median", "q3"), quartiles(v)), n=len(v)) for s, v in side.items()}
    summary[m]["cur_wins"] = sum(better(p["cur"], p["ref"]) for p in both)
    summary[m]["pairs"] = len(both)

json.dump({
    "tool": "perfab.sh", "ref": ref, "ref_sha": ref_sha, "workload": workload,
    "pairs": int(pairs), "seconds": float(seconds),
    "method": ("one discarded run per side (build, store fit, class archive), then "
               "interleaved pairs on the same seed, fresh JVM per run, the first "
               "side alternating per pair (cur first in odd pairs); 'position' is "
               "the run's place in the order the runs were made"),
    "runs": runs, "summary": summary,
}, open(out, "w"), indent=1)
print(f"[perfab] artifact: {out}")
fails = [r for r in runs if "error" in r or r.get("failed")]
if fails:
    print(f"[perfab] {len(fails)} run(s) failed or unreadable: see the artifact")
for m in names:
    s = summary[m]
    def fmt(d):
        return "n/a" if d["median"] is None else \
            f"{d['median']:.4g} [{d['q1']:.4g}, {d['q3']:.4g}]"
    print(f"[perfab] {m}: cur {fmt(s['cur'])}  ref {fmt(s['ref'])}  "
          f"cur better in {s['cur_wins']}/{s['pairs']} pairs")
PY

rm -rf "$WT"
echo "[perfab] done (run logs: $TMP)"
