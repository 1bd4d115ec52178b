#!/usr/bin/env bash
# tools/abtest.sh — one-command interleaved A/B against an older
# commit (r13 verdict ask #4: the closure-family adjudication method,
# packaged).
#
# Usage:
#   tools/abtest.sh <git-ref> <query-list> [rounds] [sfdir] [reps]
#     <git-ref>     the OLD code to compare against (built in a
#                   throwaway `git clone --local` under /tmp, so nothing
#                   is written under this repo's .git; needs a Bench
#                   that understands SPARK_GRAFT_ONLY/_BENCH_OUT — any
#                   ref >= round 5)
#     <query-list>  comma-separated SparkEntry query names (must exist
#                   on BOTH sides)
#     [rounds]      interleave depth per side (default 2)
#     [sfdir]       testdata dir (default /root/testdata/sf0.1)
#     [reps]        SPARK_GRAFT_BENCH_REPS pinned on BOTH sides
#                   (default 1: one shot per query, so neither side's
#                   own default shot policy decides what is compared)
#
# Runs the restricted bench cur,ref,ref,cur,cur,ref,… — a fresh JVM
# per run (sbt -batch exits after each), same-day interleaving so host
# contention phases hit both sides, and the side that runs first
# alternates every round so neither side always runs on the warmer
# (or colder) host — and merges every run's bench_out.json, in run
# order, into tools/abtest_<ref>_<ts>.json with a per-query per-side
# band summary.
#
# Reading rule (SURVEY §8 r13, measured): identical code swings ~2×
# session-to-session on this host with identical peakmem/zero spill.
# A regression is real only when one side's band SEPARATES from the
# other's across the interleaved runs (disjoint min..max on wall AND
# cpu with quiet canaries); overlapping bands = session noise, no
# bisection owed. canary_min far above the 0.16–0.24 s quiet band
# brands a run contended regardless of its internal ratios.
#
# Store hygiene: each side gets its OWN GRAFT_MODEL_DIR — the r13
# incident (an old-code run raw-rewrote the shared store's CURRENT,
# leaving a stale .crc sidecar) must stay impossible by construction.
set -euo pipefail

REF="${1:?usage: abtest.sh <git-ref> <query-list> [rounds] [sfdir] [reps]}"
QUERIES="${2:?usage: abtest.sh <git-ref> <query-list> [rounds] [sfdir] [reps]}"
ROUNDS="${3:-2}"
SFDIR="${4:-/root/testdata/sf0.1}"
REPS="${5:-1}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SAFE_REF="$(printf '%s' "$REF" | tr -c 'A-Za-z0-9._-' '_')"
WT="/tmp/graft_abtest_wt_${SAFE_REF}"
TS="$(date +%Y%m%d_%H%M%S)"
OUT="$REPO/tools/abtest_${SAFE_REF}_${TS}.json"
TMP="$(mktemp -d /tmp/graft_abtest_runs.XXXXXX)"

SHA="$(git -C "$REPO" rev-parse --verify "${REF}^{commit}")"
rm -rf "$WT"
git clone -q --local --no-checkout "$REPO" "$WT"
git -C "$WT" checkout -q --detach "$SHA"

echo "[abtest] building both trees (untimed)…"
(cd "$REPO" && sbt -batch compile >/dev/null 2>&1)
(cd "$WT" && sbt -batch compile >/dev/null 2>&1)

run_side() { # $1=side $2=dir $3=round-index
  local side="$1" dir="$2" idx="$3"
  local out="$TMP/${side}_${idx}.json"
  echo "[abtest] run ${idx} side ${side}"
  echo "${side}_${idx}" >> "$TMP/order"
  date +%s > "$TMP/${side}_${idx}.start"
  (cd "$dir" &&
    SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_SF_DIR="$SFDIR" \
    GRAFT_MODEL_DIR="$TMP/models_${side}" \
    SPARK_GRAFT_BENCH_OUT="$out" SPARK_GRAFT_BENCH_REPS="$REPS" \
    sbt -batch "runMain graft.Bench" >"$TMP/${side}_${idx}.log" 2>&1) ||
    echo "[abtest] WARNING: side ${side} run ${idx} exited nonzero" \
         "(log: $TMP/${side}_${idx}.log)"
}

for i in $(seq 1 "$ROUNDS"); do
  if [ $((i % 2)) -eq 1 ]; then
    run_side cur "$REPO" "$i"
    run_side ref "$WT" "$i"
  else
    run_side ref "$WT" "$i"
    run_side cur "$REPO" "$i"
  fi
done

python3 - "$OUT" "$REF" "$SHA" "$QUERIES" "$SFDIR" "$TMP" "$ROUNDS" "$REPS" <<'PY'
import json, os, sys
out, ref, ref_sha, queries, sfdir, tmp, rounds, reps = sys.argv[1:9]
qs = [q for q in queries.split(",") if q]
runs = []
order = open(os.path.join(tmp, "order")).read().split()
for tag in order:
    side, i = tag.rsplit("_", 1)
    p = os.path.join(tmp, f"{tag}.json")
    row = {"side": side, "round": int(i)}
    try:
        row["started_epoch"] = int(
            open(os.path.join(tmp, f"{tag}.start")).read().strip())
    except OSError:
        pass
    try:
        d = json.load(open(p))
        row.update(
            wall={q: d["queries"].get(q) for q in qs},
            cpu={q: d["cpu"].get(q) for q in qs},
            run={q: d["run"].get(q) for q in qs},
            spill_disk={q: d["spill_disk"].get(q) for q in qs},
            canary={q: d["canary"].get(q) for q in qs},
            canary_base=d.get("canary_base"),
            canary_min=d.get("canary_min"),
            # parallel-kernel bracket (absent from pre-r14 refs):
            # quiet band 0.031-0.045 s — a run whose serial canary
            # is quiet but whose canary_par_min dilates was measured
            # under wide-lane bandwidth contention (stall-inflated
            # cpu), and its cpu band must not adjudicate alone.
            canary_par_min=d.get("canary_par_min"),
            canary_par_max=d.get("canary_par_max"),
            errors=d.get("errors", []))
    except (OSError, json.JSONDecodeError, KeyError) as e:
        row["error"] = f"run artifact unreadable: {e}"
    runs.append(row)

def band(side, metric, q):
    vals = [r[metric][q] for r in runs
            if r["side"] == side and metric in r
            and r[metric].get(q) not in (None, 0.0)]
    return {"min": min(vals), "max": max(vals), "n": len(vals)} if vals else None

summary = {q: {m: {"cur": band("cur", m, q), "ref": band("ref", m, q)}
               for m in ("wall", "cpu")} for q in qs}

def overlaps(q, m):
    a, b = summary[q][m]["cur"], summary[q][m]["ref"]
    if not a or not b:
        return None
    return a["min"] <= b["max"] and b["min"] <= a["max"]

verdicts = {q: {
    "wall_bands_overlap": overlaps(q, "wall"),
    "cpu_bands_overlap": overlaps(q, "cpu"),
    "reading": ("session noise — no regression signal"
                if overlaps(q, "wall") is not False
                and overlaps(q, "cpu") is not False
                else "bands SEPARATE — adjudicate manually "
                     "(check canaries first)")} for q in qs}

json.dump({
    "tool": "abtest.sh",
    "ref": ref, "ref_sha": ref_sha, "queries": qs, "sf": sfdir,
    "rounds": int(rounds),
    "reps": reps,
    "interleave_order": order,
    "method": ("fresh JVM per run (one sbt -batch runMain each), "
               "same-day interleaving cur,ref,ref,cur,… (the first "
               "side alternates per round; interleave_order is the "
               "order the runs started in); per-side "
               "GRAFT_MODEL_DIR so neither side can rewrite the "
               "other's serving stores; reading rule: identical code "
               "swings ~2x on this host — only DISJOINT wall AND cpu "
               "bands with quiet canaries indicate a real change"),
    "runs": runs, "summary": summary, "verdicts": verdicts,
}, open(out, "w"), indent=1)
print(f"[abtest] artifact: {out}")
for q in qs:
    print(f"[abtest] {q}: {verdicts[q]['reading']}")
PY

rm -rf "$WT"
echo "[abtest] done"
