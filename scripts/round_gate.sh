#!/usr/bin/env bash
# End-of-round freshness gate (VERDICT r10 ask #1): refuse the end-of-round
# snapshot while ANY gate artifact is stale. Rounds 9 and 10 both shipped
# queries whose gate artifacts (shuffle budget, PLANS.md, SCALES.md,
# SCALING.md, SURVEY declarations) lagged the code — this script makes
# "regenerate + enforce everything" one command.
#
# Steps (each nonzero-exit fails the gate):
#   1. sbt test                         — full ScalaTest suite
#   2. PlanLint full @ canonical SF     — BNLJ/1partWin/shuffle-budget gates,
#                                         then regenerates PLANS.md's LINT body
#   3. check_declared.py                — registered ⊆ SURVEY-declared
#   4. StreamBench                      — stateful state-growth gate
#   5. cross_scale_gate.sh              — Verify+DuckDB oracle @ sf0.001+sf0.01
#                                         (writes SCALES.md)
#   6. Bench @ sf0.01 and sf0.1         — errors/regressions gate, then
#      check_scaling.py                 — superlinearity probe (writes SCALING.md)
#   7. mutation_probe.py (sampled)      — perturb sampled queries' Spark code,
#      assert the oracle harness flags each (writes MUTATION.md)
#   8. provenance.py check              — every step above must have run at the
#      CURRENT source state (PROVENANCE.json, committed with the snapshot);
#      any late source commit makes the gate refuse until the affected steps
#      are re-run (VERDICT r11 ask #1)
#
# Wall-clock ~35-40 min. GATE_SKIP_BENCH=1 skips step 6 (fast mode for
# mid-round checks; the end-of-round run must be full).
set -u
cd "$(dirname "$0")/.."
fail=0
step() { echo; echo "===== round_gate: $* ====="; }

step "1/8 sbt test"
if ! sbt -batch test > target/gate_test.log 2>&1; then
  echo "FAIL: sbt test (see target/gate_test.log)"
  grep -E "\*\*\* FAILED|TESTS FAILED" target/gate_test.log | head -10
  fail=1
else
  tail -2 target/gate_test.log
  python3 scripts/provenance.py stamp sbt_test
fi

step "2/8 PlanLint (full, canonical SF)"
if ! sbt -batch 'runMain graft.tools.PlanLint /root/testdata/sf0.001' \
    > target/gate_planlint.log 2>&1; then
  echo "FAIL: PlanLint (see target/gate_planlint.log)"
  grep "^FAIL" target/gate_planlint.log | head -10
  fail=1
else
  grep -c '^LINT' target/gate_planlint.log | xargs echo "PLANLINT OK, queries:"
  # Regenerate PLANS.md's LINT body from this run (header kept verbatim).
  awk '/^```$/{exit} {print}' PLANS.md > target/plans_header.txt
  { cat target/plans_header.txt; echo '```'
    grep '^LINT' target/gate_planlint.log; echo '```'; } > PLANS.md
  echo "PLANS.md regenerated"
  python3 scripts/provenance.py stamp planlint
fi

step "3/8 declared-vs-registered + artifact-count cross-check"
if python3 scripts/check_declared.py; then
  python3 scripts/provenance.py stamp declared
else fail=1; fi

step "4/8 StreamBench state-growth gate"
if ! sbt -batch 'runMain graft.tools.StreamBench' \
    > target/gate_streambench.log 2>&1; then
  echo "FAIL: StreamBench (see target/gate_streambench.log)"
  grep -E "STATE-GROWTH|FAIL" target/gate_streambench.log | head -10
  fail=1
else
  echo "StreamBench OK (state flat on all bounded shapes)"
  python3 scripts/provenance.py stamp streambench
fi

step "5/8 cross-scale oracle gate"
if bash scripts/cross_scale_gate.sh; then
  python3 scripts/provenance.py stamp cross_scale
else fail=1; fi

if [ "${GATE_SKIP_BENCH:-0}" = "1" ]; then
  step "6/8 bench+scaling SKIPPED (GATE_SKIP_BENCH=1 — not valid for the end-of-round run)"
else
  step "6/8 bench @ sf0.01 + sf0.1, scaling probe"
  for sf in 0.01 0.1; do
    if ! SPARK_GRAFT_SF_DIR=/root/testdata/sf$sf sbt -batch 'runMain graft.Bench' \
        > "target/gate_bench_sf$sf.log" 2>&1; then
      echo "FAIL: Bench sf$sf (see target/gate_bench_sf$sf.log)"
      fail=1
      continue # stale bench_queries.json would pass the JSON check vacuously
    fi
    cp target/bench_queries.json "target/gate_bench_sf$sf.json"
    benchok=1
    python3 - "target/gate_bench_sf$sf.json" <<'EOF' || { fail=1; benchok=0; }
import json, sys
d = json.load(open(sys.argv[1]))
ne, nr = d.get("n_errors", -1), d.get("n_regressions", -1)
print(f"{sys.argv[1]}: total={d.get('value'):.1f}s errors={ne} regressions={nr}")
if ne != 0:
    print("FAIL: bench errors:", list(d.get("errors", {}))[:10]); sys.exit(1)
if nr != 0:
    print("FAIL: bench regressions:", d.get("regressions", {})); sys.exit(1)
EOF
    [ "$benchok" = "1" ] && python3 scripts/provenance.py stamp "bench_sf$sf"
    # Durable per-query history (VERDICT r11 ask #6): the driver's BENCH_r*.json
    # parses only a short tail line, so the FULL per-query map is committed
    # here — cross-round per-query diffs live in git, not transient files.
    [ "$benchok" = "1" ] && [ "$sf" = "0.1" ] && \
      python3 -m json.tool "target/gate_bench_sf$sf.json" > BENCH_FULL.json
  done
  # sf1 probe runs BEFORE check_scaling so SCALING.md folds a FRESH probe
  # table — r12 ran it after and had to hand-fold the table (43faa9f). It is
  # now UNCONDITIONAL in the full gate (VERDICT r12 ask #4); GATE_SF1=0 is an
  # explicit escape hatch for emergencies only (end-of-round runs must probe).
  if [ "${GATE_SF1:-1}" = "1" ]; then
    step "6b/8 sf1 probe (true 10x step, top-20 + iterative graph family)"
    if python3 scripts/sf1_probe.py; then
      python3 scripts/provenance.py stamp sf1_probe
    else
      echo "FAIL: sf1 probe (superlinear query on a 10x row step — see scripts/sf1_probe.json)"
      fail=1
    fi
  else
    step "6b/8 sf1 probe SKIPPED (GATE_SF1=0 override — not valid for the end-of-round run)"
  fi
  if python3 scripts/check_scaling.py target/gate_bench_sf0.01.json \
      target/gate_bench_sf0.1.json; then
    python3 scripts/provenance.py stamp scaling
  else fail=1; fi
fi

step "6c/8 artifact-count cross-check (post-regeneration)"
# Runs AFTER steps 5/6 regenerate SCALES.md/SCALING.md — in step 3 it read the
# PREVIOUS round's totals and refused any round that adds queries (r12 flaw).
# Every artifact must cover the SAME query count: budget entries, PLANS.md
# LINT lines, and (when present from step 5/6) the SCALES pass totals and
# SCALING common-query count. A mismatch is exactly the
# artifacts-outrun-the-code staleness this gate exists to refuse.
# The budget's two columns (shuffles, exchanges) must also equal the PLANS.md
# LINT line of each query: a body regenerated without the budget (or the
# reverse) is the same staleness.
python3 - <<'EOF' || fail=1
import re, sys
ok = True
pinned = {}
for l in open('src/main/resources/planlint-shuffles.txt'):
    if not l.strip() or l.startswith('#'):
        continue
    f = l.split()
    if len(f) != 3 or not (f[1].isdigit() and f[2].isdigit()):
        print(f"BUDGET-MALFORMED: {l.rstrip()} (want: name shuffles exchanges)")
        ok = False
        continue
    pinned[f[0]] = (int(f[1]), int(f[2]))
budget = len(pinned)
linted = {}
for l in open('PLANS.md'):
    m = re.match(r'LINT (\S+)\s+shuffles=(\d+)\s+exchanges=(\d+)', l)
    if m:
        linted[m.group(1)] = (int(m.group(2)), int(m.group(3)))
    elif l.startswith('LINT '):
        print(f"LINT-MALFORMED: {l.rstrip()}")
        ok = False
if budget != len(linted):
    print(f"COUNT-MISMATCH: budget={budget} PLANS.md LINT lines={len(linted)}")
    ok = False
for n in sorted(pinned.keys() & linted.keys()):
    if pinned[n] != linted[n]:
        print(f"BUDGET-MISMATCH: {n} budget={pinned[n]} PLANS.md={linted[n]}")
        ok = False
m = re.findall(r'PASS=(\d+) FAIL=(\d+) NO_ORACLE=(\d+)', open('SCALES.md').read())
for p, f, n in m:
    if int(p) + int(n) != budget or int(f) != 0:
        print(f"COUNT-MISMATCH: SCALES.md PASS={p}+NO_ORACLE={n} vs budget={budget} (FAIL={f})")
        ok = False
# SCALING.md is only regenerated by step 6 — under GATE_SKIP_BENCH=1 it is
# intentionally stale, so comparing it against a new-query budget would turn
# the fast-mode gate RED in exactly the add-queries case fast mode exists
# for (r12 ADVICE item 4). Warn instead of failing when bench was skipped.
import os
bench_skipped = os.environ.get('GATE_SKIP_BENCH', '0') == '1'
sc = re.search(r'\((\d+) common queries', open('SCALING.md').read())
if sc and int(sc.group(1)) != budget:
    if bench_skipped:
        print(f"WARN: SCALING.md common={sc.group(1)} vs budget={budget} "
              "(stale by design under GATE_SKIP_BENCH=1; full gate enforces)")
    else:
        print(f"COUNT-MISMATCH: SCALING.md common={sc.group(1)} vs budget={budget}")
        ok = False
print("artifact-count cross-check:", "OK" if ok else "FAIL",
      f"(budget={budget})")
sys.exit(0 if ok else 1)
EOF

if [ "${GATE_SKIP_BENCH:-0}" = "1" ]; then
  step "7/8 mutation probe SKIPPED (GATE_SKIP_BENCH=1 fast mode)"
else
  step "7/8 oracle mutation probe (sampled, n=${MUTATION_N:-5})"
  # Falsifiability: perturb sampled queries' Spark code and assert the oracle
  # harness flags each (VERDICT r11 ask #2). Full 20-query artifact runs are
  # manual (scripts/mutation_probe.py --n 20); the gate samples to bound cost.
  if python3 scripts/mutation_probe.py --n "${MUTATION_N:-5}"; then
    python3 scripts/provenance.py stamp mutation
  else
    echo "FAIL: mutation probe (a sampled query's oracle is vacuous — see MUTATION.md)"
    fail=1
  fi
fi

step "8/8 gate provenance (SHA/source-state pinning)"
# Refuse the snapshot if any step above ran at a different SOURCE state than
# the current working tree (VERDICT r11 ask #1 — the r11 sbt-test log
# silently predated a late source fix; this makes that impossible to miss).
provargs=""
[ "${GATE_SKIP_BENCH:-0}" = "1" ] && provargs="--no-bench"
python3 scripts/provenance.py check $provargs || fail=1

echo
if [ $fail -ne 0 ]; then
  echo "ROUND GATE: RED — do NOT snapshot; fix and rerun"
else
  echo "ROUND GATE: GREEN — all artifacts fresh (PLANS.md, SCALES.md, SCALING.md, shuffle budget, SURVEY declarations); commit them"
fi
exit $fail
