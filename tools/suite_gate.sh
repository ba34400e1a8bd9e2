#!/usr/bin/env bash
# End-of-round snapshot gate (round-13 verdict item 3, provenance hole
# closed round 15): the same defect class shipped twice — r12 registered
# a query without its oracle, r13 committed a spec without running the
# suite — and r14 stamped a marker that two further code commits then
# outran. This script makes "suite green" a PRECONDITION of the snapshot
# instead of a convention:
#   1. it runs the full ScalaTest suite, then the benchmark's pytest
#      suite (perfbench/tests), and refuses (exit 1) on any failure or
#      on a CrashSpec child JVM left running;
#   2. on success it writes SUITE_GREEN.md recording the run (HEAD,
#      date, the suite's own derived counts — never hand-counted) PLUS a
#      content digest of src/ + build.sbt as it was tested;
#   3. `tools/suite_gate.sh --check` recomputes that digest and fails
#      if ANY source changed after the recorded run — the snapshot
#      procedure is: run the gate, `git add -A && git commit`, nothing
#      in between; --check is how the sequence is enforced rather than
#      trusted (round-14 verdict: the marker must certify the snapshot's
#      parent, not some earlier commit).
#
# Usage: tools/suite_gate.sh           (from the repo root; ~3-4 min)
#        tools/suite_gate.sh --check   (instant; verifies src unchanged
#                                       since the last stamped run)
set -u
cd "$(dirname "$0")/.."

src_digest() {
  # content digest of every tracked-or-new file the suite's BUILD
  # depends on (worktree state, not HEAD — uncommitted edits count):
  # src/, build.sbt AND the sbt build definition under project/ — a
  # project/*.sbt change alters compiler flags/deps the recorded run
  # never saw (round-15 review finding)
  { git ls-files src build.sbt project; \
    git ls-files --others --exclude-standard src project; } \
    | sort -u | xargs -r sha1sum 2>/dev/null | sha1sum | cut -d' ' -f1
}

if [ "${1:-}" = "--check" ]; then
  if [ ! -f SUITE_GREEN.md ]; then
    echo "[suite_gate] --check: no SUITE_GREEN.md — run the gate first"; exit 1
  fi
  RECORDED=$(grep -E "^- src digest: " SUITE_GREEN.md | tail -1 | awk '{print $4}')
  CURRENT=$(src_digest)
  if [ -z "$RECORDED" ] || [ "$RECORDED" != "$CURRENT" ]; then
    echo "[suite_gate] --check: src/build.sbt changed AFTER the recorded green run"
    echo "[suite_gate]   recorded: ${RECORDED:-<none>}"
    echo "[suite_gate]   current:  $CURRENT"
    echo "[suite_gate] re-run tools/suite_gate.sh before the snapshot commit"
    exit 1
  fi
  echo "[suite_gate] --check: OK — src matches the stamped green run"
  exit 0
fi

LOG=$(mktemp /tmp/suite_gate.XXXXXX.log)
echo "[suite_gate] running full suite -> $LOG"
# digest BEFORE the run: if a file changes mid-run the stamp won't match
# it afterwards and --check fails, which is the safe direction
DIGEST=$(src_digest)
sbt -batch test >"$LOG" 2>&1
STATUS=$?

SUMMARY=$(grep -E "^\[info\] Tests: " "$LOG" | tail -1 | sed 's/^\[info\] //')
SUITES=$(grep -E "^\[info\] Suites: " "$LOG" | tail -1 | sed 's/^\[info\] //')

if [ $STATUS -ne 0 ] || ! echo "$SUMMARY" | grep -q "failed 0, canceled 0"; then
  echo "[suite_gate] RED — refusing to stamp a snapshot marker"
  echo "[suite_gate] $SUMMARY"
  grep -E "\*\*\* FAILED \*\*\*|TESTS? FAILED" "$LOG" | head -20
  exit 1
fi

# CrashSpec kills each child JVM it starts (mains named graft.*Kill9Child);
# one still alive after the suite means a spec lost track of its child.
# The [.] keeps the pattern from matching a shell whose command line
# merely quotes it.
ORPHANS=$(pgrep -f 'graft[.][A-Za-z]*Kill9Child')
if [ -n "$ORPHANS" ]; then
  echo "[suite_gate] RED — CrashSpec child JVMs still running after the suite: $(echo $ORPHANS)"
  pgrep -af 'graft[.][A-Za-z]*Kill9Child' | cut -c1-200
  exit 1
fi

# a native kernel re-registered on every operator call makes Spark log
# this WARN each time; graft.functions.Kernels.registerMissing is the
# one registration path, and a green suite leaves none of these lines
REPLACED=$(grep -c "replaced a previously registered function" "$LOG")
if [ "$REPLACED" -ne 0 ]; then
  echo "[suite_gate] RED — $REPLACED 'replaced a previously registered function' warnings"
  grep -m 5 "replaced a previously registered function" "$LOG"
  exit 1
fi

# the benchmark's own tests (seeded inputs, the DuckDB checks): a
# green Scala suite does not exercise them. No cache or bytecode is
# written, so the run leaves perfbench/ as it found it.
PYLOG=$(mktemp /tmp/suite_gate_py.XXXXXX.log)
PYTHONDONTWRITEBYTECODE=1 python3 -m pytest -q -p no:cacheprovider perfbench/tests >"$PYLOG" 2>&1
PYSTATUS=$?
PYSUMMARY=$(tail -1 "$PYLOG")
if [ $PYSTATUS -ne 0 ]; then
  echo "[suite_gate] RED — perfbench/tests failed (log: $PYLOG)"
  echo "[suite_gate] $PYSUMMARY"
  grep -E "^(FAILED|ERROR)" "$PYLOG" | head -20
  exit 1
fi

cat > SUITE_GREEN.md <<EOF
# Suite gate

Last green full-suite run (written by \`tools/suite_gate.sh\`; a red
suite refuses to write this file, so a snapshot commit containing a
fresh version of it provably followed a green \`sbt test\`). The src
digest below covers the exact worktree the suite tested;
\`tools/suite_gate.sh --check\` fails if any source changed since, so
the snapshot procedure — gate, then immediately commit — is enforced,
not trusted. The commit this file lands in is the one this run
certifies; its parent is the recorded HEAD plus the digested worktree.

- date: $(date -u +"%Y-%m-%dT%H:%M:%SZ")
- HEAD at run time: $(git rev-parse HEAD)
- working tree: $(if [ -z "$(git status --porcelain -- src build.sbt)" ]; then echo clean; else echo "DIRTY (src/build.sbt changes beyond HEAD were part of this run)"; fi)
- src digest: $DIGEST
- $SUMMARY
- $SUITES
- perfbench/tests (pytest): $PYSUMMARY

Counts above are the suite's own output — derived, not hand-maintained
(round-13 verdict item 4).
EOF
echo "[suite_gate] GREEN — $SUMMARY; perfbench/tests: $PYSUMMARY"
echo "[suite_gate] wrote SUITE_GREEN.md (src digest $DIGEST)"
