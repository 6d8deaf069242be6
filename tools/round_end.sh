#!/bin/sh
# Round-end snapshot gate — run LAST each round, after the final
# certification commit and BEFORE the driver's end-of-round snapshot
# commit sweeps up whatever is left in the working tree.
#
#     tools/round_end.sh [repo_root]
#
# The r10 verdict's process finding: the snapshot commit carried
# +135/−87 lines of src/main behavior changes that landed AFTER the
# round-end certification, so the published round numbers described a
# tree those changes weren't on. Enforcement: at round end the working
# tree may carry ONLY documentation (*.md) — ANY other uncommitted path
# (src, tools, build files, scripts, driver artifacts) means content
# the certification did not cover would ride the snapshot commit, and
# this gate exits 1. Fix: land the change, re-run the certification
# (full ScalaTest suite + certify_means + Verify+oracle at sf0.1 +
# Bench), commit, THEN snapshot.
#
# Also prints the non-test src/main LoC (total, non-blank and code
# lines) for the BASELINE.md round row.
set -u
root="${1:-$(dirname "$0")/..}"
cd "$root" || exit 2

rc=0
# Porcelain v1: two status columns + space, path starts at column 4.
# cut (not awk) keeps paths with spaces intact. Each side of a rename
# must independently be .md: an UNQUOTED path never contains a space
# (git quotes those), so the [^ "] arm cannot eat across the " -> "
# separator (an unanchored [^"]* would let "foo.sh -> notes.md" pass
# as one pseudo-path); the quoted arm accepts "a b.md", and an
# embedded escape (\" in the name) is conservatively flagged.
md='("[^"]*\.md"|[^ "]*\.md)'
bad=$(git status --porcelain | cut -c4- \
    | grep -v -E "^${md}( -> ${md})?\$" || true)
if [ -n "$bad" ]; then
    echo "== round-end gate: FAILED — uncommitted non-doc content would ride the snapshot commit:" >&2
    echo "$bad" | sed 's/^/==   /' >&2
    echo "== land it, re-certify (tests + certify_means + sf0.1 Verify + Bench), commit, then snapshot" >&2
    rc=1
else
    echo "== round-end gate: working tree carries no uncommitted non-doc content — snapshot is safe"
fi

loc=$(find src/main -name '*.scala' -exec cat {} + | wc -l)
nonblank=$(find src/main -name '*.scala' -exec cat {} + | grep -vc '^[[:space:]]*$')
# code lines: non-blank lines that do not start with //, * or /*
code=$(find src/main -name '*.scala' -exec cat {} + | grep -v '^[[:space:]]*$' \
    | grep -vcE '^[[:space:]]*(//|\*|/\*)')
tools_loc=$(cat tools/*.py tools/*.sh 2>/dev/null | wc -l)
echo "== src/main LoC: $loc, non-blank $nonblank, code $code (tools: $tools_loc)"
echo "== CHECKLIST (r11 verdict #1 — the round row went stale two rounds running):"
echo "==   1. update BASELINE.md's round row NOW with: LoC $loc (+net vs last"
echo "==      round), the FINAL-tree ScalaTest count from the last full run,"
echo "==      certify_means + sf0.1 Verify + bench numbers WITH calib fields"
echo "==   2. the numbers must describe the CURRENT commit — if any code"
echo "==      landed after the last certification, re-certify first"
echo "==   3. then stop: the remaining round time is a code freeze"
exit "$rc"
