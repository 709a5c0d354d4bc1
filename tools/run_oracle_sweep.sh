#!/bin/bash
# Oracle-sweep artifact generator (r15 — VERDICT r14 #6): runs
# tools/check_oracle.py at both SFs through a progress-bar-stripping
# filter and REFUSES to emit an artifact whose per-line listing does
# not sum to its own summary line — an evidence file should audit
# itself. Usage: tools/run_oracle_sweep.sh [out_file] — the artifact goes
# to out_file, or to stdout when none is given; the integrity report
# goes to stderr.
set -euo pipefail
out="${1:-}"
tmp=$(mktemp)
fail=0
for sf in /root/testdata/sf0.01 /root/testdata/sf0.1; do
    echo "=== sweep @ $sf ===" >> "$tmp"
    python tools/check_oracle.py "$sf" 2>/dev/null \
        | tr '\r' '\n' | grep -v '^\[' >> "$tmp" || fail=1
    echo >> "$tmp"
done
# integrity: per-SF PASS/rows counts must equal the summary claims
python - "$tmp" >&2 <<'PY'
import re, sys
text = open(sys.argv[1]).read()
for block in text.split("=== sweep @ ")[1:]:
    head = block.splitlines()[0]
    n_pass = len(re.findall(r"^PASS ", block, re.M))
    n_rows = len(re.findall(r"^rows ", block, re.M))
    n_fail = len(re.findall(r"^FAIL ", block, re.M))
    m = re.search(r"^(\d+) pass, (\d+) rows-only, (\d+) fail", block, re.M)
    assert m, f"no summary line in block {head}"
    want = tuple(int(x) for x in m.groups())
    got = (n_pass, n_rows, n_fail)
    assert got == want, (f"{head}: listing {got} != summary {want} — "
                         "artifact eats its own lines")
    print(f"{head}: listing == summary == {want}")
PY
if [ -n "$out" ]; then
    mv "$tmp" "$out"
    echo "wrote $out" >&2
else
    cat "$tmp"
    rm -f "$tmp"
fi
exit $fail
