#!/bin/bash
# Regenerate query sections of PLANS.md in place, at sf0.1.
# Usage: tools/replans.sh [name1,name2,...]
# With no names, every declared query is re-dumped by one bare
# graft.Explain run. Sections are written in name order, the order
# PlansDriftSpec builds them in.
set -euo pipefail
cd "$(dirname "$0")/.."
NAMES="${1:-}"
OUT=$(mktemp)
sbt -batch "runMain graft.Explain /root/testdata/sf0.1 $NAMES" 2>/dev/null \
  | sed -n '/^##########/,$p' | grep -vE '^\[(success|info|warn|error)\]' > "$OUT"
python3 - "$OUT" "$NAMES" <<'EOF'
import sys, re
fresh = open(sys.argv[1]).read()
md = open('PLANS.md').read()
def sections(text):
    parts = re.split(r'(?m)^########## (\S+) ##########\n', text)
    # parts: [prefix, name1, body1, name2, body2, ...]
    return parts[0], {parts[i]: parts[i+1] for i in range(1, len(parts), 2)}
_, freshsec = sections(fresh)
prefix, mdsec = sections(md)
names = sys.argv[2].split(',') if sys.argv[2] else sorted(freshsec)
for n in names:
    if n not in freshsec:
        sys.exit(f'no fresh plan for {n}')
    mdsec[n] = freshsec[n]
out = prefix + ''.join(f'########## {k} ##########\n{mdsec[k]}' for k in sorted(mdsec))
open('PLANS.md', 'w').write(out)
print(f'spliced {len(names)} section(s); PLANS.md has {len(mdsec)}')
EOF
rm -f "$OUT"
