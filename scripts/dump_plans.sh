#!/usr/bin/env bash
# Dump `.explain("formatted")` for declared queries into per-query
# files: scripts/dump_plans.sh <outdir> <suffix> [query...]
# With no query names it dumps every declared query. Runs graft.Explain
# once (sf from SPARK_GRAFT_SF_DIR, default sf0.001) and splits the
# "========== name ==========" sections into <outdir>/<name>_<suffix>.txt.
set -euo pipefail
out="$1"; suffix="$2"; shift 2
mkdir -p "$out"
log=$(mktemp /tmp/explain_XXXX.log)
sbt -batch "runMain graft.Explain $*" > "$log" 2>&1
python3 - "$log" "$out" "$suffix" <<'EOF'
import re, sys
log, out, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
text = open(log).read()
# strip sbt/log4j prefixes, keep plan text
sections = re.split(r"={10} (\S+) ={10}", text)
# sections[0] is preamble; then alternating name, body
for i in range(1, len(sections) - 1, 2):
    name, body = sections[i], sections[i + 1]
    # sbt prefixes runMain stdout with [info]: strip the prefix, keep
    # the plan text, drop stderr/log noise
    lines = []
    for l in body.splitlines():
        if re.match(r"\[(error|warn|success)\]", l):
            continue
        lines.append(re.sub(r"^\[info\] ?", "", l))
    with open(f"{out}/{name}_{suffix}.txt", "w") as f:
        f.write("\n".join(lines).strip() + "\n")
    print(f"wrote {out}/{name}_{suffix}.txt")
EOF
