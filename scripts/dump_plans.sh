#!/usr/bin/env bash
# Dump `.explain("formatted")` for declared queries into per-query
# files: scripts/dump_plans.sh <outdir> <suffix> [query...]
# With no query names it dumps every declared query. Runs graft.Explain
# (sf from SPARK_GRAFT_SF_DIR, default sf0.001) and splits the
# "========== name ==========" sections into <outdir>/<name>_<suffix>.txt.
# A full dump explains `profile_documents` again in a JVM of its own:
# its Expand column order follows expression ids, so its plan depends on
# what the session declared before it. Compare two dumps with
# scripts/plan_diff.py.
set -euo pipefail
out="$1"; suffix="$2"; shift 2
mkdir -p "$out"
logs=("$(mktemp /tmp/explain_XXXX.log)")
sbt -batch "runMain graft.Explain $*" > "${logs[0]}" 2>&1
if [ $# -eq 0 ]; then
  logs+=("$(mktemp /tmp/explain_XXXX.log)")
  sbt -batch "runMain graft.Explain profile_documents" > "${logs[1]}" 2>&1
fi
python3 - "$out" "$suffix" "${logs[@]}" <<'EOF'
import re, sys
out, suffix, logs = sys.argv[1], sys.argv[2], sys.argv[3:]
# strip sbt/log4j prefixes, keep plan text
sections = []
for log in logs:
    # sections[0] is preamble; then alternating name, body
    sections += re.split(r"={10} (\S+) ={10}", open(log).read())[1:]
# a query explained twice (profile_documents in a full dump) keeps its
# later, fresh-JVM plan: the later write overwrites the earlier one
for i in range(0, len(sections) - 1, 2):
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
