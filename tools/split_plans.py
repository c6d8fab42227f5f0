#!/usr/bin/env python3
"""Split a `graft.tools.PlanAudit explain` sbt log into per-query plan files.

Usage: split_plans.py <audit.log> <outdir> <suffix>

Writes <outdir>/<query>_<suffix>.txt for every
`========== <query> ==========` section, stripping sbt/log4j noise
(lines tagged [error]/[warn] and sbt bookkeeping) so the files hold just
the `.explain("formatted")` output the round deliverables require.
"""
import re
import sys
import pathlib

log, outdir, suffix = sys.argv[1], pathlib.Path(sys.argv[2]), sys.argv[3]
outdir.mkdir(parents=True, exist_ok=True)

name = None
buf = []
written = []

def flush():
    global buf, name
    if name is not None:
        body = "\n".join(buf).strip() + "\n"
        (outdir / f"{name}_{suffix}.txt").write_text(body)
        written.append(name)
    buf = []

for raw in open(log, errors="replace"):
    line = raw.rstrip("\n")
    if line.startswith("[info] "):
        line = line[len("[info] "):]
    elif line.startswith("[error]") or line.startswith("[warn]") or \
            line.startswith("[success]") or line.startswith("[info]"):
        continue
    # PlanAudit headers use exactly ten '='; explain("formatted") has its
    # own "===== Subqueries =====" section header that must stay in-body.
    m = re.match(r"^={10} (\S+) ={10}$", line.strip())
    if m:
        flush()
        name = m.group(1)
        continue
    if name is not None:
        buf.append(line)
flush()
print(f"wrote {len(written)} plan files: {', '.join(written)}")
