#!/usr/bin/env python3
"""Summarize a scale_audit log into the stats the SCALE.md audit
section reports: status counts, the retime pass and the slow tail.

Usage: python tools/audit_report.py LOG
"""

import re
import sys
from collections import Counter

LINE = re.compile(
    r"^(OK-CHECKSUM|MISMATCH-CHECKSUM|OK-ALTPROOF|MISMATCH-ALTPROOF"
    r"|OK|ok\(rows-only\)|BIG|MISMATCH|ERROR"
    r"|TIMEOUT|ORACLE-TIMEOUT|ORACLE-ERROR) "
    r"(\S+?):?\s"
)
SPARK_S = re.compile(r"spark (?:ok )?([0-9.]+)s")
RETIME = re.compile(
    r"^(RETIME|RETIME-DIVERGED) (\S+): first ([0-9.]+)s second ([0-9.]+)s"
)


def main(path):
    # LAST status per name wins: solo re-runs are APPENDED to the log
    # (resume/ONLY passes), superseding earlier timeout/error lines.
    final = {}
    spark_s = {}
    retimes = []
    with open(path) as fh:
        for line in fh:
            mr = RETIME.match(line)
            if mr:
                retimes.append(
                    (mr.group(2), mr.group(1), float(mr.group(3)), float(mr.group(4)))
                )
                continue
            m = LINE.match(line)
            if not m:
                continue
            status, name = m.group(1), m.group(2)
            final[name] = status
            ms = SPARK_S.search(line)
            if ms:
                spark_s[name] = float(ms.group(1))
    counts = Counter(final.values())
    fails = sorted(
        (s, n)
        for n, s in final.items()
        if s
        in ("MISMATCH", "MISMATCH-CHECKSUM", "MISMATCH-ALTPROOF", "ERROR", "ORACLE-ERROR")
    )

    print(f"queries audited: {len(final)} (final status per query)")
    for status, n in counts.most_common():
        print(f"  {status}: {n}")
    if fails:
        print("FAILURES:", fails)
    if retimes:
        print("\nretime pass (>=100s entries, same mode, end of run):")
        for name, tag, a, b in retimes:
            print(f"  {a:7.1f}s -> {b:7.1f}s  {name}" + ("  DIVERGED" if "DIV" in tag else ""))

    print("\nslow tail (spark seconds):")
    for name, s in sorted(spark_s.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  {s:7.1f}s  {name}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
