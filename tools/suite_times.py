#!/usr/bin/env python3
"""Print each test suite's wall time and test count from the JUnit XML
reports sbt writes, slowest first, with a total.

    python3 tools/suite_times.py [report-dir]    # default target/test-reports

Reads every TEST-*.xml in the directory. A suite whose report records
failures, errors or skips shows those counts too. Exit 1 if no report
is found.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = []
    for path in glob.glob(os.path.join(root, "TEST-*.xml")):
        s = ET.parse(path).getroot()
        bad = {k: int(s.get(k, 0)) for k in ("failures", "errors", "skipped")}
        rows.append((float(s.get("time", 0)), int(s.get("tests", 0)),
                     s.get("name"), bad))
    if not rows:
        print(f"no TEST-*.xml under {root}", file=sys.stderr)
        return 1
    rows.sort(key=lambda r: -r[0])
    width = max(len(r[2]) for r in rows)
    for t, n, name, bad in rows:
        extra = " ".join(f"{k}={v}" for k, v in bad.items() if v)
        print(f"{name:<{width}}  {t:8.1f} s  {n:4d} tests  {extra}".rstrip())
    print(f"{'total':<{width}}  {sum(r[0] for r in rows):8.1f} s  "
          f"{sum(r[1] for r in rows):4d} tests  ({len(rows)} suites)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
