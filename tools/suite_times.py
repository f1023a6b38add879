#!/usr/bin/env python3
"""Per-suite wall time of the last `sbt test` run.

Reads the JUnit reports sbt writes to target/test-reports/TEST-*.xml and
prints each suite's wall time and test count, slowest first, then the
total. Exits 1 when the total passes the 1800 s suite budget, 2 when
there is no report to read.

    python3 tools/suite_times.py
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

REPORTS = "target/test-reports"
BUDGET_S = 1800.0


def main() -> int:
    rows = []
    for path in glob.glob(os.path.join(REPORTS, "TEST-*.xml")):
        suite = ET.parse(path).getroot()
        rows.append((float(suite.get("time", 0)), int(suite.get("tests", 0)),
                     suite.get("name", os.path.basename(path))))
    if not rows:
        print(f"no TEST-*.xml under {REPORTS}", file=sys.stderr)
        return 2

    rows.sort(reverse=True)
    width = max(len(name) for _, _, name in rows)
    for secs, tests, name in rows:
        print(f"{name:<{width}}  {secs:9.1f} s  {tests:4d} tests")
    total = sum(secs for secs, _, _ in rows)
    print(f"{'total':<{width}}  {total:9.1f} s  "
          f"{sum(tests for _, tests, _ in rows):4d} tests "
          f"(budget {BUDGET_S:.0f} s)")
    return 1 if total > BUDGET_S else 0


if __name__ == "__main__":
    sys.exit(main())
