#!/usr/bin/env python3
"""Per-suite wall time of a test run, from sbt's JUnit XML reports.

Usage: suite_times.py [REPORT_DIR]    (default: target/test-reports)

Reads every TEST-*.xml in REPORT_DIR and prints one row per suite,
slowest first: seconds, tests, failures + errors, skipped. The last row
is the total. Run it after `sbt testOnly *` to see where the Tier-1
time goes.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in [root] if root.tag == "testsuite" else root.iter("testsuite"):
            yield (
                s.get("name", os.path.basename(path)),
                float(s.get("time", "0")),
                int(s.get("tests", "0")),
                int(s.get("failures", "0")) + int(s.get("errors", "0")),
                int(s.get("skipped", "0")),
            )


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = sorted(suites(report_dir), key=lambda r: -r[1])
    if not rows:
        sys.exit(f"no TEST-*.xml under {report_dir}")
    print(f"{'suite':<34} {'seconds':>9} {'tests':>6} {'failed':>7} {'skipped':>8}")
    for name, secs, tests, failed, skipped in rows:
        print(f"{name:<34} {secs:>9.1f} {tests:>6} {failed:>7} {skipped:>8}")
    total = [sum(r[i] for r in rows) for i in range(1, 5)]
    print(f"{'total':<34} {total[0]:>9.1f} {total[1]:>6} {total[2]:>7} {total[3]:>8}")


if __name__ == "__main__":
    main()
