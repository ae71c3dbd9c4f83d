#!/usr/bin/env python3
"""Sum a test run's JUnit reports: total seconds, tests, failures, and
the ten slowest suites.

    python3 tools/suite_time.py [REPORT_DIR]   # default target/test-reports

Reads every `*.xml` under REPORT_DIR (sbt writes one per suite).
Failures count both `failures` and `errors`. Standard library only.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        for s in root.iter("testsuite"):
            yield (s.get("name"), float(s.get("time", 0)), int(s.get("tests", 0)),
                   int(s.get("failures", 0)) + int(s.get("errors", 0)))


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = list(suites(report_dir))
    if not rows:
        sys.exit(f"no JUnit reports under {report_dir}")
    print(f"total {sum(r[1] for r in rows):.1f} s  tests {sum(r[2] for r in rows)}  "
          f"failures {sum(r[3] for r in rows)}  suites {len(rows)}")
    for name, secs, tests, fails in sorted(rows, key=lambda r: -r[1])[:10]:
        print(f"{secs:9.1f} s  {tests:4d} tests  {fails:3d} failed  {name}")


if __name__ == "__main__":
    main()
