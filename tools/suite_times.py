#!/usr/bin/env python3
"""Per-suite and summed test times from sbt's JUnit XML reports.

    python3 tools/suite_times.py [target/test-reports]

Reads every TEST-*.xml that `sbt test` / `sbt testOnly` wrote and prints one
line per suite, slowest first: its time in seconds (the report's `time=`
attribute), its test count and its failures plus errors; then the summed
time and counts. Suites run in one JVM one after another, so the sum is the
suite wall minus sbt's own start-up and compile time.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            yield (s.get("name"), float(s.get("time") or 0), int(s.get("tests") or 0),
                   int(s.get("failures") or 0) + int(s.get("errors") or 0))


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join("target", "test-reports")
    rows = sorted(suites(report_dir), key=lambda r: -r[1])
    if not rows:
        sys.exit(f"no TEST-*.xml under {report_dir}")
    width = max(len(r[0]) for r in rows)
    for name, secs, tests, bad in rows:
        print(f"{name:<{width}}  {secs:8.1f} s  {tests:4d} tests  {bad:3d} failed")
    total = sum(r[1] for r in rows)
    print(f"{'total (' + str(len(rows)) + ' suites)':<{width}}  {total:8.1f} s  "
          f"{sum(r[2] for r in rows):4d} tests  {sum(r[3] for r in rows):3d} failed  "
          f"({int(total // 60)} min {total % 60:.0f} s)")


if __name__ == "__main__":
    main()
