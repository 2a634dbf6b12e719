#!/usr/bin/env python3
"""Census of a finished `sbt test` run, read from the JUnit XML sbt writes.

Usage: python3 tools/spec_census.py [reportsDir]   (default target/test-reports)

Prints one `suite<TAB>test name` line per case, sorted, on stdout, and a
summary (cases, failures + errors, summed suite seconds) on stderr. Exits
non-zero when any case failed or errored, or when no report was found.

sbt never deletes old reports, so clear the directory before a run whose
census you want: a suite that was renamed or deleted keeps its stale
TEST-*.xml otherwise. Comparing the names of two runs (for example before
and after moving cases between suites):

    python3 tools/spec_census.py > after.tsv
    diff <(cut -f2 before.tsv | sort) <(cut -f2 after.tsv | sort)
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main() -> int:
    reports = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    files = sorted(glob.glob(os.path.join(reports, "TEST-*.xml")))
    if not files:
        print(f"no TEST-*.xml under {reports}", file=sys.stderr)
        return 2
    cases, bad, seconds = [], [], 0.0
    for f in files:
        suite = ET.parse(f).getroot()
        seconds += float(suite.get("time", "0"))
        for case in suite.iter("testcase"):
            name = (case.get("classname") or suite.get("name"), case.get("name"))
            cases.append(name)
            if case.find("failure") is not None or case.find("error") is not None:
                bad.append(name)
    for suite, name in sorted(cases):
        print(f"{suite}\t{name}")
    print(f"{len(cases)} cases in {len(files)} suites, {len(bad)} failures + errors, "
          f"{seconds:.1f} suite seconds", file=sys.stderr)
    for suite, name in sorted(bad):
        print(f"FAILED {suite}\t{name}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
