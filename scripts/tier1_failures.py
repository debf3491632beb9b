#!/usr/bin/env python3
"""Compare the failing tests of an sbt test run against the known list.

Usage: python3 scripts/tier1_failures.py [reportDir] [expectedList]

Reads sbt's JUnit XML reports (default target/test-reports/), prints
every failing or erroring test as `<suite>::<test>` with the first line
of its message, and exits 0 only when that set equals the expected list
(default scripts/tier1_expected_failures.txt: the specs that read the
avocado reference fixtures, which are not part of this repository and
fail with PATH_NOT_FOUND where those files are absent). Any difference
is printed as `new failure:` or `expected failure passed:` lines, and the
exit status is 1; a report directory with no reports exits 2.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def failures(report_dir):
    """{suite::test: first message line} over every report in the directory."""
    out = {}
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        for case in ET.parse(path).getroot().iter("testcase"):
            bad = [c for c in case if c.tag in ("failure", "error")]
            if bad:
                msg = (bad[0].get("message") or "").splitlines()
                out[f"{case.get('classname')}::{case.get('name')}"] = msg[0] if msg else ""
    return out


def main(argv):
    report_dir = argv[1] if len(argv) > 1 else os.path.join(ROOT, "target", "test-reports")
    listed = argv[2] if len(argv) > 2 else os.path.join(ROOT, "scripts", "tier1_expected_failures.txt")
    if not glob.glob(os.path.join(report_dir, "*.xml")):
        print(f"no JUnit reports under {report_dir}", file=sys.stderr)
        return 2
    with open(listed) as f:
        expected = {l.strip() for l in f if l.strip() and not l.startswith("#")}
    got = failures(report_dir)
    for name in sorted(got):
        print(f"{name}\t{got[name][:160]}")
    new = sorted(set(got) - expected)
    fixed = sorted(expected - set(got))
    for name in new:
        print(f"new failure: {name}")
    for name in fixed:
        print(f"expected failure passed: {name}")
    print(f"{len(got)} failing, {len(expected)} expected, {len(new)} new, {len(fixed)} passed")
    return 1 if new or fixed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
