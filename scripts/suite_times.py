#!/usr/bin/env python3
"""Per-suite test times from sbt's JUnit reports, slowest first.

    python3 scripts/suite_times.py [reports_dir] [test_src_dir]

Defaults: target/test-reports and src/test. Prints each suite's wall
time, tests, failures and errors. Exits 1 if any suite has failures or
errors, if a report cannot be parsed, or if a *Spec / *Props class under
the test sources has no report (a suite that never ran or died before
sbt wrote its report), naming each such suite.
"""
import pathlib
import re
import sys
import xml.etree.ElementTree as ET


def declared_suites(src: pathlib.Path) -> set:
    """Fully qualified *Spec / *Props classes declared under `src`."""
    suites = set()
    for f in src.rglob("*.scala"):
        text = f.read_text(encoding="utf-8")
        pkg = re.search(r"^package\s+([\w.]+)", text, re.M)
        prefix = pkg.group(1) + "." if pkg else ""
        for m in re.finditer(
                r"^\s*(?:final\s+)?class\s+(\w+(?:Spec|Props))\b", text, re.M):
            suites.add(prefix + m.group(1))
    return suites


def main() -> int:
    reports = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "target/test-reports")
    src = pathlib.Path(sys.argv[2] if len(sys.argv) > 2 else "src/test")
    rows, bad = [], []
    for f in sorted(reports.glob("TEST-*.xml")):
        name = f.name[len("TEST-"):-len(".xml")]
        try:
            s = ET.parse(f).getroot()
            # sbt writes slightly negative times for ScalaCheck suites
            rows.append((name, max(float(s.get("time", 0)), 0.0),
                         int(s.get("tests", 0)),
                         int(s.get("failures", 0)), int(s.get("errors", 0))))
        except (ET.ParseError, ValueError) as e:
            bad.append(f"{name}: unreadable report ({e})")
    rows.sort(key=lambda r: -r[1])
    print(f"{'suite':<40} {'time_s':>9} {'tests':>6} {'fail':>5} {'err':>5}")
    for name, t, n, fail, err in rows:
        print(f"{name:<40} {t:>9.1f} {n:>6} {fail:>5} {err:>5}")
    print(f"{'total':<40} {sum(r[1] for r in rows):>9.1f} "
          f"{sum(r[2] for r in rows):>6} {sum(r[3] for r in rows):>5} "
          f"{sum(r[4] for r in rows):>5}")
    bad += [f"{name}: {fail} failed, {err} errors"
            for name, _, _, fail, err in rows if fail or err]
    bad += [f"{name}: no report" for name in
            sorted(declared_suites(src) - {r[0] for r in rows})]
    for line in bad:
        print(f"FAIL {line}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
