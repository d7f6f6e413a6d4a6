"""Per-suite timing table from a tier-1 test log.

ScalaTest's -oD reporter (set in build.sbt) prints every test with its
duration under a "<Suite>:" header, e.g.

    [info] SimilaritySpec:
    [info] - cosine matches hand-computed values (1 second, 506 milliseconds)

This sums the test durations of each suite and prints a Markdown table,
slowest first. A suite's own setup (its SparkSession start, beforeAll)
is not a test, so it is not counted. With --before, the table gets a
column from an older log of the same suites.

Usage:
    python3 tools/suite_times.py tier1.log [--top N] [--before older.log]
"""
import argparse
import re
import sys

HEADER = re.compile(r"^(?:\[info\] )?([A-Za-z_][\w.]*Spec):$")
TEST = re.compile(r"^(?:\[info\] )?- .*\(((?:\d+ (?:hours?|minutes?|seconds?|milliseconds?),? ?)+)\)$")
UNIT = {"hour": 3600.0, "minute": 60.0, "second": 1.0, "millisecond": 0.001}


def seconds(duration):
    """'1 minute, 2 seconds, 5 milliseconds' -> 62.005"""
    total = 0.0
    for n, unit in re.findall(r"(\d+) (hour|minute|second|millisecond)s?", duration):
        total += int(n) * UNIT[unit]
    return total


def suite_times(lines):
    """{suite: (seconds, tests)} summed over the -oD test lines."""
    times, suite = {}, None
    for line in lines:
        line = line.rstrip("\n")
        m = HEADER.match(line)
        if m:
            suite = m.group(1)
            times.setdefault(suite, [0.0, 0])
            continue
        m = TEST.match(line)
        if m and suite:
            times[suite][0] += seconds(m.group(1))
            times[suite][1] += 1
    return {s: tuple(v) for s, v in times.items()}


def read(path):
    with open(path, errors="replace") as f:
        return suite_times(f)


def table(after, before=None, top=None):
    rows = sorted(after.items(), key=lambda kv: -kv[1][0])
    if top:
        rows = rows[:top]
    total = sum(t for t, _ in after.values())
    head = "| suite | tests | " + ("before | after |" if before is not None else "time |")
    out = [head, "|---|---|" + ("---|---|" if before is not None else "---|")]
    for suite, (t, n) in rows:
        if before is not None:
            b = before.get(suite)
            out.append(f"| {suite} | {n} | {f'{b[0]:.0f} s' if b else '–'} | {t:.0f} s |")
        else:
            out.append(f"| {suite} | {n} | {t:.0f} s |")
    tests = sum(n for _, n in after.values())
    out.append(f"\n{len(after)} suites, {tests} tests, {total:.0f} s of test time")
    return "\n".join(out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--top", type=int)
    ap.add_argument("--before")
    a = ap.parse_args(argv)
    after = read(a.log)
    if not after:
        sys.exit(f"{a.log}: no '-oD' suite output found")
    print(table(after, read(a.before) if a.before else None, a.top))


if __name__ == "__main__":
    main(sys.argv[1:])
