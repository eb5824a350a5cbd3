#!/usr/bin/env python3
"""Codegen compiles per sweep of a perfbench log.

Reads a perfbench JVM log written with tools/codegen-log4j2.properties
(CodeGenerator at INFO: one "Code generated in N ms" line per compiled
class) and prints, for each "[perfbench] ... sweep <label>: ..." line, the
classes compiled since the harness's previous "[perfbench]" line and their
summed compile milliseconds; then the whole log's totals.

Usage: compiles.py <perfbench/results/<run>.log> [...]
"""
import re
import sys

COMPILE = re.compile(r"CodeGenerator: Code generated in ([0-9.]+) ms")
SWEEP = re.compile(r"^\[perfbench\] \S+ (sweep [^:]+): ([0-9.]+)s")


def report(path):
    n = ms = total_n = total_ms = 0
    print(path)
    with open(path, errors="replace") as fh:
        for line in fh:
            m = COMPILE.search(line)
            if m:
                n += 1
                ms += float(m.group(1))
                total_n += 1
                total_ms += float(m.group(1))
                continue
            if line.startswith("[perfbench]"):
                s = SWEEP.match(line)
                if s:
                    print(f"  {s.group(1):<12} {float(s.group(2)):7.2f} s  "
                          f"{n:5d} compiles  {ms:9.1f} ms")
                n = ms = 0
    print(f"  {'all':<12} {'':9}  {total_n:5d} compiles  {total_ms:9.1f} ms")


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for path in sys.argv[1:]:
        report(path)


if __name__ == "__main__":
    main()
