#!/usr/bin/env python3
"""Compiles per time window, from a log written with dev/log4j2-codegen.properties.

    python3 dev/codegen_log.py <log> [--window-s 5]

Each compile is a DEBUG record holding the generated source, followed on
the same thread by an INFO "Code generated in N ms" record. A class is
its source text, hashed as logged. Per window of
--window-s seconds, counted from the first compile, the script prints the
compiles, the classes first seen in that window, the re-compiles of source
already compiled earlier in the log, and the summed compile time. Spark
keys its compile cache by class loader and source text, so a re-compile
is either an eviction from that cache or the same source under a second
class loader (in local mode, the driver's and the executor's).
"""
import argparse
import hashlib
import re
import sys

RECORD = re.compile(r"^(\d\d):(\d\d):(\d\d)\.(\d{3}) (\w+) \[(.*?)\] (\S+): ?(.*)$")
TIMED = re.compile(r"Code generated in ([0-9.]+) ms")


def records(path):
    """(seconds since midnight, level, thread, logger, message) per log record;
    continuation lines belong to the record above them."""
    cur = None
    with open(path, errors="replace") as f:
        for line in f:
            m = RECORD.match(line)
            if m:
                if cur:
                    yield cur
                h, mi, s, ms, level, thread, logger, msg = m.groups()
                t = int(h) * 3600 + int(mi) * 60 + int(s) + int(ms) / 1000
                cur = [t, level, thread, logger, [msg]]
            elif cur:
                cur[4].append(line.rstrip("\n"))
    if cur:
        yield cur


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("log")
    ap.add_argument("--window-s", type=float, default=5.0)
    args = ap.parse_args()

    seen = set()
    rows = {}  # window -> [compiles, new, repeat, ms]
    pending = {}  # thread -> (time, source hash) of its last logged source
    t0 = None
    for t, level, thread, logger, lines in records(args.log):
        if not logger.endswith("CodeGenerator"):
            continue
        if level == "DEBUG":
            source = "\n".join(l for l in lines if l.startswith("/* "))
            if source:
                pending[thread] = (t, hashlib.sha1(source.encode()).hexdigest())
        elif level == "INFO" and thread in pending:
            m = TIMED.search(lines[0])
            if not m:
                continue
            t_src, key = pending.pop(thread)
            if t0 is None:
                t0 = t_src
            if t_src < t0:  # the log crossed midnight
                t_src += 86400
            w = int((t_src - t0) // args.window_s)
            row = rows.setdefault(w, [0, 0, 0, 0.0])
            row[0] += 1
            if key in seen:
                row[2] += 1
            else:
                seen.add(key)
                row[1] += 1
            row[3] += float(m.group(1))
    if not rows:
        sys.exit(f"no compiles in {args.log}: was it written with dev/log4j2-codegen.properties?")
    print(f"{'window_s':>10} {'compiles':>9} {'new':>6} {'repeat':>7} {'compile_ms':>11}")
    total = [0, 0, 0, 0.0]
    for w in sorted(rows):
        r = rows[w]
        total = [a + b for a, b in zip(total, r)]
        print(f"{w * args.window_s:>10.0f} {r[0]:>9} {r[1]:>6} {r[2]:>7} {r[3]:>11.0f}")
    print(f"{'total':>10} {total[0]:>9} {total[1]:>6} {total[2]:>7} {total[3]:>11.0f}")


if __name__ == "__main__":
    main()
