#!/usr/bin/env python3
"""Open-loop file lander: moves pre-rendered files into the stream's source
directory on a fixed schedule and logs when each was due and when it landed.

File i is due at T0_MS + i * 1000 / RATE (epoch milliseconds). A late file
is landed at once; the schedule never slips.

Usage: land.py STAGING SOURCE T0_MS FILES_PER_S LOG [FIRST COUNT]
"""
import os
import sys
import time


def main():
    staging, source, t0, rate, log = sys.argv[1:6]
    t0, rate = float(t0), float(rate)
    names = sorted(n for n in os.listdir(staging) if n.endswith(".csv"))
    if len(sys.argv) > 7:
        first, count = int(sys.argv[6]), int(sys.argv[7])
        names = names[first:first + count]
    parent = os.getppid()
    lines = []
    for i, name in enumerate(names):
        due = t0 + i * 1000.0 / rate
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        if os.getppid() != parent:  # the harness is gone: stop landing
            sys.exit(1)
        os.rename(os.path.join(staging, name), os.path.join(source, name))
        lines.append(f"{name} {due:.1f} {time.time() * 1000.0:.1f}\n")
    with open(log, "w") as f:
        f.writelines(lines)


if __name__ == "__main__":
    main()
