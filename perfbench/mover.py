"""Open-loop load generator: renames pre-written input files into the
watched directory on a fixed schedule, whatever the job is doing.

    python3 perfbench/mover.py SRC_DIR DST_DIR START_EPOCH_S INTERVAL_S LOG

File i (in sorted name order) is due at START + i * INTERVAL. The
rename is atomic, so the job never lists a half-written file. One line
per file, ``name due_s done_s``, goes to LOG when all are moved; the
due and done times are wall-clock seconds, comparable with file
modification times.
"""

from __future__ import annotations

import os
import sys
import time


def main(src: str, dst: str, start: float, interval: float, log: str) -> None:
    names = sorted(os.listdir(src))
    done = []
    for i, name in enumerate(names):
        due = start + i * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(src, name), os.path.join(dst, name))
        done.append((name, due, time.time()))
    with open(log, "w") as f:
        f.writelines(f"{n} {d:.6f} {t:.6f}\n" for n, d, t in done)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]), sys.argv[5])
