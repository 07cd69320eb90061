#!/usr/bin/env python3
"""Record the stored result digests of olap_read for a range of seeds.

    python3 wlbench/record.py 0 49

Writes wlbench/expected/olap_read.tsv (seed, query, digest per line). Run
it only on code whose results are known to be right: every later run of
olap_read on a recorded seed must reproduce these digests.
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    first, last = int(sys.argv[1]), int(sys.argv[2])
    cp = run.classpath()
    work = os.path.join(HERE, "work", f"record-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = subprocess.run(
            run.java_command(cp, work, ["--workload", "olap_read", "--record", f"{first}-{last}"]),
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = [l for l in out.splitlines() if l.count("\t") == 2]
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "olap_read.tsv"), "w") as f:
        f.write("# seed\tquery\tdigest of olap_read at std sizes; written by record.py\n")
        f.write("\n".join(rows) + "\n")
    print(f"recorded {len(rows)} digests for seeds {first}..{last}")


if __name__ == "__main__":
    main()
