#!/usr/bin/env python3
"""Negative test of the benchmark's output checks.

    python3 perfbench/selftest.py

Runs ingest_backlog twice with one `batch_id` directory of the raw export
damaged before the check — deleted, then duplicated — and passes only if
both runs fail: non-zero exit and a result line with "correct": false.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main():
    ok = True
    for mode in ("delete", "duplicate"):
        p = subprocess.run([sys.executable, RUN, "--workload", "ingest_backlog", "--seed", "1",
                            "--seconds", "1", "--trace", "0", "--tamper", mode],
                           stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        correct = json.loads(last).get("correct")
        caught = p.returncode != 0 and correct is False
        print(f"tamper={mode}: exit {p.returncode}, correct={correct} -> "
              f"{'caught' if caught else 'NOT CAUGHT'}")
        ok &= caught
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
