#!/usr/bin/env python3
"""Re-derive the query workload's pins and check them against DuckDB.

Usage (from the root of the checkout):

    python3 perfbench/pin_queries.py

Runs every query of the workload once on perfbench/data/sf0.01, writes
the outputs with the engine's oracle SQL, compares them with DuckDB
through the repository's self-check (tools/selfcheck.py), and only when
every query matches rewrites perfbench/data/pins.txt with the content
hashes the benchmark checks each run against.
"""
import os
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.WORK, "pins")


def main():
    cp = run.classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp)
    proc = subprocess.run(run.java(cp, tmp, "perfbench.Pin") + [run.DATA, os.path.join(OUT, "out")],
                          cwd=OUT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                          timeout=900)
    pins = [l for l in proc.stdout.splitlines() if l.startswith("q")]
    if proc.returncode != 0 or not pins:
        sys.exit("pin run failed")
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "selfcheck.py"),
                            os.path.join(OUT, "out"), run.DATA],
                           stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    matched = {l.split()[1] for l in check.stdout.splitlines() if l.startswith("OK ")}
    missing = [p.split()[0] for p in pins if p.split()[0] not in matched]
    if check.returncode != 0 or missing:
        sys.exit(f"DuckDB oracle disagrees or is missing for {missing}; pins left unchanged")
    with open(os.path.join(run.BENCH, "data", "pins.txt"), "w") as f:
        f.write("# query content hashes on data/sf0.01, each output checked against\n"
                "# its DuckDB oracle SQL by pin_queries.py\n")
        f.write("\n".join(pins) + "\n")
    shutil.rmtree(OUT, ignore_errors=True)


if __name__ == "__main__":
    main()
