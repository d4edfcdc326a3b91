#!/usr/bin/env python3
"""Partition-count invariance evidence: run `graft.Verify` at two thread/
shuffle-partition counts and assert every query's output is identical
(PERF.md's "bit-identical at local[4] vs local[32]" claim, automated).

Usage: python3 tools/invariance.py <sfDir> [cpusA] [cpusB]
Runs sbt twice (slow); compares each query's rows, in order, with
dumpdiff.py (the union of both runs' keys: a key that failed on one side
only fails).
"""
import os, subprocess, sys

import dumpdiff

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ca = sys.argv[2] if len(sys.argv) > 2 else "4"
cb = sys.argv[3] if len(sys.argv) > 3 else "32"
outa, outb = f"target/inv_{ca}", f"target/inv_{cb}"

for cpus, out in ((ca, outa), (cb, outb)):
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    subprocess.run(["sbt", "-batch", f"runMain graft.Verify {sfdir} {out}"],
                   env=env, check=True, capture_output=True)

print(f"comparing {outa} ({ca} threads) with {outb} ({cb} threads)")
sys.exit(dumpdiff.main(outa, outb))
