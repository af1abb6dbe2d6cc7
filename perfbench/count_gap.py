#!/usr/bin/env python3
"""How much work `count()` hides: each face's warm time through `count()`
against the same face with every column materialized (median of three
calls each, after one warm-up call of each kind), on the sf0.1 tables.

Usage: python3 perfbench/count_gap.py [face,face,...]
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402

PROBES = "q1_agg,ev9_attribution,stat32_bh_fdr"


def main():
    faces = sys.argv[1] if len(sys.argv) > 1 else PROBES
    classes = common.build()
    os.makedirs(common.WORK, exist_ok=True)
    work = tempfile.mkdtemp(dir=common.WORK)
    before = common.graft_tmp()
    try:
        r = subprocess.run(
            common.java_cmd(classes, work, "perfbench.Harness") +
            ["count-gap", common.DATA, faces, str(common.cores())],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            common.fail(f"the JVM exited with {r.returncode}")
        print(f"{'face':24s} {'count() ms':>11s} {'full ms':>9s} {'ratio':>6s}")
        for line in r.stdout.splitlines():
            if line.startswith("{"):
                x = json.loads(line)
                print(f"{x['face']:24s} {x['count_ms']:11.0f} "
                      f"{x['full_ms']:9.0f} "
                      f"{x['full_ms'] / x['count_ms']:6.2f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        common.remove_graft_tmp(before)


if __name__ == "__main__":
    main()
