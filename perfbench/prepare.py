#!/usr/bin/env python3
"""Make the benchmark's inputs. Idempotent: each file is written under a
temporary name and renamed into place, so a finished file is never
rewritten and a killed run never leaves a torn one. Everything lands in
.bench_work/inputs of the checkout.

Usage: python3 perfbench/prepare.py [--workload W] [--draw-seed N]

  osm_kolkata    a synthetic Kolkata extract from OsmSynth, half the
                 reference's 506,727 nodes and 59,642 ways, as XML and as
                 its PBF twin, plus the expected answers from an
                 independent scan (osm_scan.py)
  faces_tail     the drawn face list (stratified by operator family)
  stream_events  nothing beyond the committed sf0.1 tables
"""
import argparse
import json
import os
import random
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402

# half the reference extract: at full size a run takes about 65 s on 4
# cores, and 22 runs of each workload then overrun the time the whole
# benchmark may take (a quarter-size extract saves no time: its XML is
# split into fewer decode tasks)
OSM_NODES, OSM_WAYS = 506727 // 2, 59642 // 2
FACES = os.path.join(common.HERE, "faces.json")


def _run(cmd, env=None):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, env=env)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        common.fail(f"input preparation failed: {' '.join(cmd[-5:])}")


def osm_paths():
    """(xml, pbf, expected answers) of the extract."""
    xml = os.path.join(common.INPUTS, f"kolkata_{OSM_NODES}_{OSM_WAYS}.osm")
    return xml, xml + ".pbf", xml + ".expected.json"


def osm(classes):
    xml, pbf, expected = osm_paths()
    if not (os.path.exists(xml) and os.path.exists(pbf)):
        tmp = os.path.join(common.WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        _run(common.java_cmd(classes, tmp, "perfbench.Harness", heap="2g") +
             ["gen-osm", xml, pbf, str(OSM_NODES), str(OSM_WAYS)])
    if not os.path.exists(expected):
        _run([sys.executable, os.path.join(common.HERE, "osm_scan.py"),
              xml, expected])
    return expected


def draw_tail(draw_seed=None):
    """A seeded draw from the tail pool, stratified by operator family:
    families in a seeded order, one face from each in turn."""
    spec = json.load(open(FACES))
    seed = spec["tail_draw_seed"] if draw_seed is None else draw_seed
    path = os.path.join(common.INPUTS,
                        f"faces_tail_{seed}_{spec['tail_count']}.json")
    if not os.path.exists(path):
        rng = random.Random(seed)
        fams = {}
        for face, fam in sorted(spec["tail_pool"].items()):
            fams.setdefault(fam, []).append(face)
        order = sorted(fams)
        rng.shuffle(order)
        for f in order:
            rng.shuffle(fams[f])
        drawn = []
        while len(drawn) < spec["tail_count"] and any(fams.values()):
            for f in order:
                if fams[f] and len(drawn) < spec["tail_count"]:
                    drawn.append(fams[f].pop())
        common.atomic_write(path, json.dumps(drawn))
    return json.load(open(path))


def ensure(workload, classes, draw_seed=None):
    os.makedirs(common.INPUTS, exist_ok=True)
    if workload == "osm_kolkata":
        osm(classes)
    elif workload == "faces_tail":
        return draw_tail(draw_seed)
    return None


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all")
    ap.add_argument("--draw-seed", type=int, default=None)
    a = ap.parse_args()
    cls = common.build()
    names = (["osm_kolkata", "faces_tail", "stream_events"]
             if a.workload == "all" else [a.workload])
    for w in names:
        out = ensure(w, cls, a.draw_seed)
        print(w, "ready" + (f": {out}" if out else ""))
