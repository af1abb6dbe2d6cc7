#!/usr/bin/env python3
"""One benchmark run: one JVM, one closed-loop client, one workload.

Usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from the checkout's sources (once per source digest),
prepares the workload's inputs (once), runs the timed JVM, checks its
outputs apart from the program, and prints a breakdown followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics (and the spans land in .bench_work/traces).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import common  # noqa: E402
import prepare  # noqa: E402

WORKLOADS = ("osm_kolkata", "faces_tail", "stream_events")
DEADLINE_S = 170  # a run must end within 180 s once its inputs exist


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def warm_samples(result):
    """The repeated part of a run, as the harness marks it: the calls of
    the warm passes; for osm the Q1–Q5 batteries after the first."""
    return [x for x in result["samples"] if x["warm"] and x["ok"]]


def end_to_end(result, rss_mb):
    s = result["samples"]
    warm = warm_samples(result)
    warm_ms = [x["ms"] for x in warm]
    passes = [p["ms"] for p in result["passes"]]
    # a warm pass is the sum of its operations' latencies (an osm Q1–Q5
    # battery, one call of each face, or the micro-batches of all five
    # stream faces, not the harness's query starts and stops), each taken
    # at its median over the run, so that a burst of host contention in
    # one pass moves it no more than it moves the median
    n_groups = len({x["group"] for x in warm})
    by_op = {}
    for x in warm:
        by_op.setdefault(x["op"], []).append(x["ms"])
    warm_pass = sum(median(v) * len(v) / n_groups for v in by_op.values())
    m = {
        "setup_s": (result["setup_s"], "s"),
        "rss_peak_mb": (rss_mb, "MB"),
        "first_pass_s": (passes[0] / 1e3, "s"),
        "warm_pass_s": (warm_pass / 1e3, "s"),
        "op_ms_p50": (median(warm_ms), "ms"),
    }
    # the workload's own figures, under per-workload names
    w = result["workload"]
    cold = [x["ms"] for x in s if x["cold"] and x["ok"]]
    d = {}
    if w == "osm_kolkata":
        r0 = [x for x in s if x["pass"] == 0]
        d["osm.audit_s"] = (sum(x["ms"] for x in r0 if x["op"] == "census" or
                                x["op"].startswith("audit_")) / 1e3, "s")
        d["osm.reshape_s"] = (sum(x["ms"] for x in r0
                                  if x["op"] == "reshape") / 1e3, "s")
        d["osm.query_ms_p50"] = (median(warm_ms), "ms")
        d["osm.query_ms_p90"] = (p90(warm_ms), "ms")
    elif w == "faces_tail":
        d["tail.cold_ms_p50"] = (median(cold), "ms")
        d["tail.warm_ms_p50"] = (median(warm_ms), "ms")
        d["tail.warm_ms_p90"] = (p90(warm_ms), "ms")
    else:
        rows = result["details"]["event_rows"] * 3 + \
            result["details"]["doc_rows"] * 2
        n_warm_passes = len({x["pass"] for x in warm})
        d["stream.rows_per_s"] = (rows * n_warm_passes /
                                  max(sum(warm_ms) / 1e3, 1e-9), "rows/s")
        d["stream.batch_ms_p50"] = (median(warm_ms), "ms")
    d["warm_samples"] = (len(warm_ms), "count")
    d["passes"] = (len(passes), "count")
    return m, d


# osm per-layer times that are timed operations of the run itself
OSM_OPS = {"osm.census_ms": "census", "osm.audit_keys_ms": "audit_keys",
           "osm.audit_users_ms": "audit_users",
           "osm.audit_streets_ms": "audit_streets",
           "osm.audit_postcodes_ms": "audit_postcodes"}


def per_layer(result, names):
    layers = result["layers"]
    warm = warm_samples(result)
    out = {}
    for name, unit in names:
        if name == "graft.session_ms":
            v = median(result["session_ms"])
        elif name in OSM_OPS:
            v = median([x["ms"] for x in result["samples"]
                        if x["op"] == OSM_OPS[name] and x["pass"] == 0])
        elif name in ("osm.q1_ms", "osm.q2_ms", "osm.q3_ms", "osm.q4_ms",
                      "osm.q5_ms") and result["workload"] == "osm_kolkata":
            v = median([x["ms"] for x in warm
                        if x["op"] == name[4:6]])
        elif name in ("staging.builds", "staging.bytes", "face.cold_extra_ms"):
            v = layers.get("cold:" + name, layers.get(name, 0.0))
        else:
            v = layers.get(name, 0.0)
        out[name] = (v, unit)
    return out


def run_jvm(cmd, log, deadline):
    """Run the JVM, wait for it, and return (exit code, its peak RSS in MB)."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                p.kill()
                p.wait()
                return -9, 0.0
            time.sleep(0.05)


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        common.fail(f"unknown workload {a.workload}; one of {WORKLOADS}")
    spec = json.load(open(os.path.join(common.ROOT, "BENCHMARK.json")))

    classes = common.build()
    faces = prepare.ensure(a.workload, classes)
    t_ready = time.monotonic()

    os.makedirs(os.path.join(common.WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(dir=os.path.join(common.WORK, "runs"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    before = common.graft_tmp()
    try:
        data = common.DATA
        if a.workload == "faces_tail":
            # the cold call of every face runs on a fresh copy
            data = os.path.join(run_dir, "sf0.1")
            shutil.copytree(common.DATA, data)
        elif a.workload == "osm_kolkata":
            data, _, expected = prepare.osm_paths()
        out = os.path.join(run_dir, "result.json")
        cmd = common.java_cmd(classes, tmp, "perfbench.Harness") + [
            "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(common.cores()), "--run-dir", run_dir,
            "--data", data, "--out", out]
        if faces:
            cmd += ["--faces", ",".join(faces)]
        if a.workload == "osm_kolkata":
            # the PBF twin holds the same elements as the XML
            cmd += ["--osm-rows", str(json.load(open(expected))["rows"])]
        log = os.path.join(run_dir, "jvm.log")
        rc, rss_mb = run_jvm(cmd, log, t_ready + DEADLINE_S - 15)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-6000:])
            common.fail(f"the JVM exited with {rc}")
        result = json.load(open(out))

        if a.workload == "faces_tail":
            problems = checks.faces(result, data)
        elif a.workload == "osm_kolkata":
            problems = checks.osm(result, expected)
        else:
            problems = checks.stream(result, data)
        for p in problems:
            print("WRONG", p, file=sys.stderr)

        e2e, detail = end_to_end(result, rss_mb)
        failed = [x for x in result["samples"] if not x["ok"]]
        for x in {x["op"]: x for x in failed}.values():
            print(f"failed op {x['op']}: {x['err'] or 'wrong result'}")
        print(f"workload {a.workload} seed {a.seed} cores {result['cores']} "
              f"prepare {t_ready - t_start:.1f} s")
        for k, (v, u) in list(e2e.items()) + list(detail.items()):
            print(f"  {k:24s} {v:14.4f} {u}")
        print("  pass_ms " + " ".join(f"{p['ms']:.0f}"
                                      for p in result["passes"]))
        ops = {}
        for x in result["samples"]:
            ops.setdefault(x["op"], []).append(x)
        for name, xs in ops.items():
            rest = [x["ms"] for x in xs[1:]]
            print(f"  op {name:28s} first {xs[0]['ms']:10.1f} ms   "
                  f"then median {median(rest):10.1f} ms over {len(rest)}")
        if a.trace:
            metrics = per_layer(result, [(m["name"], m["unit"])
                                         for m in spec["per_layer"]])
            traces = os.path.join(common.WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            trace = os.path.join(traces, f"{a.workload}_{a.seed}.json")
            common.atomic_write(trace, json.dumps(
                {"spans": result["spans"], "layers": result["layers"],
                 "session_ms": result["session_ms"]}))
            print(f"  spans: {len(result['spans'])} written to "
                  f"{os.path.relpath(trace, common.ROOT)}")
            for k, (v, u) in metrics.items():
                print(f"  {k:32s} {v:14.4f} {u}")
        else:
            metrics = e2e
        print(json.dumps({
            "correct": not problems,
            "attempted": len(result["samples"]),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        # the program stages artifacts under /tmp/graft_*; remove the
        # ones this run made so repeated runs do not grow /tmp
        common.remove_graft_tmp(before)


if __name__ == "__main__":
    main()
