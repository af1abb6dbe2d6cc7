"""Correctness checks, run after the timed JVM has exited. Each returns a
list of problems (empty when the outputs are right), always against a
computation made apart from the program:

  faces    the extra untimed call per face against its SparkEntry.oracleSql
           twin in DuckDB, with the rules of scripts/check_oracle.py
  osm      the answers against the independent XML scan (osm_scan.py)
  stream   each sink's final contents against DuckDB over the input parquet
"""
import contextlib
import glob
import io
import json
import os
import re
import sys

import duckdb

import common

# OsmEngine.streetMapping, written out again from openstreet_kolkata.py
# :192-216
STREET_MAPPING = {
    "street": "Street", "st": "Street", "raod": "Road", "road": "Road",
    "rd": "Road", "avenue": "Avenue", "ave": "Avenue",
    "boulevard": "Boulevard", "blvd": "Boulevard", "drive": "Drive",
    "dr": "Drive", "circle": "Circle", "cir": "Circle", "court": "Court",
    "ct": "Court", "pally": "Pally", "place": "Place", "pl": "Place",
    "potty": "Potty", "square": "Square", "sqr": "Square", "lane": "Lane",
    "ln": "Lane"}


def _duck():
    con = duckdb.connect()
    con.execute(f"SET threads = {common.cores()}")
    return con


def faces(result, data_dir):
    sys.path.insert(0, os.path.join(common.ROOT, "scripts"))
    import check_oracle
    res = result["details"]["results_dir"]
    names = ",".join(sorted({s["op"] for s in result["samples"]}))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = check_oracle.main(res, data_dir, names)
    return [] if rc == 0 else [ln for ln in buf.getvalue().splitlines()
                               if ln.startswith("FAIL")]


def _pairs(rows):
    return {str(r[0]) if r[0] is not None else "None": r[1] for r in rows}


def osm(result, expected_path):
    exp = json.load(open(expected_path))
    a = result["answers"]
    bad = []

    def want(name, got, expected):
        if got != expected:
            bad.append(f"osm {name}: got {str(got)[:200]} "
                       f"expected {str(expected)[:200]}")

    want("census", _pairs(a["census"]), exp["census"])
    want("audit_keys", _pairs(a["keys"]), exp["keys"])
    want("audit_users", _pairs(a["users"]), exp["users"])
    want("audit_streets", {r[0]: sorted(r[1]) for r in a["streets"]},
         exp["streets"])
    want("audit_postcodes",
         {r[0]: [sorted(r[1]), r[2]] for r in a["postcodes"]},
         exp["postcodes"])
    want("q1", a["q1"][0][0], exp["q1"])
    want("q2", _pairs(a["q2"]), exp["q2"])
    want("q3", list(a["q3"][0]), exp["q3"])
    # Q4 and Q5 in the order returned: count descending, then name
    want("q4", [list(r) for r in a["q4"]], exp["q4"])
    want("q5", [list(r) for r in a["q5"]], exp["q5"])

    lines, unmapped = 0, 0
    street = re.compile(rb'"street":"((?:[^"\\]|\\.)*)"')
    for part in glob.glob(os.path.join(result["details"]["osm_json"],
                                       "part-*")):
        with open(part, "rb") as f:
            data = f.read()
        lines += data.count(b"\n")
        for m in street.finditer(data):
            tok = json.loads(b'"' + m.group(1) + b'"').split()[-1:]
            if tok:
                key = tok[0].lower().rstrip(".")
                if key in STREET_MAPPING and tok[0] != STREET_MAPPING[key]:
                    unmapped += 1
    want("nd-json lines", lines, exp["rows"])
    want("streets ending in an unmapped abbreviation", unmapped, 0)
    return bad


def stream(result, data_dir):
    d = result["details"]
    out = d["stream_out"]
    con = _duck()
    con.execute(
        f"CREATE VIEW ev AS SELECT * FROM '{data_dir}/events.parquet' "
        f"ORDER BY ts, event_id LIMIT {d['event_rows']} "
        f"OFFSET {d['event_offset']}")
    con.execute(
        f"CREATE VIEW doc AS SELECT * FROM '{data_dir}/documents.parquet' "
        f"ORDER BY doc_id LIMIT {d['doc_rows']} OFFSET {d['doc_offset']}")
    for face in ("preprocess", "hourly", "dedup", "sessionize", "neardup"):
        con.execute(f"CREATE VIEW {face} AS SELECT * FROM "
                    f"'{out}/stream_{face}/*.parquet'")
    bad = []

    def same(name, got_sql, want_sql):
        got = sorted(con.execute(got_sql).fetchall())
        want = sorted(con.execute(want_sql).fetchall())
        if got != want:
            bad.append(f"stream {name}: {len(got)} rows, expected "
                       f"{len(want)}; first difference "
                       f"{next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)}")

    same("preprocess", "SELECT doc_id FROM preprocess",
         "SELECT doc_id FROM doc")
    # update mode appends a row per change; a window's final row is its
    # largest count
    same("hourly",
         "SELECT window_start, event_type, max(n), "
         "round(max(sum_value), 6) FROM hourly GROUP BY ALL",
         "SELECT time_bucket(INTERVAL 1 HOUR, ts), event_type, count(*), "
         "round(sum(value), 6) FROM ev GROUP BY ALL")
    same("dedup", "SELECT event_id FROM dedup",
         "SELECT DISTINCT event_id FROM ev")
    # a session closes when the same user's next event is >= 10 minutes
    # later; the open session per user is never emitted
    same("sessionize",
         "SELECT user_id, n_events, first_ts, last_ts FROM sessionize",
         """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms FROM ev),
            g AS (SELECT user_id, ms, CASE WHEN ms - lag(ms) OVER w < 600000
                  THEN 0 ELSE 1 END AS brk FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
            s AS (SELECT user_id, ms, sum(brk) OVER (PARTITION BY user_id
                  ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid FROM g),
            r AS (SELECT user_id, sid, count(*) AS n, min(ms) AS f,
                  max(ms) AS l, max(sid) OVER (PARTITION BY user_id) AS last
                  FROM s GROUP BY user_id, sid)
            SELECT user_id, n, f, l FROM r WHERE sid < last""")
    # every exact duplicate of an earlier document (same text, at least
    # one 3-token shingle) is a near-duplicate hit
    same("neardup",
         "SELECT DISTINCT doc_id, dup_of FROM neardup WHERE agree16 = 16 "
         "AND (doc_id, dup_of) IN (SELECT (a.doc_id, b.doc_id) FROM doc a "
         "JOIN doc b ON a.text = b.text AND b.doc_id < a.doc_id)",
         "SELECT a.doc_id, b.doc_id FROM doc a JOIN doc b "
         "ON a.text = b.text AND b.doc_id < a.doc_id "
         "WHERE len(string_split(trim(a.text), ' ')) >= 3")
    n_foreign = con.execute(
        "SELECT count(*) FROM neardup WHERE doc_id NOT IN (SELECT doc_id "
        "FROM doc) OR dup_of NOT IN (SELECT doc_id FROM doc) "
        "OR agree16 < 12").fetchone()[0]
    if n_foreign:
        bad.append(f"stream neardup: {n_foreign} hits outside the input "
                   "or below the agreement floor")
    return bad
