#!/usr/bin/env python3
"""Expected answers for the osm_kolkata workload, computed apart from the
program: one forward-only pass over the XML with ElementTree's iterparse
(the reference's own method), with the reference's regexes and mappings
written out again here.

Usage: python3 perfbench/osm_scan.py <extract.osm> <expected.json>
"""
import collections
import json
import re
import sys
import xml.etree.ElementTree as ET

# openstreet_kolkata.py :115-117, :175, :270
PROBLEM = re.compile(r"""[=\+/&<>;'"\?%#$@\,\. \t\r\n]""")
LOWER_COLON = re.compile(r"^([a-z]|_)*:([a-z]|_)*$")
LOWER = re.compile(r"^([a-z]|_)*$")
STREET_TYPE = re.compile(r"(\S+)$")
POSTCODE = re.compile(r"\d+")
EXPECTED_STREET_TYPES = {
    "Avenue", "Boulevard", "Connector", "Commons", "Court", "Drive",
    "Parkway", "Place", "Lane", "Road", "Row", "Sarani", "Square",
    "Street", "Trail"}
AMENITIES = ["cafe", "restaurant", "hospital", "school", "college",
             "university"]


def key_bucket(k):
    if PROBLEM.search(k):
        return "problemchars"
    if LOWER_COLON.search(k):
        return "lower_colon"
    if LOWER.search(k):
        return "lower"
    return "other"


def top(counter, k=10):
    """Top-k by count, then name: the order Q4 and Q5 must return."""
    return [[name, n] for name, n in
            sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def scan(path):
    census = collections.Counter()
    keys = collections.Counter()
    users = collections.Counter()
    types = collections.Counter()
    streets = collections.defaultdict(set)
    postcodes = collections.defaultdict(lambda: [set(), False])
    shops, highways = collections.Counter(), collections.Counter()
    n_shop = 0
    amenity = collections.Counter()
    for event, el in ET.iterparse(path, events=("start", "end")):
        if event == "start":
            census[el.tag] += 1
            continue
        if el.tag not in ("node", "way"):
            continue
        user = el.get("user")
        users[user] += 1
        tags = [(t.get("k"), t.get("v")) for t in el.iter("tag")]
        for k, v in tags:
            keys[key_bucket(k)] += 1
            if k == "addr:street":
                m = STREET_TYPE.search(v)
                st = m.group(1) if m else "UNKNOWN"
                if st not in EXPECTED_STREET_TYPES:
                    streets[st].add(v)
            if k.startswith("addr:post") and k.endswith("code"):
                m = POSTCODE.search(v)
                pc = m.group(0) if m else ""
                b = postcodes[k + (str(len(pc)) if pc else "0")]
                b[0].add(pc if pc else v)
                b[1] = b[1] or len(pc) == 6
        if user is not None:
            types[el.tag] += 1
            kept = {k: v for k, v in tags
                    if not PROBLEM.search(k) and not k.startswith("addr:")}
            if "shop" in kept:
                n_shop += 1
                if el.tag == "node":
                    shops[kept["shop"]] += 1
            if el.tag == "way" and "highway" in kept:
                highways[kept["highway"]] += 1
            if kept.get("amenity") in AMENITIES:
                amenity[kept["amenity"]] += 1
        el.clear()
    return {
        "rows": types["node"] + types["way"],
        "census": dict(census),
        "keys": dict(keys),
        "users": {str(u): n for u, n in users.items()},
        "streets": {k: sorted(v) for k, v in streets.items()},
        "postcodes": {k: [sorted(v[0]), v[1]] for k, v in postcodes.items()},
        "q1": len([u for u in users if u is not None]),
        "q2": dict(types),
        "q3": [n_shop] + [amenity[a] for a in AMENITIES],
        "q4": top(shops),
        "q5": top(highways),
    }


if __name__ == "__main__":
    result = scan(sys.argv[1])
    tmp = sys.argv[2] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f, sort_keys=True)
    import os
    os.replace(tmp, sys.argv[2])
