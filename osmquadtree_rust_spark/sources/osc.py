"""OSC change-file parsing (reference src/update/read_xml.rs:540-746).

Parses <osmChange> XML (create/modify/delete sections) into row dicts
with the reference's changetype mapping and per-id max-version dedup
(read_xml.rs:554-591).  Parsing happens driver-side (change files are
replication-minute scale, a few MB); the result becomes a DataFrame that
feeds streaming/updates.py.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from ..operators.merge import CREATE, DELETE, MODIFY
from ..session import local_frame

_SECTION_CT = {"create": CREATE, "modify": MODIFY, "delete": DELETE}


def parse_osc(text: str) -> dict[str, list[dict]]:
    """Returns {'nodes': [...], 'ways': [...], 'relations': [...]} with
    max-version-wins dedup per id."""
    root = ET.fromstring(text)
    out = {"nodes": {}, "ways": {}, "relations": {}}
    for section in root:
        ct = _SECTION_CT.get(section.tag)
        if ct is None:
            continue
        for el in section:
            rec = {
                "id": int(el.attrib["id"]),
                "version": int(el.attrib.get("version", 0)),
                "changetype": ct,
                "timestamp": el.attrib.get("timestamp"),
                "tags": {
                    t.attrib["k"]: t.attrib["v"] for t in el.findall("tag")
                },
            }
            if el.tag == "node":
                lon = el.attrib.get("lon")
                lat = el.attrib.get("lat")
                rec["lon"] = _as_fixed(lon) if lon is not None else None
                rec["lat"] = _as_fixed(lat) if lat is not None else None
                bucket = out["nodes"]
            elif el.tag == "way":
                rec["refs"] = [int(nd.attrib["ref"]) for nd in el.findall("nd")]
                bucket = out["ways"]
            elif el.tag == "relation":
                rec["members"] = [
                    {
                        "role": m.attrib.get("role", ""),
                        "mem_type": {"node": 0, "way": 1, "relation": 2}[
                            m.attrib["type"]
                        ],
                        "mem_ref": int(m.attrib["ref"]),
                    }
                    for m in el.findall("member")
                ]
                bucket = out["relations"]
            else:
                continue
            prev = bucket.get(rec["id"])
            if prev is None or rec["version"] >= prev["version"]:
                bucket[rec["id"]] = rec  # max version wins, later-in-file ties win
    return {k: [v[i] for i in sorted(v)] for k, v in out.items()}


def _as_fixed(v: str) -> int:
    """degrees string -> fixed-point 1e-7 int, round half away from zero
    (coordinate_as_integer, quadtree.rs:9-14)."""
    f = float(v)
    if f > 0:
        return int(f * 1e7 + 0.5)
    return int(f * 1e7 - 0.5)


def osc_to_dfs(spark, text: str):
    """Parse and lift to DataFrames matching the change-table schema."""
    parsed = parse_osc(text)
    nodes = local_frame(
        spark,
        [
            (r["id"], r["version"], r["changetype"], r.get("lon"), r.get("lat"))
            for r in parsed["nodes"]
        ],
        "id long, version long, changetype int, lon long, lat long",
    )
    ways = local_frame(
        spark,
        [
            (r["id"], r["version"], r["changetype"], r.get("refs", []))
            for r in parsed["ways"]
        ],
        "id long, version long, changetype int, refs array<long>",
    )
    rels = local_frame(
        spark,
        [
            (r["id"], r["version"], r["changetype"], r.get("members", []))
            for r in parsed["relations"]
        ],
        "id long, version long, changetype int, "
        "members array<struct<role:string, mem_type:int, mem_ref:long>>",
    )
    return nodes, ways, rels
