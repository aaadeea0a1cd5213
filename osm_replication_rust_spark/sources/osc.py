"""OsmChange-style XML diff source.

The reference parses `.osc[.gz]` files event-by-event
(/root/reference/src/osmxml.rs:382-785: <create>/<modify>/<delete>
wrapper elements, element attributes, optional <bbox> children). Our
engine's change batches are DataFrames; this source turns the pending
files of a replication tree into that DataFrame distributedly:

  driver listing (state from the path, only states above the caller's
  cursor) -> binaryFile scan of those files -> mapInPandas parse
  (stdlib ElementTree per file, gzip-sniffed) -> element rows.

So the *parse* scales with the number of new files (each task parses
whole files — diffs are small and line-oriented work poorly for XML),
while everything downstream is ordinary set-based work. The state
number is recovered from the filename (the reference's 3/3/3 sharded
layout, /root/reference/src/update.rs:76-82).

Writers: ``format_osc_elements`` emits the action-grouped XML shape
(/root/reference/src/osmxml.rs:72-101 write_action_start);
``write_region_osc_tree`` publishes it per region and state.
"""

from __future__ import annotations

import fnmatch
import gzip
import io
import os
import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.coords import coord_to_decimicro_py, pack_footprint

#: full three-kind element schema (node/way/relation with optional
#: <bbox> child), the faithful relational image of the reference's
#: OsmChange model (/root/reference/src/osmxml.rs:120-175 parse,
#: 782-955 write: element attributes incl. the five metadata fields
#: version/timestamp/uid/user/changeset of /root/reference/src/osm.rs:16-35,
#: <nd ref>, <member type ref role>, <tag k v>, <bbox>).
#:
#: ``tags`` is an ORDERED list of (k, v) structs, not a map: the
#: reference models tags as Vec<(String,String)>
#: (/root/reference/src/osm.rs:50-53) — order-preserving, duplicate
#: keys legal — and a map would silently dedup and reorder them.
#: ``timestamp`` stays a verbatim string like the reference's
#: Option<String> (no datetime parse — byte-faithful round trips).
ELEMENT_SCHEMA = (
    "state long, seq long, action string, kind string, element_id string, "
    "new_lat long, new_lon long, "
    "version long, timestamp string, uid long, user string, changeset long, "
    "tags array<struct<k:string,v:string>>, "
    "members array<struct<ref:string,type:string,role:string>>, "
    "bbox struct<minlat:long,maxlat:long,minlon:long,maxlon:long>"
)

#: metadata attributes in the reference writer's emission order
#: (/root/reference/src/osmxml.rs:789-812: id, version, timestamp,
#: uid, user, changeset — then lat/lon on nodes)
_META_ATTRS = ("version", "timestamp", "uid", "user", "changeset")
_META_INT = {"version", "uid", "changeset"}

_ACTIONS = ("create", "modify", "delete")
_KINDS = ("node", "way", "relation")


def parse_osc_elements(data: bytes, state: int) -> list[dict]:
    """One .osc[.gz] or .osm[.gz] payload -> three-kind element rows
    (document order = seq, all kinds in one sequence). Ways carry their
    <nd> refs as members (type 'node'); relations carry typed <member>
    children; an optional <bbox> child (the bbox-annotation pass's
    output, /root/reference/src/osmxml/bbox.rs) parses into decimicro
    ints.

    Elements wrapped in <create>/<modify>/<delete> take that action;
    BARE elements under the root (plain <osm> files, and the mixed
    roots the reference's update path accepts) act as 'modify' — the
    reference applies Action::None as a write
    (/root/reference/src/osmxml.rs update_to + osmbin update_node)."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    root = ET.parse(io.BytesIO(data)).getroot()
    rows: list[dict] = []
    seq = 0
    groups = []
    for child in root:
        if child.tag in _ACTIONS:
            groups.append((child.tag, list(child)))
        elif child.tag in _KINDS:
            groups.append(("modify", [child]))
    for action, els in groups:
        for el in els:
            if el.tag not in _KINDS:
                continue
            tags = [
                {"k": t.get("k"), "v": t.get("v")} for t in el.findall("tag")
            ]
            bb = el.find("bbox")
            bbox = None
            if bb is not None:
                bbox = {
                    k: coord_to_decimicro_py(float(bb.get(k)))
                    for k in ("minlat", "maxlat", "minlon", "maxlon")
                }
            members = None
            if el.tag == "way":
                members = [
                    {"ref": nd.get("ref"), "type": "node", "role": ""}
                    for nd in el.findall("nd")
                ]
            elif el.tag == "relation":
                members = [
                    {
                        "ref": m.get("ref"),
                        "type": m.get("type"),
                        "role": m.get("role") or "",
                    }
                    for m in el.findall("member")
                ]
            lat, lon = el.get("lat"), el.get("lon")
            row = {
                "state": state,
                "seq": seq,
                "action": action,
                "kind": el.tag,
                "element_id": el.get("id"),
                "new_lat": coord_to_decimicro_py(float(lat)) if lat else None,
                "new_lon": coord_to_decimicro_py(float(lon)) if lon else None,
                "tags": tags or None,
                "members": members,
                "bbox": bbox,
            }
            for a in _META_ATTRS:
                v = el.get(a)
                row[a] = (int(v) if a in _META_INT else v) if v is not None else None
            rows.append(row)
            seq += 1
    return rows


def state_from_path(path: str) -> int:
    """Recover the state number from .../AAA/BBB/CCC.osc[.gz] (the
    reference's sharded layout) or from a bare <N>.osc name."""
    m = re.search(r"(?:(\d{3})/(\d{3})/)?(\d+)\.osc(?:\.gz)?$", path)
    if not m:
        raise ValueError(f"cannot extract state from {path}")
    a, b, c = m.groups()
    if a is not None:
        return int(a) * 1_000_000 + int(b) * 1_000 + int(c)
    return int(c)


def read_osc_elements_dir(
    spark: SparkSession, path: str, after: int = 0
) -> DataFrame:
    """Distributed three-kind scan (ELEMENT_SCHEMA) of the diffs under
    ``path`` whose state is above ``after``: the tree is listed on the
    driver, so files at or below the cursor are never opened. Hidden
    names (leading ``.`` or ``_``, e.g. a publisher's tmp file) are
    skipped as Spark's own file listing skips them. An empty frame
    when no file qualifies."""
    if not os.path.isdir(path):
        raise FileNotFoundError(f"diff directory {path} does not exist")
    pending = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [n for n in dirs if not n.startswith((".", "_"))]
        for n in files:
            p = os.path.join(d, n)
            if (
                fnmatch.fnmatch(n, "*.osc*")
                and not n.startswith((".", "_"))
                and state_from_path(p) > after
            ):
                pending.append(p)
    if not pending:
        return spark.createDataFrame([], ELEMENT_SCHEMA)
    cols = [
        "state", "seq", "action", "kind", "element_id",
        "new_lat", "new_lon",
        "version", "timestamp", "uid", "user", "changeset",
        "tags", "members", "bbox",
    ]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for p, content in zip(pdf["path"], pdf["content"]):
                out.extend(parse_osc_elements(bytes(content), state_from_path(p)))
            yield pd.DataFrame(out, columns=cols)

    files = spark.read.format("binaryFile").load(pending)
    return files.select("path", "content").mapInPandas(parse, ELEMENT_SCHEMA)


def _xml_escape(v: str) -> str:
    return (
        str(v)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace('"', "&quot;")
    )


def format_osc_elements(rows: list[dict]) -> str:
    """Three-kind element rows -> action-grouped OsmChange XML with
    <nd>/<member>/<tag> children and the optional <bbox> child in the
    reference writer's shape (/root/reference/src/osmxml.rs:782-955:
    attributes id, version, timestamp, uid, user, changeset, then
    lat/lon on nodes; children nd refs then tags then bbox on ways;
    members then tags then bbox on relations).  Tags are an ordered
    (k, v) list — emission order and duplicate keys are preserved."""
    out = ['<?xml version="1.0" encoding="UTF-8"?>', '<osmChange version="0.6">']
    current = None
    for r in sorted(rows, key=lambda r: r["seq"]):
        if r["action"] != current:
            if current is not None:
                out.append(f"</{current}>")
            current = r["action"]
            out.append(f"<{current}>")
        kind = r["kind"]
        attrs = f' id="{r["element_id"]}"'
        for a in _META_ATTRS:
            v = r.get(a)
            if v is not None:
                attrs += f' {a}="{_xml_escape(v)}"'
        if r.get("new_lat") is not None:
            attrs += f' lat="{r["new_lat"] / 1e7:.7f}" lon="{r["new_lon"] / 1e7:.7f}"'
        kids = ""
        if kind == "way":
            for m in r.get("members") or []:
                kids += f'<nd ref="{m["ref"]}"/>'
        elif kind == "relation":
            for m in r.get("members") or []:
                kids += (
                    f'<member type="{m["type"]}" ref="{m["ref"]}"'
                    f' role="{_xml_escape(m["role"])}"/>'
                )
        for t in r.get("tags") or []:
            kids += f'<tag k="{_xml_escape(t["k"])}" v="{_xml_escape(t["v"])}"/>'
        bb = r.get("bbox")
        if bb is not None:
            kids += (
                f'<bbox minlat="{bb["minlat"] / 1e7:.7f}"'
                f' maxlat="{bb["maxlat"] / 1e7:.7f}"'
                f' minlon="{bb["minlon"] / 1e7:.7f}"'
                f' maxlon="{bb["maxlon"] / 1e7:.7f}"/>'
            )
        if kids:
            out.append(f"<{kind}{attrs}>{kids}</{kind}>")
        else:
            out.append(f"<{kind}{attrs}/>")
    if current is not None:
        out.append(f"</{current}>")
    out.append("</osmChange>")
    return "\n".join(out) + "\n"


def elements_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Parsed element rows -> DataFrame, built STRAIGHT from the list
    of dicts: a pandas detour coerces int-or-None columns (coords,
    version/uid/changeset) to float64, which a bare non-Arrow session
    rejects for LongType — this constructor is safe in ANY session."""
    return spark.createDataFrame(rows, schema=ELEMENT_SCHEMA)


def tag_value(tags_col, key: str):
    """First value of tag ``key`` in an ordered (k, v) tag list column
    (NULL when absent).  The map-like lookup view over the
    order-preserving, duplicate-tolerant list representation —
    ``F.get`` (0-based, NULL out of bounds) keeps it safe under ANSI
    mode in a bare session."""
    from pyspark.sql import functions as F

    if isinstance(tags_col, str):
        tags_col = F.col(tags_col)
    return F.get(F.filter(tags_col, lambda t: t["k"] == F.lit(key)), 0)["v"]


def tags_to_map(tags_col):
    """Ordered (k, v) tag list -> map<string,string> view for consumers
    that want map semantics; FIRST occurrence wins on duplicate keys
    (explicit aggregate — ``map_from_entries`` would throw under the
    default EXCEPTION dedup policy)."""
    from pyspark.sql import functions as F

    if isinstance(tags_col, str):
        tags_col = F.col(tags_col)
    return F.aggregate(
        tags_col,
        F.create_map().cast("map<string,string>"),
        lambda acc, t: F.when(
            F.isnull(F.try_element_at(acc, t["k"])),
            F.map_concat(acc, F.create_map(t["k"], t["v"])),
        ).otherwise(acc),
    )


def _ns_prefix(kind_or_type):
    """n/w/r id-namespace prefix by OSM kind — the engine's group/point
    tables live in ONE id namespace, while OSM ids are per-type; the
    prefix keeps way 100 and relation 100 distinct after conversion."""
    from pyspark.sql import functions as F

    return (
        F.when(kind_or_type == "node", F.lit("n"))
        .when(kind_or_type == "way", F.lit("w"))
        .otherwise(F.lit("r"))
    )


def elements_to_engine(
    elements: DataFrame, namespace_ids: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Split a three-kind element frame into the engine's two change
    models (all JVM-side):

    - point changes (state, seq, action, image_id, new_lat, new_lon,
      version, new_caption, new_phash): node rows, caption/phash
      lifted out of the tag list;
    - group changes (group_id, action, kind, new_members): way/relation
      rows with member types mapped into the engine's namespace
      (node -> 'image'; way/relation -> 'group' — the engine
      discriminates point refs from composite refs, classify_group_diff
      resolves both kinds of composites identically).

    ``namespace_ids`` prefixes every id with its OSM type (n/w/r) so
    the converted frames can join a store whose ids were converted the
    same way (sources.pbf.pbf_to_engine) — OSM ids are only unique per
    type."""
    from pyspark.sql import functions as F

    eid = F.col("element_id")
    points = elements.filter(F.col("kind") == "node").select(
        "state",
        "seq",
        "action",
        (F.concat(F.lit("n"), eid) if namespace_ids else eid).alias("image_id"),
        "new_lat",
        "new_lon",
        "version",
        tag_value("tags", "caption").alias("new_caption"),
        # footprint for the packed store column: an explicit phash tag
        # wins (engine-written diffs); otherwise pack the element's own
        # coords — real OSM diffs carry only lat/lon, and a create
        # merged with a NULL footprint would lose its position
        F.coalesce(
            tag_value("tags", "phash").cast("long"),
            F.when(
                F.col("new_lat").isNotNull() & F.col("new_lon").isNotNull(),
                pack_footprint(F.col("new_lat"), F.col("new_lon")),
            ),
        ).alias("new_phash"),
    )

    def member_ref(m):
        if namespace_ids:
            return F.concat(_ns_prefix(m["type"]), m["ref"]).alias("ref")
        return m["ref"].alias("ref")

    groups = elements.filter(F.col("kind").isin("way", "relation")).select(
        "state",
        "seq",
        (
            F.concat(_ns_prefix(F.col("kind")), eid) if namespace_ids else eid
        ).alias("group_id"),
        "action",
        "kind",
        "version",
        F.transform(
            "members",
            lambda m: F.struct(
                member_ref(m),
                F.when(m["type"] == "node", F.lit("image"))
                .otherwise(F.lit("group"))
                .alias("type"),
                m["role"].alias("role"),
            ),
        ).alias("new_members"),
    )
    return points, groups


def _shard(state: int) -> str:
    """state -> the reference's 3/3/3 shard path 'AAA/BBB/CCC'
    (/root/reference/src/update.rs:76-82)."""
    s = int(state)
    return f"{s // 1_000_000 % 1000:03d}/{s // 1_000 % 1000:03d}/{s % 1000:03d}"


def _element_records(pdf: pd.DataFrame) -> list[dict]:
    """Arrow-batched pandas rows -> plain element dicts: nullable int64
    columns arrive as float64-with-NaN, arrays as ndarrays — normalize
    back to the parse_osc_elements shape so the writer sees identical
    input either way."""
    import math

    int_cols = ("state", "seq", "new_lat", "new_lon", "version", "uid", "changeset")
    recs = []
    for r in pdf.to_dict("records"):
        out = {}
        for k in int_cols:
            v = r.get(k)
            out[k] = (
                None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else int(v)
            )
        for k in ("action", "kind", "element_id", "timestamp", "user"):
            v = r.get(k)
            out[k] = v if isinstance(v, str) else None
        for k in ("tags", "members"):
            v = r.get(k)
            out[k] = None if v is None else [dict(x) for x in list(v)]
        bb = r.get("bbox")
        out["bbox"] = None if bb is None else {kk: int(vv) for kk, vv in bb.items()}
        recs.append(out)
    return recs


def write_region_osc_tree(
    elements: DataFrame, root: str, region_col: str = "region"
) -> list[dict]:
    """DISTRIBUTED per-region diff publish — the reference's interchange
    artifact (/root/reference/src/diffs.rs:94-166 generate_diff):
    ``<root>/<hier_name>/minute/AAA/BBB/CCC.osc.gz`` per (region, state)
    plus the sibling ``CCC.state.txt`` and the per-region
    ``minute/state.txt`` symlink to the newest state.

    ``elements`` is an ELEMENT_SCHEMA frame with an extra region
    (hier-name) column. Each (region, state) group is formatted and
    written ON AN EXECUTOR via ``applyInPandas`` — one shuffle on the
    grouping key, tmp-file + atomic rename exactly like the reference
    (diffs.rs:146-149) — so the publish scales with the number of
    region×state cells, not with driver memory. Bytes are deterministic
    (seq-sorted rows, gzip mtime=0): identical to a driver-side
    ``format_osc_elements`` of the same rows. Assumes a shared
    filesystem across executors (true for local / any cluster writing
    to a shared mount; swap the open() for an object-store client
    otherwise). Returns one manifest dict per written file."""

    out_schema = "region string, state long, path string, n_rows long"

    def write_group(key, pdf):
        region, state = str(key[0]), int(key[1])
        recs = _element_records(pdf.sort_values("seq"))
        payload = gzip.compress(format_osc_elements(recs).encode(), mtime=0)
        d = os.path.join(root, region, "minute", os.path.dirname(_shard(state)))
        os.makedirs(d, exist_ok=True)
        leaf = os.path.basename(_shard(state))
        path = os.path.join(d, f"{leaf}.osc.gz")
        tmp = os.path.join(d, f".{leaf}.osc.gz.tmp")
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)  # tmp + atomic rename (diffs.rs:146-149)
        state_txt = os.path.join(d, f"{leaf}.state.txt")
        tmp_st = state_txt + ".tmp"
        with open(tmp_st, "w") as f:
            f.write(f"sequenceNumber={state}\n")
        os.replace(tmp_st, state_txt)
        return pd.DataFrame(
            [{"region": region, "state": state, "path": path, "n_rows": len(recs)}]
        )

    written = [
        r.asDict()
        for r in elements.groupBy(region_col, "state")
        .applyInPandas(write_group, out_schema)
        .collect()
    ]
    # per-region current-state pointer: minute/state.txt -> newest
    # state's .state.txt (the reference's symlink publish, diffs.rs:152-162)
    newest: dict[str, int] = {}
    for w in written:
        newest[w["region"]] = max(newest.get(w["region"], -1), w["state"])
    for region, state in newest.items():
        link = os.path.join(root, region, "minute", "state.txt")
        target = _shard(state) + ".state.txt"
        try:
            os.remove(link)
        except FileNotFoundError:
            pass
        os.symlink(target, link)
    return written
