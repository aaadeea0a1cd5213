"""The engine's query catalog: the flagship tile assignment plus the
engine's own operators (codecs, bbox, spatial join, filter, merge,
closure, OsmChange/.poly/PBF sources) exposed through the driver
contract, each as (PySpark callable, DuckDB oracle SQL) built from
shared definitions so the arithmetic matches bit-for-bit.

Query keys map to SURVEY.md §2 operator ids in each docstring.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import coords as C
from ..functions.geometry import MultiPolygon
from ..datagen.synth import fixture_regions
from ..operators.spatial_join import assign_regions

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: spatial join / tiling (S4+S5, P2, P3, J3, O1)
# ---------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> derived decimicro footprint -> cell-prefilter spatial
    join against the fixture region hierarchy -> (event_id, region_id,
    in_poly, in_buffer) tile assignments."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    return assign_regions(
        ev, fixture_regions(), keep_cols=["event_id"]
    ).orderBy("event_id", "region_id")


# ---------------------------------------------------------------------------
# scalar geo codecs (F1/F3) and bbox aggregation (A1/A2)
# ---------------------------------------------------------------------------

# fixed probe bbox for the gated Hilbert range-cover columns: sits
# inside the derived ±2.2° footprint band so both branches of the
# cover predicate are exercised (rows in cells fully inside, in
# boundary cells, and outside). The ranges are computed ONCE at module
# import by the driver-side quadtree descent; both engines then
# evaluate the identical OR-of-BETWEENs literals per row.
_COVER_BBOX = (-9_000_000, -6_000_000, 14_000_000, 11_000_000)
_COVER_RANGES = C.hilbert_ranges(*_COVER_BBOX, max_ranges=32)


@register(
    "footprint_roundtrip",
    "SELECT *, "
    + C.sql_hilbert_range_predicate("hil", _COVER_RANGES)
    + " AS in_cover, "
    + f"(lon BETWEEN {_COVER_BBOX[0]} AND {_COVER_BBOX[2]}"
    + f" AND lat BETWEEN {_COVER_BBOX[1]} AND {_COVER_BBOX[3]}) AS in_bbox"
    + " FROM ("
    + C.sql_hilbert_wrap(
        f"""
    SELECT event_id,
           {C.sql_derived_lat('event_id')} AS lat,
           {C.sql_derived_lon('event_id')} AS lon,
           ({C.sql_derived_lat('event_id')} + {C.LAT_OFFSET}) * {C.PHASH_LON_BASE}
             + ({C.sql_derived_lon('event_id')} + {C.LON_OFFSET}) AS phash,
           {C.sql_unpack_lat(f"(({C.sql_derived_lat('event_id')} + {C.LAT_OFFSET}) * {C.PHASH_LON_BASE} + ({C.sql_derived_lon('event_id')} + {C.LON_OFFSET}))")} AS lat2,
           {C.sql_shard_path('event_id')} AS shard,
           {C.sql_cell_id(C.sql_derived_lon('event_id'), C.sql_derived_lat('event_id'))} AS cell,
           {C.sql_quadkey(C.sql_derived_lon('event_id'), C.sql_derived_lat('event_id'))} AS qk,
           {C.sql_geohash(C.sql_derived_lon('event_id'), C.sql_derived_lat('event_id'))} AS gh
    FROM events
    """,
        passthrough=[
            "event_id", "lat", "lon", "phash", "lat2", "shard", "cell", "qk", "gh",
        ],
        lon="lon",
        lat="lat",
        out="hil",
    )
    + ") ORDER BY event_id",
)
def footprint_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 + F3 + F3b: decimicro footprint <-> phash pack/unpack round
    trip (the invertible packing of FIXTURES.md §1), the reference's
    9-digit 3/3/3 shard path (/root/reference/src/osmbin.rs:227-245) as
    a partitioning expression, the cell-id encode (the H3/S2 analog),
    the quadkey tile name (interleaved-bit interop id; string
    prefix = ancestor tile), the base32 geohash (exact integer
    bisection; matches the published test vectors), the Hilbert
    curve cell id (the S2 ordering — consecutive ids are 4-adjacent
    cells, the locality property range-partitioning keys on) and the
    S2-style RANGE COVER of a probe bbox (in_cover = the pushdown-able
    OR-of-BETWEENs over the id; in_bbox = the exact test; the cover's
    superset/completeness invariants are property-tested, this row
    pins both engines' per-row evaluation) — every
    scalar geo codec checked PER ROW in one scan, whole-stage codegen.
    (Round 5: absorbed the former
    `shard_path` and `cell_encode`/`quadkey_encode` queries to keep the
    catalog within the driver's 50-row gate; per-row codec equality is
    strictly stronger than the retired grouped-count check.)"""
    # sort FIRST, on the narrow 8-byte key, and only then compute the
    # codec columns: a trailing .orderBy would (a) range-sample its
    # child — recomputing the ENTIRE codec projection a second time
    # (r6 profile: two ~70 CPU-s stages at sf1.0, one of them pure
    # sampling) — and (b) shuffle the computed strings (67 MB at sf1.0
    # vs 8 MB of ids). Range-exchange event_id, local-sort it, then
    # project: Project streams rows in place, so the per-partition
    # order (and hence the global order of the output) is exactly what
    # orderBy("event_id") produced. Guide §8: decide placement on the
    # small rows, move/compute the heavy ones once.
    par = max(spark.sparkContext.defaultParallelism, 1)
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id")
        .repartitionByRange(par, "event_id")
        .sortWithinPartitions("event_id")
    )
    lat = C.derived_lat(F.col("event_id"))
    lon = C.derived_lon(F.col("event_id"))
    # hilbert FIRST while the frame is three narrow longs: its 2*levels
    # chained Projects replicate passthrough plumbing per level, so
    # stacking them on the string codecs (qk/gh/shard) costs ~0.9 s of
    # extra generated-code compile; narrow-first the whole chain adds
    # ~0.6 s fixed and nothing per-row (measured sf0.01, min-of-3 noop)
    base = ev.select("event_id", lat.alias("lat"), lon.alias("lon"))
    base = C.with_hilbert(base, F.col("lon"), F.col("lat"), out="hil")
    return base.select(*_footprint_codec_cols())


@functools.lru_cache(maxsize=1)
def _footprint_codec_cols() -> tuple:
    """The footprint row's codec select-list, built ONCE per process:
    these are pure expression trees over fixed column names (no data,
    no session state), and constructing them costs ~0.7 s of py4j
    round-trips — driver-side build latency the timed query otherwise
    pays on every invocation."""
    lat2, lon2 = F.col("lat"), F.col("lon")
    ph = C.pack_footprint(lat2, lon2)
    return (
        F.col("event_id"),
        lat2,
        lon2,
        ph.alias("phash"),
        C.unpack_lat(ph).alias("lat2"),
        C.shard_path(F.col("event_id")).alias("shard"),
        C.cell_id(lon2, lat2).alias("cell"),
        C.quadkey(lon2, lat2).alias("qk"),
        C.geohash(lon2, lat2).alias("gh"),
        F.col("hil"),
        # bound form: `hil` is a derived expression here — the plain
        # OR-chain would inline its full tree into all 32 comparisons
        C.hilbert_range_predicate_bound(F.col("hil"), _COVER_RANGES).alias(
            "in_cover"
        ),
        (
            F.col("lon").between(_COVER_BBOX[0], _COVER_BBOX[2])
            & F.col("lat").between(_COVER_BBOX[1], _COVER_BBOX[3])
        ).alias("in_bbox"),
    )


@register(
    "bbox_agg",
    f"""
    SELECT user_id,
           min({C.sql_derived_lat('event_id')}) AS minlat,
           max({C.sql_derived_lat('event_id')}) AS maxlat,
           min({C.sql_derived_lon('event_id')}) AS minlon,
           max({C.sql_derived_lon('event_id')}) AS maxlon,
           count(*) AS n
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def bbox_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: bbox expand as min/max aggregation (reference
    /root/reference/src/osm.rs:155-171 folded per element set)."""
    ev = _t(spark, sf_dir, "events")
    lat = C.derived_lat(F.col("event_id"))
    lon = C.derived_lon(F.col("event_id"))
    return (
        ev.select("user_id", lat.alias("lat"), lon.alias("lon"))
        .groupBy("user_id")
        .agg(
            F.min("lat").alias("minlat"),
            F.max("lat").alias("maxlat"),
            F.min("lon").alias("minlon"),
            F.max("lon").alias("maxlon"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# generated ray-cast SQL: the DuckDB twin of the numpy point-in-polygon
# kernel (even-odd + boundary-counts-inside), emitted from the same
# MultiPolygon fixture so both engines evaluate literally the same edges
# ---------------------------------------------------------------------------

def sql_raycast(mp: MultiPolygon, lon: str, lat: str) -> str:
    cross_terms = []
    boundary_terms = []
    for ring in mp.rings:
        c = ring.closed()
        for (x1, y1), (x2, y2) in zip(c[:-1], c[1:]):
            x1, y1, x2, y2 = int(x1), int(y1), int(x2), int(y2)
            num = f"(({x1} - ({lon})) * ({y2 - y1}) + (({lat}) - {y1}) * ({x2 - x1}))"
            gt = f"{num} > 0" if y2 > y1 else f"{num} < 0"
            cross_terms.append(
                f"(CASE WHEN (({y1} > ({lat})) <> ({y2} > ({lat}))) AND ({gt}) THEN 1 ELSE 0 END)"
            )
            boundary_terms.append(
                f"(({x2 - x1}) * (({lat}) - {y1}) - ({y2 - y1}) * (({lon}) - {x1}) = 0"
                f" AND ({lon}) BETWEEN {min(x1, x2)} AND {max(x1, x2)}"
                f" AND ({lat}) BETWEEN {min(y1, y2)} AND {max(y1, y2)})"
            )
    crossings = " + ".join(cross_terms)
    boundary = " OR ".join(boundary_terms)
    return f"((({crossings}) % 2 = 1) OR {boundary})"


def sql_buffer_dist(mp: MultiPolygon, lon: str, lat: str, buffer: int) -> str:
    """DuckDB twin of geo_expr.buffer_dist_expr: true iff the point lies
    within ``buffer`` of any ring segment — the IDENTICAL float64
    clamped-projection formula in the identical evaluation order, so the
    two engines compute bit-equal d² values."""
    px = f"CAST({lon} AS DOUBLE)"
    py = f"CAST({lat} AS DOUBLE)"
    b2 = repr(float(buffer) * float(buffer))
    terms = []
    ex1, ey1, ex2, ey2 = mp.edges()
    for x1, y1, x2, y2 in zip(ex1, ey1, ex2, ey2):
        x1f, y1f, x2f, y2f = float(x1), float(y1), float(x2), float(y2)
        dx, dy = x2f - x1f, y2f - y1f
        len2 = dx * dx + dy * dy
        if len2 == 0:
            d2 = f"(({px} - {x1f!r}) * ({px} - {x1f!r}) + ({py} - {y1f!r}) * ({py} - {y1f!r}))"
        else:
            t_raw = f"((({px} - {x1f!r}) * {dx!r} + ({py} - {y1f!r}) * {dy!r}) / {len2!r})"
            t = f"least(greatest({t_raw}, 0.0), 1.0)"
            cx = f"({x1f!r} + {t} * {dx!r})"
            cy = f"({y1f!r} + {t} * {dy!r})"
            d2 = f"(({px} - {cx}) * ({px} - {cx}) + ({py} - {cy}) * ({py} - {cy}))"
        terms.append(f"({d2} <= {b2})")
    return "(" + " OR ".join(terms) + ")"


_EV_LAT = C.sql_derived_lat("event_id")
_EV_LON = C.sql_derived_lon("event_id")


@register(
    "spatial_join_tiles",
    "\nUNION ALL\n".join(
        f"""SELECT event_id, '{mp.region_id}' AS region_id FROM events
        WHERE {sql_raycast(mp, _EV_LON, _EV_LAT)}"""
        for mp in fixture_regions()
    )
    + "\nORDER BY event_id, region_id",
)
def spatial_join_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (flagship): the full cell-prefilter spatial join against the
    whole region hierarchy; oracle = per-region ray-cast SQL UNION."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    return (
        assign_regions(ev, fixture_regions(), keep_cols=["event_id"], buffer=0)
        .filter(F.col("in_poly"))
        .select("event_id", "region_id")
        .orderBy("event_id", "region_id")
    )


# ---------------------------------------------------------------------------
# membership, three-way filter and MERGE (P4-P6, K3/K4)
# ---------------------------------------------------------------------------

# membership rect covers the lower-left quadrant: small partkeys (the
# only keys present at sf0.001, where l_partkey <= 199 and the derived
# footprint starts near (-22M, -22M)) land inside, so the query is
# non-vacuous at EVERY tested scale factor
_MEMBER_RECT = (-22_000_000, -22_000_000, 0, 0)  # lon0, lat0, lon1, lat1


@register(
    "group_membership_exists",
    f"""
    WITH win AS (
      SELECT o_orderkey AS group_id,
             percent_rank() OVER w AS wn_pr,
             cume_dist() OVER w AS wn_cd,
             CAST(ntile(4) OVER w AS BIGINT) AS wn_nt,
             o_totalprice - lag(o_totalprice) OVER w AS wn_gap
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    )
    SELECT m.group_id, w.wn_pr, w.wn_cd, w.wn_nt, w.wn_gap FROM (
      SELECT DISTINCT o.o_orderkey AS group_id
      FROM orders o
      WHERE EXISTS (
        SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        AND ({C.sql_derived_lat('l.l_partkey')}) BETWEEN {_MEMBER_RECT[1]} AND {_MEMBER_RECT[3]}
        AND ({C.sql_derived_lon('l.l_partkey')}) BETWEEN {_MEMBER_RECT[0]} AND {_MEMBER_RECT[2]}
      )
    ) m JOIN win w USING (group_id)
    ORDER BY group_id
    """,
)
def group_membership_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: existential membership (way ∈ region ⇔ ∃ member point ∈
    region) as a left semi join; orders play the composite element,
    lineitems its members.

    PLUS the SQL-standard analytic quartet over the orders-per-customer
    window (§2.6 breadth — percent_rank / cume_dist / ntile(4) /
    lag-gap, total-ordered by (o_totalprice, o_orderkey) so ntile's
    positional split is engine-deterministic): built-ins on both
    engines, parity driver-gated; the lag-gap is a same-typed double
    subtraction, bit-identical."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lon0, lat0, lon1, lat1 = _MEMBER_RECT
    members_in = li.filter(
        C.derived_lat(F.col("l_partkey")).between(lat0, lat1)
        & C.derived_lon(F.col("l_partkey")).between(lon0, lon1)
    ).select(F.col("l_orderkey").alias("group_id"))
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wins = o.select(
        F.col("o_orderkey").alias("group_id"),
        F.percent_rank().over(w).alias("wn_pr"),
        F.cume_dist().over(w).alias("wn_cd"),
        F.ntile(4).over(w).cast("long").alias("wn_nt"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("wn_gap"),
    )
    return (
        o.select(F.col("o_orderkey").alias("group_id"))
        .join(members_in, "group_id", "left_semi")
        .distinct()
        .join(wins, "group_id")
        .orderBy("group_id")
    )


def _group_diff_oracle() -> str:
    """Per-region SQL twin of classify_group_diff over the star schema:
    ways = orders (members = their lineitems' derived points), relations
    = customers (members = their orders as group refs). Existential
    in_poly/in_buffer via bool_or of the generated raycast / buffer-
    distance predicates — the same flattened semantics the relation
    fixpoint converges to."""
    from ..functions.geometry import BUFFER_DECIMICRO

    lat = C.sql_derived_lat("l_partkey")
    lon = C.sql_derived_lon("l_partkey")
    tiers = []
    for mp in fixture_regions():
        inp = sql_raycast(mp, lon, lat)
        buf = f"({inp} OR {sql_buffer_dist(mp, lon, lat, BUFFER_DECIMICRO)})"
        tiers.append(f"""
    SELECT 'w' || l_orderkey AS group_id, 'way' AS kind,
           '{mp.region_id}' AS region_id,
           CASE WHEN in_poly THEN action ELSE 'delete' END AS out_action
    FROM (
      SELECT l_orderkey,
             CASE WHEN l_orderkey % 7 = 0 THEN 'delete' ELSE 'modify' END AS action,
             bool_or({inp}) AS in_poly, bool_or({buf}) AS in_buffer
      FROM lineitem GROUP BY l_orderkey
    ) WHERE in_buffer""")
        tiers.append(f"""
    SELECT 'r' || o_custkey AS group_id, 'relation' AS kind,
           '{mp.region_id}' AS region_id,
           CASE WHEN in_poly THEN action ELSE 'delete' END AS out_action
    FROM (
      SELECT o.o_custkey,
             CASE WHEN o.o_custkey % 4 = 0 THEN 'delete' ELSE 'modify' END AS action,
             bool_or({inp}) AS in_poly, bool_or({buf}) AS in_buffer
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey
    ) WHERE in_buffer""")
    return "\nUNION ALL\n".join(tiers) + "\nORDER BY group_id, kind, region_id"


@register("group_diff_classify", _group_diff_oracle())
def group_diff_classify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6 for composite elements: the three-way keep / buffered-
    delete / drop classification of changed ways AND relations
    (reference update_way/update_relation,
    /root/reference/src/osmxml/filter.rs:237-299) through the REAL
    operator — member points resolved from the store, existential
    membership, relation flags via the group-edge fixpoint."""
    from ..operators.filter import classify_group_diff

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")

    base = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("image_id"),
        C.derived_lat(F.col("l_partkey")).alias("lat"),
        C.derived_lon(F.col("l_partkey")).alias("lon"),
    ).distinct()

    ways = li.groupBy(F.concat(F.lit("w"), F.col("l_orderkey")).alias("group_id")).agg(
        F.collect_list(
            F.struct(
                F.concat(F.lit("p"), F.col("l_partkey")).alias("ref"),
                F.lit("image").alias("type"),
                F.lit("").alias("role"),
            )
        ).alias("members")
    ).withColumn("kind", F.lit("way"))
    rels = o.groupBy(F.concat(F.lit("r"), F.col("o_custkey")).alias("group_id")).agg(
        F.collect_list(
            F.struct(
                F.concat(F.lit("w"), F.col("o_orderkey")).alias("ref"),
                F.lit("group").alias("type"),
                F.lit("").alias("role"),
            )
        ).alias("members")
    ).withColumn("kind", F.lit("relation"))
    groups = ways.unionByName(rels)

    changes = li.select(
        F.concat(F.lit("w"), F.col("l_orderkey")).alias("group_id"),
        F.when(F.col("l_orderkey") % 7 == 0, "delete").otherwise("modify").alias("action"),
    ).distinct().unionByName(
        o.select(
            F.concat(F.lit("r"), F.col("o_custkey")).alias("group_id"),
            F.when(F.col("o_custkey") % 4 == 0, "delete").otherwise("modify").alias("action"),
        ).distinct()
    )

    out = classify_group_diff(changes, groups, base, fixture_regions())
    return out.select("group_id", "kind", "region_id", "out_action").orderBy(
        "group_id", "kind", "region_id"
    )


@register(
    "merge_upsert",
    """
    WITH ch AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'delete'
                  WHEN doc_id % 5 = 0 THEN 'modify'
                  ELSE NULL END AS action
      FROM documents
    ),
    survivors AS (
      SELECT d.doc_id,
             CASE WHEN ch.action = 'modify' THEN 'rewritten ' || CAST(d.doc_id AS VARCHAR)
                  ELSE d.text END AS text
      FROM documents d LEFT JOIN ch ON d.doc_id = ch.doc_id
      WHERE ch.action IS NULL OR ch.action <> 'delete'
    )
    SELECT doc_id, text FROM survivors
    UNION ALL
    SELECT doc_id + 5000000, 'created ' || CAST(doc_id AS VARCHAR)
    FROM documents WHERE doc_id % 11 = 0
    ORDER BY doc_id
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K4: the engine's MERGE (upsert/delete/partial-update) against a
    relationally-expressed oracle; the change batch is synthesized
    deterministically from the base table."""
    from ..operators.merge import merge_changes

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mods = d.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 0)).select(
        F.col("doc_id"),
        F.lit("modify").alias("action"),
        F.monotonically_increasing_id().alias("seq"),
        F.concat(F.lit("rewritten "), F.col("doc_id").cast("string")).alias("new_text"),
    )
    dels = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id"),
        F.lit("delete").alias("action"),
        F.monotonically_increasing_id().alias("seq"),
        F.lit(None).cast("string").alias("new_text"),
    )
    crts = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.lit("create").alias("action"),
        F.monotonically_increasing_id().alias("seq"),
        F.concat(F.lit("created "), F.col("doc_id").cast("string")).alias("new_text"),
    )
    changes = mods.unionByName(dels).unionByName(crts)
    return merge_changes(d, changes, key="doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# sources: OsmChange, .poly trees, PBF (S2-S5, K1/K2)
# ---------------------------------------------------------------------------

@register(
    "osc_roundtrip",
    f"""
    SELECT * FROM (
      SELECT 'n' || event_id AS element_id, 'node' AS kind,
             {C.sql_derived_lat('event_id')} AS lat,
             {C.sql_derived_lon('event_id')} AS lon,
             CAST(0 AS BIGINT) AS n_members,
             CAST(event_id % 7 + 1 AS BIGINT) AS version,
             '2021-0' || (event_id % 9 + 1) || '-01T00:00:00Z' AS ts,
             CAST(event_id % 89 + 1 AS BIGINT) AS uid,
             'u"' || (event_id % 89 + 1) AS usr,
             CAST(event_id * 3 + 11 AS BIGINT) AS changeset,
             'cap=c' || event_id || ';cap=dup' AS tag_sig
      FROM events WHERE event_id < 500
      UNION ALL
      SELECT 'w' || l_orderkey AS element_id, 'way' AS kind,
             CAST(NULL AS BIGINT) AS lat, CAST(NULL AS BIGINT) AS lon,
             count(*) AS n_members,
             CAST(l_orderkey % 5 + 1 AS BIGINT) AS version,
             CAST(NULL AS VARCHAR) AS ts,
             CAST(NULL AS BIGINT) AS uid, CAST(NULL AS VARCHAR) AS usr,
             CAST(NULL AS BIGINT) AS changeset,
             CAST(NULL AS VARCHAR) AS tag_sig
      FROM lineitem WHERE l_orderkey < 400
      GROUP BY l_orderkey
    ) ORDER BY element_id
    """,
)
def osc_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/K1/K2 through the gate: a deterministic three-kind diff is
    BUILT from the star schema (nodes = event footprints, ways = order
    line chains), WRITTEN with the action-grouped XML writer
    (format_osc_elements), PARSED back (parse_osc_elements), and the
    decoded frame is compared to the relational recomputation — every
    coordinate survives the degree-string round trip exactly (7-decimal
    format == decimicro), the five metadata attributes
    (version/timestamp/uid/user/changeset, osm.rs:16-35) survive
    verbatim (user includes a quote to exercise escaping), and an
    ORDERED, DUPLICATE-KEY tag list (osm.rs:50-53
    Vec<(String,String)>) survives with order and duplicates intact
    (checked via its order-sensitive signature string)."""
    from ..sources.osc import (
        ELEMENT_SCHEMA,
        format_osc_elements,
        parse_osc_elements,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 500)
        .select(
            "event_id",
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
        )
        .collect()
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 400)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("parts"))
        .collect()
    )
    rows = []
    seq = 0
    for r in ev:
        eid = int(r[0])
        rows.append(
            {
                "state": 1,
                "seq": seq,
                "action": "modify" if eid % 3 else "create",
                "kind": "node",
                "element_id": f"n{eid}",
                "new_lat": int(r[1]),
                "new_lon": int(r[2]),
                "version": eid % 7 + 1,
                "timestamp": f"2021-0{eid % 9 + 1}-01T00:00:00Z",
                "uid": eid % 89 + 1,
                "user": f'u"{eid % 89 + 1}',
                "changeset": eid * 3 + 11,
                "tags": [
                    {"k": "cap", "v": f"c{eid}"},
                    {"k": "cap", "v": "dup"},
                ],
                "members": None,
                "bbox": None,
            }
        )
        seq += 1
    for r in li:
        rows.append(
            {
                "state": 1,
                "seq": seq,
                "action": "modify",
                "kind": "way",
                "element_id": f"w{r[0]}",
                "new_lat": None,
                "new_lon": None,
                "version": int(r[0]) % 5 + 1,
                "timestamp": None,
                "uid": None,
                "user": None,
                "changeset": None,
                "tags": None,
                "members": [
                    {"ref": f"p{p}", "type": "node", "role": ""} for p in r[1]
                ],
                "bbox": None,
            }
        )
        seq += 1
    xml = format_osc_elements(rows)
    parsed = parse_osc_elements(xml.encode(), state=1)
    # Build straight from the list of dicts: going through pandas coerces
    # the int-or-None new_lat/new_lon columns to float64, which the
    # DRIVER's bare (non-Arrow) session rejects for LongType.  Gate
    # queries must not depend on session.py conf.
    back = spark.createDataFrame(parsed, schema=ELEMENT_SCHEMA)
    return back.select(
        "element_id",
        "kind",
        F.col("new_lat").alias("lat"),
        F.col("new_lon").alias("lon"),
        F.coalesce(F.size("members"), F.lit(0)).cast("long").alias("n_members"),
        "version",
        F.col("timestamp").alias("ts"),
        "uid",
        F.col("user").alias("usr"),
        "changeset",
        F.array_join(
            F.transform("tags", lambda t: F.concat(t["k"], F.lit("="), t["v"])),
            ";",
        ).alias("tag_sig"),
    ).orderBy("element_id")


#: per-sf_dir memo of the generated PBF fixture path
_PBF_CACHE: dict = {}


@register(
    "poly_dir_scan",
    """
    SELECT * FROM (
      SELECT 'reg' || r_regionkey AS region_id,
             CAST(NULL AS VARCHAR) AS parent_id,
             CAST(CASE WHEN r_regionkey % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
               AS n_rings,
             CAST(CASE WHEN r_regionkey % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_holes,
             CAST(CASE WHEN r_regionkey % 2 = 0 THEN 8 ELSE 4 END AS BIGINT)
               AS n_vertices,
             CAST(200000000 * r_regionkey - 400000000
                  - (r_regionkey + 1) * 1000000 AS BIGINT) AS min_lon,
             CAST(200000000 * r_regionkey - 400000000
                  + (r_regionkey + 1) * 1000000 AS BIGINT) AS max_lon,
             CAST(100000000 * r_regionkey - 200000000
                  - (r_regionkey + 1) * 1000000 AS BIGINT) AS min_lat,
             CAST(100000000 * r_regionkey - 200000000
                  + (r_regionkey + 1) * 1000000 AS BIGINT) AS max_lat
      FROM region
      UNION ALL
      SELECT 'reg' || n_regionkey || '/nat' || n_nationkey,
             'reg' || n_regionkey,
             CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(4 AS BIGINT),
             CAST(200000000 * n_regionkey - 400000000
                  + (n_nationkey + 1) * 100000 - 50000 AS BIGINT),
             CAST(200000000 * n_regionkey - 400000000
                  + (n_nationkey + 1) * 100000 + 50000 AS BIGINT),
             CAST(100000000 * n_regionkey - 200000000
                  + (n_nationkey + 1) * 100000 - 50000 AS BIGINT),
             CAST(100000000 * n_regionkey - 200000000
                  + (n_nationkey + 1) * 100000 + 50000 AS BIGINT)
      FROM nation
    ) ORDER BY region_id
    """,
)
def poly_dir_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/F7 through the gate: a deterministic `.poly` hierarchy
    (regions as parents with hole rings on even keys, nations as
    children — the reference's dir/x.poly pairing,
    /root/reference/src/diffs.rs:195-260) is WRITTEN as literal Osmosis
    polygon text from the star schema, SCANNED back with
    regions_from_dir/parse_poly (7-decimal degree strings -> decimicro
    ints, '!'-prefixed hole headers, /root/reference/src/osmgeom.rs:15-62),
    and the parsed facts (ring/hole/vertex counts, exact coordinate
    extremes) are compared to the relational recomputation."""
    import os
    import tempfile

    from ..sources.poly import regions_from_dir

    regions = (
        _t(spark, sf_dir, "region").select("r_regionkey").orderBy("r_regionkey")
        .collect()
    )
    nations = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )

    def square(clon: int, clat: int, d: int) -> list[tuple[int, int]]:
        return [
            (clon - d, clat - d),
            (clon + d, clat - d),
            (clon + d, clat + d),
            (clon - d, clat + d),
        ]

    def ring_lines(name: str, coords: list[tuple[int, int]]) -> list[str]:
        out = [name]
        out += [f"   {lon / 1e7:.7f}   {lat / 1e7:.7f}" for lon, lat in coords]
        out.append("END")
        return out

    import hashlib

    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), f"graft_poly_{digest}")
    if not os.path.isdir(root):
        tmp_root = root + ".tmp"
        for rr in regions:
            k = int(rr[0])
            clon, clat = 200_000_000 * k - 400_000_000, 100_000_000 * k - 200_000_000
            d = (k + 1) * 1_000_000
            lines = [f"reg{k}"]
            lines += ring_lines("1", square(clon, clat, d))
            if k % 2 == 0:  # hole ring on even keys
                lines += ring_lines("!2", square(clon, clat, d // 2))
            lines.append("END")
            os.makedirs(tmp_root, exist_ok=True)
            with open(os.path.join(tmp_root, f"reg{k}.poly"), "w") as f:
                f.write("\n".join(lines) + "\n")
        for nr in nations:
            nk, rk = int(nr[0]), int(nr[1])
            clon = 200_000_000 * rk - 400_000_000 + (nk + 1) * 100_000
            clat = 100_000_000 * rk - 200_000_000 + (nk + 1) * 100_000
            lines = [f"nat{nk}"]
            lines += ring_lines("1", square(clon, clat, 50_000))
            lines.append("END")
            d = os.path.join(tmp_root, f"reg{rk}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"nat{nk}.poly"), "w") as f:
                f.write("\n".join(lines) + "\n")
        os.replace(tmp_root, root)

    rows = []
    for mp in regions_from_dir(root):
        all_coords = [c for r in mp.rings for c in r.coords]
        rows.append(
            {
                "region_id": mp.region_id,
                "parent_id": mp.parent_id,
                "n_rings": len(mp.rings),
                "n_holes": sum(1 for r in mp.rings if r.hole),
                "n_vertices": len(all_coords),
                "min_lon": min(int(c[0]) for c in all_coords),
                "max_lon": max(int(c[0]) for c in all_coords),
                "min_lat": min(int(c[1]) for c in all_coords),
                "max_lat": max(int(c[1]) for c in all_coords),
            }
        )
    schema = (
        "region_id string, parent_id string, n_rings long, n_holes long, "
        "n_vertices long, min_lon long, max_lon long, min_lat long, max_lat long"
    )
    return spark.createDataFrame(rows, schema=schema).orderBy("region_id")


@register(
    "pbf_scan",
    f"""
    SELECT event_id AS element_id,
           {C.sql_derived_lat('event_id')} AS lat,
           {C.sql_derived_lon('event_id')} AS lon
    FROM events WHERE event_id < 20000
    ORDER BY element_id
    """,
)
def pbf_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: PBF bulk import (/root/reference/src/osmpbf.rs) — a
    deterministic .osm.pbf is built from the events footprints with the
    fixture writer (delta+zigzag varints, zlib blobs), then scanned
    DISTRIBUTED through the blob-index + mapInPandas reader; the oracle
    recomputes the same footprints relationally, so every decoded
    coordinate is checked bit-exactly."""
    import os
    import tempfile

    from ..sources.pbf import read_pbf_elements, write_pbf

    path = _PBF_CACHE.get(sf_dir)
    if path is None or not os.path.exists(path):
        ev = (
            _t(spark, sf_dir, "events")
            .filter(F.col("event_id") < 20000)
            .select(
                "event_id",
                C.derived_lat(F.col("event_id")).alias("lat"),
                C.derived_lon(F.col("event_id")).alias("lon"),
            )
            .orderBy("event_id")
            .collect()
        )
        nodes = [(int(r[0]), int(r[1]), int(r[2])) for r in ev]
        # hashlib, not hash(): PYTHONHASHSEED randomizes hash() per
        # process, so the cross-run file cache would almost never hit.
        # NOTE: executors open this path directly — assumes a shared
        # filesystem (true for local / local-cluster gate runs).
        import hashlib

        digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:16]
        path = os.path.join(tempfile.gettempdir(), f"graft_pbf_{digest}.osm.pbf")
        write_pbf(path, nodes)
        _PBF_CACHE[sf_dir] = path
    el = read_pbf_elements(spark, path)
    return (
        el.filter(F.col("kind") == "node")
        .select("element_id", "lat", "lon")
        .orderBy("element_id")
    )


# ---------------------------------------------------------------------------
# member closures: relation_full and group bboxes (S10, A3)
# ---------------------------------------------------------------------------

def _closure_fixture_pts() -> tuple:
    """Shared fixture literals for the S9/S10 closure oracles: the same
    deterministic (image_id, lat, lon) set group_bbox uses."""
    from ..datagen.synth import gen_groups, gen_images

    images = gen_images(300, seed=42)
    lat = (images.phash // C.PHASH_LON_BASE) - C.LAT_OFFSET
    lon = (images.phash % C.PHASH_LON_BASE) - C.LON_OFFSET
    pts = ",\n      ".join(
        f"('{i}', {la}, {lo})" for i, la, lo in zip(images.image_id, lat, lon)
    )
    return images, gen_groups(images), pts


def _closure_fixture_edges(groups_pdf) -> str:
    """The fixture groups' member lists as (group_id, kind, ref,
    ref_type) VALUES rows for the closure oracles."""
    return ",\n      ".join(
        f"('{g.group_id}', '{g.kind}', '{m['ref']}', '{m['type']}')"
        for g in groups_pdf.itertuples()
        for m in g.members
    )


def _relation_closure_oracle() -> str:
    """DuckDB twin of S10 resolve_relation_members: min-depth transitive
    image closure via a recursive CTE (depth in the tuple keeps the
    2-cycle finite under UNION dedup; min(depth) == the BFS first-visit
    depth member_closure assigns, because the shortest path IS the BFS
    level). The depth bound is the number of distinct groups: a
    shortest path visits each group at most once, so it is never cut."""
    _, groups_pdf, pts = _closure_fixture_pts()
    max_depth = groups_pdf["group_id"].nunique()
    edges = _closure_fixture_edges(groups_pdf)
    return f"""
    WITH RECURSIVE
    pts(ref, lat, lon) AS (VALUES
      {pts}
    ),
    edges(group_id, kind, ref, ref_type) AS (VALUES
      {edges}
    ),
    gr(root, node, depth) AS (
      SELECT group_id, ref, 1 FROM edges
      WHERE kind = 'relation' AND ref_type = 'group'
      UNION
      SELECT gr.root, e.ref, gr.depth + 1
      FROM gr JOIN edges e ON e.group_id = gr.node AND e.ref_type = 'group'
      WHERE gr.depth < {max_depth}
    ),
    imgs AS (
      SELECT group_id AS root, ref AS img, 1 AS depth FROM edges
      WHERE kind = 'relation' AND ref_type = 'image'
      UNION ALL
      SELECT gr.root, e.ref, gr.depth + 1
      FROM gr JOIN edges e ON e.group_id = gr.node AND e.ref_type = 'image'
    )
    SELECT root AS group_id, img AS member_id, CAST(min(depth) AS INTEGER) AS depth
    FROM imgs JOIN pts p ON p.ref = imgs.img
    GROUP BY root, img
    ORDER BY group_id, member_id
    """


@register("relation_closure", _relation_closure_oracle())
def relation_closure_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: relation_full recursive closure
    (/root/reference/src/osm.rs:219-246) through the real operator —
    unbounded depth, cycle-safe (the fixture contains the 2-cycle pair
    and a missing ref); depth = BFS first-visit level."""
    from ..datagen.synth import gen_groups, gen_images
    from ..operators.resolve import resolve_relation_members

    images = gen_images(300, seed=42)
    base = spark.createDataFrame(images[["image_id", "phash"]]).select(
        "image_id",
        C.unpack_lat(F.col("phash")).alias("lat"),
        C.unpack_lon(F.col("phash")).alias("lon"),
    )
    groups = spark.createDataFrame(gen_groups(images))
    out = resolve_relation_members(groups, base)
    return out.select(
        "group_id", "member_id", F.col("depth").cast("int").alias("depth")
    ).orderBy("group_id", "member_id")


def _group_bbox_oracle() -> str:
    """DuckDB twin of A3 group_bboxes: a recursive CTE computes the
    transitive image-closure of every group (UNION dedup terminates the
    2-cycle), then min/max over reachable points — the same
    decomposition group_bboxes runs (member closure ⋈ point bboxes ->
    min/max), valid because bbox-union composes. Fixture literals are emitted
    from the same deterministic generator the Spark query uses."""
    _, groups_pdf, pts = _closure_fixture_pts()
    edges = _closure_fixture_edges(groups_pdf)
    return f"""
    WITH RECURSIVE
    pts(ref, lat, lon) AS (VALUES
      {pts}
    ),
    edges(group_id, kind, ref, ref_type) AS (VALUES
      {edges}
    ),
    reach(group_id, img) AS (
      SELECT group_id, ref FROM edges WHERE ref_type = 'image'
      UNION
      SELECT e.group_id, r.img
      FROM edges e JOIN reach r ON e.ref_type = 'group' AND e.ref = r.group_id
    ),
    gk AS (SELECT DISTINCT group_id, kind FROM edges)
    SELECT r.group_id, gk.kind,
           min(p.lat) AS minlat, max(p.lat) AS maxlat,
           min(p.lon) AS minlon, max(p.lon) AS maxlon
    FROM reach r
    JOIN pts p ON p.ref = r.img
    JOIN gk ON gk.group_id = r.group_id
    GROUP BY r.group_id, gk.kind
    ORDER BY r.group_id
    """


@register("group_bbox_fixpoint", _group_bbox_oracle())
def group_bbox_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: recursive relation-bbox resolution to fixpoint (cycle-safe).
    Groups synthesized deterministically; the point set comes from the
    events footprints. Oracle = recursive-CTE closure over the same
    fixture (/root/reference/src/osmxml/bbox.rs:91-127 semantics)."""
    from ..datagen.synth import gen_groups, gen_images
    from ..operators.bbox import group_bboxes, point_bboxes

    images = gen_images(300, seed=42)
    base = spark.createDataFrame(images[["image_id", "phash"]]).select(
        "image_id",
        C.unpack_lat(F.col("phash")).alias("lat"),
        C.unpack_lon(F.col("phash")).alias("lon"),
    )
    changes = base.select(
        "image_id",
        F.lit("modify").alias("action"),
        F.lit(0).alias("seq"),
        F.col("lat").alias("new_lat"),
        F.col("lon").alias("new_lon"),
    )
    groups = spark.createDataFrame(gen_groups(images))
    pb = point_bboxes(base, changes)
    return group_bboxes(groups, pb).orderBy("group_id")
