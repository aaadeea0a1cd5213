"""GeoJSON (RFC 7946) interop for region multipolygons — the exchange
format every GIS tool downstream of the reference speaks (QGIS,
geopandas, tippecanoe, PostGIS).  The reference's region format is the
``.poly`` file (sources/poly.py); this module round-trips the same
``MultiPolygon`` model through GeoJSON so extracts and region trees can
be exchanged without a converter.

Exactness contract: the engine's coordinates are decimicro int64
(1e-7 degree).  Serialization renders each coordinate as an EXACT
7-fractional-digit decimal string (sign/divmod arithmetic — never
float formatting, whose shortest-round-trip digits vary by magnitude),
and parsing converts decimal text straight to decimicro ints (string
math — never a float intermediate, so 1e-7 precision never aliases).
``parse(serialize(mp)) == mp`` exactly, ring for ring, point for point.

Ring-role convention (RFC 7946 §3.1.6/§3.1.7): within each Polygon the
first ring is the exterior, subsequent rings are holes — exactly the
``.poly`` section model (sources/poly.py ``!``-prefixed hole
sections), so the two formats convert losslessly in both directions.
Winding is normalized on WRITE (exterior CCW, holes CW by signed
shoelace — the RFC's SHOULD) and ignored on READ (ring role comes from
position, matching the reference's parser, which also ignores
winding).

Scale note: regions are the engine's broadcast DIMENSION side (a few
thousand multipolygons, each < _MAX_EXTENT wide) — parsing on the
driver is the honest design, same as poly_dir_scan; the fact side
never flows through here.
"""

from __future__ import annotations

import json

import numpy as np

from ..functions.geometry import MultiPolygon, Ring

#: decimicro per degree
_SCALE = 10_000_000


def _coord_str(v: int) -> str:
    """Decimicro int -> exact 7-digit decimal string ('-0.0000005')."""
    sign = "-" if v < 0 else ""
    a = abs(int(v))
    return f"{sign}{a // _SCALE}.{a % _SCALE:07d}"


def _parse_coord(x) -> int:
    """JSON coordinate -> decimicro int.

    Strings parse by exact string math (no float intermediate).
    Numbers (json.loads yields floats — including for OUR OWN exact
    decimals) round to the NEAREST decimicro: a double within half-ulp
    of a 7-decimal value is < 1e-13 degrees off at coordinate
    magnitudes, so nearest-rounding recovers the original int exactly;
    a genuinely finer foreign coordinate snaps to the engine grid."""
    if isinstance(x, str):
        s = x.strip()
        neg = s.startswith("-")
        if neg or s.startswith("+"):
            s = s[1:]
        whole, _, frac = s.partition(".")
        if len(frac) > 7 and set(frac[7:]) != {"0"}:
            raise ValueError(f"coordinate {x} finer than 1e-7 degree")
        frac = (frac + "0000000")[:7]
        v = int(whole or "0") * _SCALE + int(frac or "0")
        return -v if neg else v
    from fractions import Fraction

    f = Fraction(x) * _SCALE  # exact binary value of the double
    # round half away from zero (ties cannot occur for in-tolerance
    # doubles; the rule only matters for foreign sub-grid coords)
    num, den = f.numerator, f.denominator
    if num >= 0:
        return (2 * num + den) // (2 * den)
    return -((-2 * num + den) // (2 * den))


#: sentinel wrapping exact-decimal coordinate strings through
#: json.dumps; stripped afterwards so they land as JSON numbers (a
#: plain quoted-decimal regex could collide with a property value)
_NUM = "\x00num:"


def _ring_coords_json(r: Ring, reverse: bool) -> list[list[str]]:
    c = r.closed()
    if reverse:
        c = c[::-1]
    return [
        [_NUM + _coord_str(int(x)), _NUM + _coord_str(int(y))] for x, y in c
    ]


def _signed_area2(c: np.ndarray) -> int:
    x = c[:, 0].astype(object)
    y = c[:, 1].astype(object)
    return int(
        sum(x[i] * y[i + 1] - x[i + 1] * y[i] for i in range(len(c) - 1))
    )


def multipolygon_to_geojson(mp: MultiPolygon, indent: int | None = None) -> str:
    """Serialize a region to a GeoJSON Feature (MultiPolygon geometry).

    Exterior rings come first in each polygon element per RFC 7946;
    winding is normalized (exterior CCW, holes CW).  Hole rings are
    attached to the polygon element of the exterior that precedes them
    in ``mp.rings`` (the ``.poly`` section order)."""
    polys: list[list[list[list[str]]]] = []
    for r in mp.rings:
        a2 = _signed_area2(r.closed())
        if not r.hole:
            # exterior: want CCW (positive shoelace)
            polys.append([_ring_coords_json(r, reverse=a2 < 0)])
        else:
            if not polys:
                raise ValueError(
                    f"region {mp.region_id}: hole ring before any exterior"
                )
            # hole: want CW (negative shoelace)
            polys[-1].append(_ring_coords_json(r, reverse=a2 > 0))
    feature = {
        "type": "Feature",
        "properties": {
            "region_id": mp.region_id,
            **({"parent_id": mp.parent_id} if mp.parent_id else {}),
        },
        "geometry": {"type": "MultiPolygon", "coordinates": polys},
    }
    txt = json.dumps(feature, indent=indent)
    # the sentinel-wrapped coordinate strings become JSON numbers with
    # EXACT decimal digits (json.dumps escapes \x00 as \u0000)
    import re

    return re.sub(r'"\\u0000num:(-?\d+\.\d{7})"', r"\1", txt)


def feature_collection(mps: list[MultiPolygon], indent: int | None = None) -> str:
    """Serialize regions to a GeoJSON FeatureCollection."""
    feats = [multipolygon_to_geojson(m, indent=None) for m in mps]
    body = ",".join(feats)
    return f'{{"type": "FeatureCollection", "features": [{body}]}}'


def _geom_to_rings(geom: dict) -> list[Ring]:
    t = geom.get("type")
    if t == "Polygon":
        polys = [geom["coordinates"]]
    elif t == "MultiPolygon":
        polys = geom["coordinates"]
    else:
        raise ValueError(f"unsupported GeoJSON geometry type {t!r}")
    rings: list[Ring] = []
    for poly in polys:
        for i, ring in enumerate(poly):
            pts = [( _parse_coord(p[0]), _parse_coord(p[1])) for p in ring]
            if len(pts) >= 2 and pts[0] == pts[-1]:
                pts = pts[:-1]  # the model closes implicitly
            rings.append(
                Ring(np.array(pts, dtype=np.int64).reshape(-1, 2), hole=i > 0)
            )
    return rings


def parse_geojson(text: str, default_id: str = "geojson") -> list[MultiPolygon]:
    """Parse a GeoJSON document into region MultiPolygons.

    Accepts a Feature, a FeatureCollection, or a bare
    Polygon/MultiPolygon geometry.  ``region_id`` / ``parent_id`` come
    from feature properties when present."""
    doc = json.loads(text)
    t = doc.get("type")
    if t == "FeatureCollection":
        out = []
        for i, f in enumerate(doc.get("features", [])):
            props = f.get("properties") or {}
            out.append(
                MultiPolygon(
                    region_id=str(props.get("region_id", f"{default_id}_{i}")),
                    rings=_geom_to_rings(f["geometry"]),
                    parent_id=props.get("parent_id"),
                )
            )
        return out
    if t == "Feature":
        props = doc.get("properties") or {}
        return [
            MultiPolygon(
                region_id=str(props.get("region_id", default_id)),
                rings=_geom_to_rings(doc["geometry"]),
                parent_id=props.get("parent_id"),
            )
        ]
    return [MultiPolygon(region_id=default_id, rings=_geom_to_rings(doc))]
