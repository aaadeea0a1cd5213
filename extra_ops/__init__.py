"""Operators outside the engine's job, kept with their unit tests.

Text, dedup, similarity, sketch, graph, relational, raster, kNN,
clipping, hulls and the other spatial extras, the streaming helpers
(``incremental``) and way geometry over resolved chains
(``way_geometry``). They build on the engine package
(``osm_replication_rust_spark``) for coordinates, geometry and closure
resolution; nothing in the engine, its CLI or the query catalog imports
them, and ``make_pyfiles`` does not ship them.
"""
