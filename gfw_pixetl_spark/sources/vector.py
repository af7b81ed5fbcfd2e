"""PostGIS vector source: pushdown SQL generation (S6/F4).

Spark's JDBC source pushes comparison predicates but NOT spatial
functions, so — exactly like the reference
(``gfw_pixetl/tiles/vector_src_tile.py:122-156``) — we generate the
PostGIS SQL ourselves, in the shape a JDBC reader takes as a subquery
(``dbtable=(...) t``). The three generated shapes mirror the reference:

* existence probe (F4): ``SELECT 1 ... WHERE ST_Intersects(...) LIMIT 1``
  (``vector_src_tile.py:87-114``)
* per-tile fetch: ``SELECT {calc} AS {field}, <clip> AS geom ...
  ORDER BY {field} asc|desc`` (``vector_src_tile.py:122-156``)
* GeometryCollection cleanup: ``st_collectionextract(..., 3)`` keeps
  polygons only (``vector_src_tile.py:57-64``)

Validation layers: SQL generation is unit-tested; the generated text
executes VERBATIM against DuckDB + an ST_* polyfill
(``pg_polyfill.py``, ``tests/test_pushdown_exec.py``) AND against a
live PostgreSQL 15 server with PL/pgSQL ST_* functions
(``pg_live.py``, ``tests/test_pg_live.py`` — real grammar, quoting,
type mapping, IEEE-exact clip parity). The Spark-side scan is the
Python DataSource in ``pg_datasource.py``; a JDBC reader is
environment-gated (no driver jar).
"""

from __future__ import annotations

from ..grids import BoundingBox

GEOMETRY_COLUMN = "geom"


def envelope_sql(bounds: BoundingBox, srid: int = 4326) -> str:
    return (
        f"ST_MakeEnvelope({bounds.left}, {bounds.bottom}, "
        f"{bounds.right}, {bounds.top}, {srid})"
    )


def intersect_filter_sql(bounds: BoundingBox) -> str:
    """F4 spatial predicate, pushed verbatim into PostGIS."""
    return f"ST_Intersects({GEOMETRY_COLUMN}, {envelope_sql(bounds)})"


def intersection_geom_sql(bounds: BoundingBox) -> str:
    """Clip to the tile envelope; GeometryCollection fallout reduced to
    polygons (st_collectionextract type 3)."""
    inter = f"ST_Intersection({GEOMETRY_COLUMN}, {envelope_sql(bounds)})"
    return (
        f"CASE WHEN ST_GeometryType({inter}) = 'ST_GeometryCollection' "
        f"THEN ST_CollectionExtract({inter}, 3) ELSE {inter} END"
    )


def exists_probe_sql(schema: str, table: str, bounds: BoundingBox) -> str:
    """Tile-has-features probe; LIMIT 1 makes PostGIS stop at first hit."""
    return (
        f"SELECT 1 FROM {schema}.{table} "
        f"WHERE {intersect_filter_sql(bounds)} LIMIT 1"
    )


def fetch_tile_sql(
    schema: str,
    table: str,
    bounds: BoundingBox,
    field: str,
    calc: str | None = None,
    order: str | None = None,
) -> str:
    """Per-tile feature fetch with the calc projection and paint order.

    ``calc`` is arbitrary PostGIS SQL computing the burn value (C2);
    defaults to the raw field. ORDER BY drives last-wins rasterization.
    """
    value_expr = calc or field
    order_clause = ""
    if order in ("asc", "desc"):
        order_clause = f" ORDER BY {field} {order}"
    return (
        f"SELECT {value_expr} AS {field}, "
        f"{intersection_geom_sql(bounds)} AS {GEOMETRY_COLUMN} "
        f"FROM {schema}.{table} "
        f"WHERE {intersect_filter_sql(bounds)}{order_clause}"
    )
