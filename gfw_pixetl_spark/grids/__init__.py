"""Grid catalog: the fixed output-space partitioning schemes.

Pure-Python re-expression of the reference grid semantics
(``gfw_pixetl/grids/grid.py:14-57``, ``grids/lat_lng_grid.py:14-221``,
``grids/wm_grid.py:14-118``, catalog ``grids/grid_factory.py:14-26``) with
no GDAL/pyproj/shapely dependency — tile-id and bounds math is exact
closed-form arithmetic, usable both driver-side and inside Spark columns.

A grid is the engine's partitioning spec: ``tile_id`` is the shuffle and
sink key; blocks are the physical chunk unit (window planning, parquet
row-group analog). All math must be deterministic and bit-stable because
tiles produced on different executors must align exactly
(SURVEY §2.3 C5 / §7.4-2).
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import math
from dataclasses import dataclass
from typing import Iterator

# Spherical-mercator constants (EPSG:3857): radius and the latitude where
# the projection becomes square (atan(sinh(pi))).
WEB_MERCATOR_RADIUS = 6378137.0
WEB_MERCATOR_LAT_MAX = 85.05112878


@dataclass(frozen=True)
class BoundingBox:
    left: float
    bottom: float
    right: float
    top: float

    def intersects(self, other: "BoundingBox") -> bool:
        """Strict interior overlap — intersects and does NOT merely touch
        (the reference's ``intersects and not touches`` predicate,
        ``gfw_pixetl/tiles/raster_src_tile.py:155-161``)."""
        return (
            self.left < other.right
            and self.right > other.left
            and self.bottom < other.top
            and self.top > other.bottom
        )

    def intersection(self, other: "BoundingBox") -> "BoundingBox | None":
        left = max(self.left, other.left)
        right = min(self.right, other.right)
        bottom = max(self.bottom, other.bottom)
        top = min(self.top, other.top)
        if left >= right or bottom >= top:
            return None
        return BoundingBox(left, bottom, right, top)


def mercator_xy(lng: float, lat: float) -> tuple[float, float]:
    """WGS84 lon/lat -> EPSG:3857 meters (closed-form spherical mercator)."""
    x = WEB_MERCATOR_RADIUS * math.radians(lng)
    y = WEB_MERCATOR_RADIUS * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    return x, y


class Grid:
    """Base grid: equal square tiles, each divided into square blocks.

    Mirrors the contract of ``gfw_pixetl/grids/grid.py:14-57``: ``cols`` /
    ``rows`` are pixels per tile, block size is a multiple of 16 between
    128 and 512 px.
    """

    name: str
    crs: str
    cols: int
    rows: int
    xres: float
    yres: float
    blockxsize: int
    blockysize: int
    bounds: BoundingBox

    def get_tile_ids(self) -> set[str]:
        raise NotImplementedError

    def iter_tiles(self) -> Iterator[tuple[str, BoundingBox]]:
        for tid in sorted(self.get_tile_ids()):
            yield tid, self.get_tile_bounds(tid)

    def get_tile_bounds(self, tile_id: str) -> BoundingBox:
        raise NotImplementedError

    def overlapping_tile_ids(self, footprint: BoundingBox) -> list[str]:
        """Ids of the tiles that strictly overlap ``footprint``
        (:meth:`BoundingBox.intersects` of the tile's
        :meth:`get_tile_bounds`), in ``(row, col)`` order from the top
        left. Each axis is two bisections over its ascending tile edges,
        so the cost is the number of ids returned plus four log-time
        searches, whatever the grid's size."""
        raise NotImplementedError


def _axis_span(edges, lo_key, hi_key, lo: float, hi: float) -> range:
    """Indices ``i`` of an axis whose open interval
    ``(lo_key(edges[i]), hi_key(edges[i]))`` overlaps ``(lo, hi)``:
    both keys ascend along ``edges``."""
    return range(bisect.bisect_right(edges, lo, key=hi_key),
                 bisect.bisect_left(edges, hi, key=lo_key))


class LatLngGrid(Grid):
    """Lat/lng grid; tile id = top-left corner, e.g. ``10N_010E``
    (``gfw_pixetl/grids/lat_lng_grid.py:14-221``).

    Grids whose tile width does not evenly divide 360/180 get a half-tile
    offset so tiles straddle the equator/meridian symmetrically
    (``lat_lng_grid.py:48-49``).
    """

    is_snapped_grid = True

    def __init__(self, width: int, cols: int, crs: str = "epsg:4326") -> None:
        if 360 % width:
            raise ValueError("Tiles must fully fit into 360 degree extent")
        if cols % 16:
            raise ValueError("Column number must be a multiple of 16")
        if width % 2 and ((360 / width) % 2 or (180 / width) % 2):
            raise ValueError("Uneven grid sizes cannot have an offset")
        self.width = width
        self.height = width
        self.lng_offset = int(width / 2) if (360 / width) % 2 else 0
        self.lat_offset = int(width / 2) if (180 / width) % 2 else 0
        self.cols = cols
        self.rows = cols
        self.crs = "EPSG:4326"
        self.name = f"{width}/{cols}"
        self.xres = width / cols
        self.yres = width / cols
        self.blockxsize = self.blockysize = self._block_size()
        self.bounds = BoundingBox(-180.0, -90.0, 180.0, 90.0)

    def _block_size(self) -> int:
        """Largest multiple of 16 in [128, 512] that evenly divides the
        tile (``lat_lng_grid.py:175-201``)."""
        best = None
        for x in range(1, 33):
            b = 16 * x
            if b > 512:
                break
            if b >= 128 and self.cols % b == 0:
                best = b
        if best is None:
            raise ValueError("Cannot create blocks between 128 and 512 pixels")
        return best

    def xy_to_tile_origin(self, x: float, y: float) -> tuple[int, int]:
        """Top-left corner of the tile containing (x, y)
        (``lat_lng_grid.py:56-75`` incl. the offset shift). The snap is
        separable: the longitude depends on x only, the latitude on y."""
        return self._origin_lng(x), self._origin_lat(y)

    def _origin_lng(self, x: float) -> int:
        lng = math.floor(x / self.width) * self.width
        lng = self._apply_lng_offset(lng, x)
        if not (-180 <= lng <= 180 - self.width):
            raise ValueError("Origin's Longitude is out of bounds")
        return lng

    def _origin_lat(self, y: float) -> int:
        lat = math.ceil(y / self.height) * self.height
        lat = self._apply_lat_offset(lat, y)
        if not (-90 + self.height <= lat <= 90):
            raise ValueError("Origin's Latitude is out of bounds")
        return lat

    def _apply_lng_offset(self, lng: int, x: float) -> int:
        offset = self.lng_offset
        if lng != 0 and offset:
            offset = offset * int(lng / abs(lng))
        lng -= offset
        if offset and x < lng:
            lng -= self.width
        elif offset and x > lng + self.width:
            lng += self.width
        return lng

    def _apply_lat_offset(self, lat: int, y: float) -> int:
        offset = self.lat_offset
        if lat != 0 and offset:
            offset = -(offset * int(lat / abs(lat)))
        lat += offset
        if offset and y > lat:
            lat += self.height
        elif offset and y < lat - self.height:
            lat -= self.height
        return lat

    def xy_to_tile_id(self, x: float, y: float) -> str:
        return self._format_tile_id(*self.xy_to_tile_origin(x, y))

    @staticmethod
    def _format_tile_id(lng: int, lat: int) -> str:
        ew = f"{lng:03d}E" if lng >= 0 else f"{-lng:03d}W"
        ns = f"{lat:02d}N" if lat >= 0 else f"{-lat:02d}S"
        return f"{ns}_{ew}"

    @staticmethod
    def tile_id_to_origin(tile_id: str) -> tuple[int, int]:
        _lat, _lng = tile_id.split("_")
        lat = int(_lat[:2]) * (-1 if _lat.endswith("S") else 1)
        lng = int(_lng[:3]) * (-1 if _lng.endswith("W") else 1)
        return lng, lat

    def get_tile_bounds(self, tile_id: str) -> BoundingBox:
        lng, lat = self.tile_id_to_origin(tile_id)
        return BoundingBox(
            left=float(lng), bottom=float(lat - self.height),
            right=float(lng + self.width), top=float(lat),
        )

    def _seed_lattice(self) -> tuple[range, range]:
        """Whole-degree seed corners (``lat_lng_grid.py:119-141``)."""
        lat_offset = self.lat_offset if 180 % self.height else 0
        lng_offset = self.lng_offset if 360 % self.width else 0
        return (range(-180 + lng_offset, 180 - lng_offset, self.width),
                range(-89 + lat_offset, 91 - lat_offset, self.height))

    def tile_origin_axes(self) -> tuple[list[int], list[int]]:
        """Ascending distinct tile-origin longitudes and latitudes. The
        origin snap is separable, so the tile set is exactly their cross
        product: ``get_tile_ids`` in at most 360 + 181 snaps."""

        def snap_axis(snap, points) -> list[int]:
            out = set()
            for p in points:
                with contextlib.suppress(ValueError):  # polar lattice rows
                    out.add(snap(p))
            return sorted(out)

        xs, ys = self._seed_lattice()
        return snap_axis(self._origin_lng, xs), snap_axis(self._origin_lat, ys)

    @functools.cached_property
    def _origin_axes(self) -> tuple[tuple[int, ...], tuple[int, ...]]:
        return tuple(tuple(axis) for axis in self.tile_origin_axes())

    def overlapping_tile_ids(self, footprint: BoundingBox) -> list[str]:
        lngs, lats = self._origin_axes
        w, h = self.width, self.height
        cols = _axis_span(lngs, lambda x: x, lambda x: x + w,
                          footprint.left, footprint.right)
        rows = _axis_span(lats, lambda y: y - h, lambda y: y,
                          footprint.bottom, footprint.top)
        return [self._format_tile_id(lngs[c], lats[r])
                for r in reversed(rows) for c in cols]

    def get_tile_ids(self) -> set[str]:
        """All tile ids (``lat_lng_grid.py:119-141``): seed lattice of
        whole-degree corners, mapped through the origin snap, dedup'd."""
        xs, ys = self._seed_lattice()
        ids = set()
        for x in xs:
            for y in ys:
                try:
                    ids.add(self.xy_to_tile_id(x, y))
                except ValueError:
                    # offset grids have polar lattice rows whose snapped
                    # origin falls outside ±90° — the reference asserts
                    # here (lat_lng_grid.py:72-73); we skip the partial
                    # polar tiles instead of failing the enumeration
                    continue
        return ids

    def snap_coordinates(self, lat: float, lng: float) -> tuple[float, float]:
        """Snap to the pixel lattice, top-left bias
        (``gfw_pixetl/grids/grid.py:71-97``)."""
        top = float(math.ceil(lat))
        left = float(math.floor(lng))
        while top - lat > self.yres:
            top -= self.yres
        while lng - left > self.xres:
            left += self.xres
        return top, left


class WebMercatorGrid(Grid):
    """EPSG:3857 zoom grid; tile id = ``{row:03d}R_{col:03d}C``
    (``gfw_pixetl/grids/wm_grid.py:14-118``). Block size fixed at 256 px;
    tiles cap at 65536^2 px (zoom grids below 8 collapse to one tile).
    """

    is_snapped_grid = False

    def __init__(self, zoom: int, crs: str = "epsg:3857") -> None:
        if not (0 <= zoom <= 22):
            raise ValueError(f"Zoom must be in [0, 22], got {zoom}")
        self.zoom = zoom
        self.nb_tiles = max(1, int(2**zoom / 256)) ** 2
        self.crs = "EPSG:3857"
        self.name = f"zoom_{zoom}"
        side = int(math.sqrt(self.nb_tiles))
        self.cols = int(2**zoom * 256 / side)
        self.rows = self.cols
        self.blockxsize = self.blockysize = 256
        left, top = mercator_xy(-180, WEB_MERCATOR_LAT_MAX)
        right, bottom = mercator_xy(180, -WEB_MERCATOR_LAT_MAX)
        self.bounds = BoundingBox(left, bottom, right, top)
        world = self.bounds.right - self.bounds.left
        self.xres = world / (256 * 2**zoom)
        self.yres = (self.bounds.top - self.bounds.bottom) / (256 * 2**zoom)

    def get_tile_ids(self) -> set[str]:
        side = int(math.sqrt(self.nb_tiles))
        return {
            f"{r:03d}R_{c:03d}C" for r in range(side) for c in range(side)
        }

    def overlapping_tile_ids(self, footprint: BoundingBox) -> list[str]:
        # the edge expressions of get_tile_bounds; rows are indexed from
        # the bottom here (row = side - 1 - i) so that both keys ascend
        side = int(math.sqrt(self.nb_tiles))
        b = self.bounds
        tile_w = (b.right - b.left) / side
        tile_h = (b.top - b.bottom) / side
        cols = _axis_span(range(side), lambda c: b.left + c * tile_w,
                          lambda c: b.left + (c + 1) * tile_w,
                          footprint.left, footprint.right)
        rows = _axis_span(range(side), lambda i: b.top - (side - i) * tile_h,
                          lambda i: b.top - (side - 1 - i) * tile_h,
                          footprint.bottom, footprint.top)
        return [f"{side - 1 - i:03d}R_{c:03d}C"
                for i in reversed(rows) for c in cols]

    def get_tile_bounds(self, tile_id: str) -> BoundingBox:
        side = int(math.sqrt(self.nb_tiles))
        _row, _col = tile_id.split("_")
        row, col = int(_row[:-1]), int(_col[:-1])
        tile_w = (self.bounds.right - self.bounds.left) / side
        tile_h = (self.bounds.top - self.bounds.bottom) / side
        # row 0 is the TOP row (origin at top-left, wm_grid.py:74-88)
        return BoundingBox(
            left=self.bounds.left + col * tile_w,
            bottom=self.bounds.top - (row + 1) * tile_h,
            right=self.bounds.left + (col + 1) * tile_w,
            top=self.bounds.top - row * tile_h,
        )


# Fixed catalog (``gfw_pixetl/grids/grid_factory.py:14-26``)
_CATALOG: dict[str, tuple] = {
    "1/4000": (LatLngGrid, (1, 4000)),
    "3/33600": (LatLngGrid, (3, 33600)),
    "10/40000": (LatLngGrid, (10, 40000)),
    "10/100000": (LatLngGrid, (10, 100000)),
    "8/32000": (LatLngGrid, (8, 32000)),
    "90/27008": (LatLngGrid, (90, 27008)),
    "90/9984": (LatLngGrid, (90, 9984)),
    "90/1008": (LatLngGrid, (90, 1008)),
}
for _zoom in range(0, 23):
    _CATALOG[f"zoom_{_zoom}"] = (WebMercatorGrid, (_zoom,))

GRID_NAMES = tuple(_CATALOG)


def grid_factory(grid_name: str) -> Grid:
    try:
        cls, args = _CATALOG[grid_name]
    except KeyError:
        raise ValueError(f"Unknown grid name: {grid_name}") from None
    return cls(*args)
