"""General warp: reproject + interpolating resample in pure NumPy (C4).

The reference delegates warping to rasterio/GDAL WarpedVRT
(``gfw_pixetl/tiles/raster_src_tile.py:141-186``, resampling kernels
``gfw_pixetl/resampling.py:9-25``). The aggregating kernels (average,
mode, ...) are already Spark aggregations (operators/resample.py); this
module supplies the *interpolating* kernels — nearest, bilinear, cubic,
lanczos, cubic_spline, gauss — and analytic coordinate math for EPSG:4326, EPSG:3857
(spherical Mercator) and all 120 WGS84 UTM zones (EPSG:326xx/327xx,
Karney-Krüger transverse-Mercator series, public formulas), so no
GDAL/proj is needed for the grid catalog this engine ships nor for
UTM-gridded sources. Any pair among those CRS composes through the
geographic hub; other CRS stay pyproj-gated.

Execution model: :class:`WarpReader` is a :class:`WindowReader` adapter —
it inverse-projects the DESTINATION window's pixel centers into the
source CRS, reads the minimal covering source window through the inner
reader, and convolves. It therefore composes with the unchanged
``RasterPipe``: the per-window kernel still holds one window at a time
regardless of tile size, and reprojection cost parallelizes with the
tiles (SURVEY §3.1 scale notes apply verbatim).

Nodata: masked source pixels get kernel weight 0 and the remaining
weights renormalize (GDAL's behavior for masked sources); a destination
pixel with zero total weight is masked.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..sources.raster import WindowReader

R_MAJOR = 6378137.0  # WGS84 spherical-Mercator radius


def latlng_to_mercator(lng: np.ndarray, lat: np.ndarray):
    x = np.radians(np.asarray(lng, dtype="float64")) * R_MAJOR
    y = R_MAJOR * np.log(np.tan(np.pi / 4 + np.radians(
        np.asarray(lat, dtype="float64")) / 2))
    return x, y


def mercator_to_latlng(x: np.ndarray, y: np.ndarray):
    lng = np.degrees(np.asarray(x, dtype="float64") / R_MAJOR)
    lat = np.degrees(
        2 * np.arctan(np.exp(np.asarray(y, dtype="float64") / R_MAJOR))
        - np.pi / 2
    )
    return lng, lat


def _kernel_bilinear(t: np.ndarray) -> np.ndarray:
    return np.maximum(0.0, 1.0 - np.abs(t))


def _kernel_cubic(t: np.ndarray, a: float = -0.5) -> np.ndarray:
    """Keys cubic convolution (a = -0.5, GDAL's default cubic)."""
    at = np.abs(t)
    w = np.where(
        at < 1,
        (a + 2) * at**3 - (a + 3) * at**2 + 1,
        np.where(at < 2, a * (at**3 - 5 * at**2 + 8 * at - 4), 0.0),
    )
    return w


def _kernel_lanczos(t: np.ndarray, a: int = 3) -> np.ndarray:
    at = np.abs(t)
    return np.where(at < a, np.sinc(t) * np.sinc(t / a), 0.0)


def _kernel_cubic_spline(t: np.ndarray) -> np.ndarray:
    """Cubic B-spline (GDAL ``cubicspline``): smoothing, non-interpolating.

    B3(t) = (4 - 6t² + 3|t|³)/6 for |t|<1, (2-|t|)³/6 for 1≤|t|<2.
    Weights are non-negative and sum to 1 on an integer lattice, so the
    result is a weighted average of the 4×4 neighborhood (no overshoot,
    unlike Keys cubic). Reference enum: gfw_pixetl/resampling.py:9-25.
    """
    at = np.abs(t)
    return np.where(
        at < 1,
        (4.0 - 6.0 * at**2 + 3.0 * at**3) / 6.0,
        np.where(at < 2, (2.0 - at) ** 3 / 6.0, 0.0),
    )


def _kernel_gauss(t: np.ndarray) -> np.ndarray:
    """Truncated Gaussian (GDAL ``gauss``): exp(-2t²) on |t|<2.

    Separable low-pass kernel; the sampler's den-normalization makes the
    truncated weights sum to 1, so flat fields are preserved exactly.
    """
    return np.where(np.abs(t) < 2, np.exp(-2.0 * t * t), 0.0)


# method -> (kernel fn, support radius in source pixels)
KERNELS = {
    "bilinear": (_kernel_bilinear, 1),
    "cubic": (_kernel_cubic, 2),
    "lanczos": (_kernel_lanczos, 3),
    "cubic_spline": (_kernel_cubic_spline, 2),
    "gauss": (_kernel_gauss, 2),
}
INTERPOLATING_METHODS = ("nearest", *KERNELS)


def sample_grid(
    src: np.ma.MaskedArray,
    fx: np.ndarray,
    fy: np.ndarray,
    method: str = "bilinear",
) -> np.ma.MaskedArray:
    """Sample a 2-D source grid at fractional pixel coords (fx, fy).

    ``fx``/``fy`` are arrays of destination-shaped fractional source
    indices (pixel-center convention: integer value = exactly on a source
    pixel center). Vectorized gather-accumulate over the kernel's
    support; out-of-window taps clamp to the edge (their weight still
    counts — the caller pads the window so real taps exist).
    """
    data = np.ma.getdata(src).astype("float64")
    invalid = np.ma.getmaskarray(src)
    h, w = data.shape
    if method == "nearest":
        ix = np.clip(np.rint(fx).astype("int64"), 0, w - 1)
        iy = np.clip(np.rint(fy).astype("int64"), 0, h - 1)
        return np.ma.MaskedArray(data[iy, ix], mask=invalid[iy, ix])
    kernel, radius = KERNELS[method]
    x0 = np.floor(fx).astype("int64")
    y0 = np.floor(fy).astype("int64")
    num = np.zeros(fx.shape, dtype="float64")
    den = np.zeros(fx.shape, dtype="float64")
    for dy in range(1 - radius, radius + 1):
        iy = np.clip(y0 + dy, 0, h - 1)
        wy = kernel(fy - (y0 + dy))
        for dx in range(1 - radius, radius + 1):
            ix = np.clip(x0 + dx, 0, w - 1)
            wgt = wy * kernel(fx - (x0 + dx))
            wgt = np.where(invalid[iy, ix], 0.0, wgt)
            num += wgt * np.where(invalid[iy, ix], 0.0, data[iy, ix])
            den += wgt
    out = np.divide(num, den, out=np.zeros_like(num), where=den != 0)
    return np.ma.MaskedArray(out, mask=(den == 0))


# --- WGS84 transverse Mercator (UTM zones), Karney-Krüger series ----------
# Public formulas: Krüger (1912) series as rearranged by Karney,
# "Transverse Mercator with an accuracy of a few nanometers" (J. Geod.
# 2011, arXiv:1002.1417) — 4th order in n (n^4 ~ 8e-12 for WGS84, i.e.
# sub-millimeter), vectorized over numpy arrays.

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_E2 = _WGS84_F * (2.0 - _WGS84_F)
_E = _E2 ** 0.5
_N = _WGS84_F / (2.0 - _WGS84_F)
# rectifying radius A and the forward (alpha) / inverse (beta) coefficients
_A_BAR = _WGS84_A / (1 + _N) * (1 + _N**2 / 4 + _N**4 / 64)
_ALPHA = (
    _N / 2 - 2 * _N**2 / 3 + 5 * _N**3 / 16 + 41 * _N**4 / 180,
    13 * _N**2 / 48 - 3 * _N**3 / 5 + 557 * _N**4 / 1440,
    61 * _N**3 / 240 - 103 * _N**4 / 140,
    49561 * _N**4 / 161280,
)
_BETA = (
    _N / 2 - 2 * _N**2 / 3 + 37 * _N**3 / 96 - _N**4 / 360,
    _N**2 / 48 + _N**3 / 15 - 437 * _N**4 / 1440,
    17 * _N**3 / 480 - 37 * _N**4 / 840,
    4397 * _N**4 / 161280,
)
_K0 = 0.9996
_FALSE_E = 500000.0
_FALSE_N_S = 10000000.0


def utm_zone_epsg(zone: int, north: bool) -> int:
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone {zone} out of range 1..60")
    return (32600 if north else 32700) + zone


def _utm_params(epsg: int) -> tuple[float, bool]:
    """(central meridian degrees, northern?) for EPSG:326xx/327xx."""
    if 32601 <= epsg <= 32660:
        zone, north = epsg - 32600, True
    elif 32701 <= epsg <= 32760:
        zone, north = epsg - 32700, False
    else:
        raise ValueError(f"EPSG:{epsg} is not a WGS84 UTM zone")
    return -183.0 + 6.0 * zone, north


def latlng_to_utm(lng, lat, epsg: int):
    """Forward TM: geographic -> UTM easting/northing (meters)."""
    lon0, north = _utm_params(epsg)
    phi = np.radians(np.asarray(lat, dtype="float64"))
    lam = np.radians(np.asarray(lng, dtype="float64") - lon0)
    # wrap into (-pi, pi] so zone-adjacent reads don't fold
    lam = (lam + np.pi) % (2 * np.pi) - np.pi
    tau = np.tan(phi)
    sigma = np.sinh(_E * np.arctanh(_E * tau / np.sqrt(1 + tau**2)))
    taup = tau * np.sqrt(1 + sigma**2) - sigma * np.sqrt(1 + tau**2)
    xi_p = np.arctan2(taup, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(taup**2 + np.cos(lam) ** 2))
    xi, eta = xi_p.copy(), eta_p.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xi += a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    x = _FALSE_E + _K0 * _A_BAR * eta
    y = _K0 * _A_BAR * xi + (0.0 if north else _FALSE_N_S)
    return x, y


def utm_to_latlng(x, y, epsg: int):
    """Inverse TM: UTM easting/northing -> geographic (degrees)."""
    lon0, north = _utm_params(epsg)
    eta = (np.asarray(x, dtype="float64") - _FALSE_E) / (_K0 * _A_BAR)
    xi = (np.asarray(y, dtype="float64")
          - (0.0 if north else _FALSE_N_S)) / (_K0 * _A_BAR)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    taup = np.sin(xi_p) / np.sqrt(np.sinh(eta_p) ** 2 + np.cos(xi_p) ** 2)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    # Newton-iterate conformal tau' back to geodetic tau (Karney eq. 19-21)
    tau = taup / np.sqrt(1 - _E2)
    for _ in range(5):
        sigma = np.sinh(_E * np.arctanh(_E * tau / np.sqrt(1 + tau**2)))
        taup_i = tau * np.sqrt(1 + sigma**2) - sigma * np.sqrt(1 + tau**2)
        dtau = ((taup - taup_i) * (1 + (1 - _E2) * tau**2)
                / ((1 - _E2) * np.sqrt((1 + taup_i**2) * (1 + tau**2))))
        tau = tau + dtau
        if np.all(np.abs(dtau) < 1e-14):
            break
    lat = np.degrees(np.arctan(tau))
    lng = np.degrees(lam) + lon0
    return lng, lat


# --- WGS84 polar stereographic (EPSG:3413/3031 variant B, UPS
# EPSG:32661/32761 variant A) ---------------------------------------------
# Public formulas: Snyder, "Map Projections — A Working Manual" (USGS
# Professional Paper 1395, 1987), pp. 160-162: ellipsoidal polar
# stereographic. Variant B is parameterized by a standard parallel
# (latitude of true scale): EPSG:3413 = NSIDC Sea Ice North (lat_ts
# 70N, lon0 -45), EPSG:3031 = Antarctic (lat_ts 71S, lon0 0), FE/FN 0.
# Variant A is parameterized by the scale at the pole: the Universal
# Polar Stereographic system (EPSG:32661 north / 32761 south) uses
# k0 = 0.994, lon0 = 0, false easting/northing 2,000,000 m. Both share
# rho = a * COEF * t; COEF = m_c/t_c (variant B, Snyder 21-34) or
# 2*k0 / sqrt((1+e)^(1+e) * (1-e)^(1-e)) (variant A, Snyder 21-33).

_POLAR_PARAMS = {
    # epsg: (lat_ts | None, lon0, north?, k0 | None, fe, fn)
    3413: (70.0, -45.0, True, None, 0.0, 0.0),
    3031: (-71.0, 0.0, False, None, 0.0, 0.0),
    32661: (None, 0.0, True, 0.994, 2_000_000.0, 2_000_000.0),
    32761: (None, 0.0, False, 0.994, 2_000_000.0, 2_000_000.0),
}


def _polar_tc_mc(lat_ts_abs: float) -> tuple[float, float]:
    phi_c = np.radians(lat_ts_abs)
    sin_c = np.sin(phi_c)
    t_c = np.tan(np.pi / 4 - phi_c / 2) / (
        (1 - _E * sin_c) / (1 + _E * sin_c)) ** (_E / 2)
    m_c = np.cos(phi_c) / np.sqrt(1 - _E2 * sin_c**2)
    return float(t_c), float(m_c)


def _polar_coef(lat_ts, k0) -> float:
    if lat_ts is not None:
        t_c, m_c = _polar_tc_mc(abs(lat_ts))
        return m_c / t_c
    return float(
        2.0 * k0 / np.sqrt((1 + _E) ** (1 + _E) * (1 - _E) ** (1 - _E)))


def latlng_to_polar(lng, lat, crs):
    """crs: EPSG code in _POLAR_PARAMS, or the param tuple itself
    (lat_ts|None, lon0, north?, k0|None, fe, fn) — the proj-string
    front door passes tuples for +proj=stere."""
    lat_ts, lon0, north, k0, fe, fn = (
        _POLAR_PARAMS[crs] if isinstance(crs, int) else crs)
    phi = np.radians(np.asarray(lat, dtype="float64"))
    lam = np.radians(np.asarray(lng, dtype="float64") - lon0)
    if not north:  # mirror the south pole onto the north-pole formulas
        phi, lam = -phi, -lam
    coef = _polar_coef(lat_ts, k0)
    sin_p = np.sin(phi)
    t = np.tan(np.pi / 4 - phi / 2) / (
        (1 - _E * sin_p) / (1 + _E * sin_p)) ** (_E / 2)
    rho = _WGS84_A * coef * t
    x = rho * np.sin(lam)
    y = -rho * np.cos(lam)
    if not north:
        x, y = -x, -y
    return x + fe, y + fn


def polar_to_latlng(x, y, crs):
    lat_ts, lon0, north, k0, fe, fn = (
        _POLAR_PARAMS[crs] if isinstance(crs, int) else crs)
    xx = np.asarray(x, dtype="float64") - fe
    yy = np.asarray(y, dtype="float64") - fn
    if not north:
        xx, yy = -xx, -yy
    coef = _polar_coef(lat_ts, k0)
    rho = np.hypot(xx, yy)
    t = rho / (_WGS84_A * coef)
    # fixed-point iteration for the conformal-to-geodetic latitude
    # (Snyder eq. 7-9; converges in a handful of rounds)
    phi = np.pi / 2 - 2 * np.arctan(t)
    for _ in range(8):
        sin_p = np.sin(phi)
        phi_new = np.pi / 2 - 2 * np.arctan(
            t * ((1 - _E * sin_p) / (1 + _E * sin_p)) ** (_E / 2))
        if np.all(np.abs(phi_new - phi) < 1e-14):
            phi = phi_new
            break
        phi = phi_new
    lam = np.arctan2(xx, -yy)
    lam = np.where(rho == 0, 0.0, lam)
    if not north:
        phi, lam = -phi, -lam
    return np.degrees(lam) + lon0, np.degrees(phi)


def _is_utm(code: int) -> bool:
    return 32601 <= code <= 32660 or 32701 <= code <= 32760


def _crs_code(crs: str | int) -> int:
    """EPSG code from 'EPSG:4326', 'epsg:4326', '4326', or 4326 —
    same tolerance as sources/geotiff._epsg_of, so a bare numeric code
    raises the clear unsupported-CRS error instead of an IndexError."""
    if isinstance(crs, int):
        return crs
    s = str(crs).upper().replace("EPSG:", "").strip()
    try:
        return int(s)
    except ValueError as e:
        raise NotImplementedError(
            f"{crs!r}: only EPSG codes are supported (pass 'EPSG:<n>')"
        ) from e


_UNSUPPORTED_CRS = (
    ": analytic support covers EPSG:4326, EPSG:3857, WGS84 UTM zones "
    "(EPSG:326xx/327xx), polar stereographic (EPSG:3413/3031), UPS "
    "(EPSG:32661/32761), Lambert "
    "conformal conic (EPSG:2154/3347), Albers equal-area (EPSG:5070/"
    "3577), LAEA Europe (EPSG:3035), national transverse-Mercator "
    "grids (EPSG:27700/2180/2193, Helmert datum shift where the "
    "registry defines one), and any '+proj=' string over the families "
    "longlat/utm/tmerc/webmerc/lcc/aea/laea (functions/projstring.py); "
    "other CRS need pyproj/rasterio (not in this runtime)"
)


def _to_geographic(xs, ys, crs: str):
    """crs coords -> (lng, lat)."""
    from . import conic, datum, projstring, tmerc

    if isinstance(crs, str) and crs.lstrip().startswith("+"):
        return projstring.spec_to_geographic(
            xs, ys, projstring.parse_proj(crs))
    code = _crs_code(crs)
    if code in tmerc.TM_PARAMS:
        tm = tmerc.TM_PARAMS[code]
        lng, lat = tmerc.tm_inverse(xs, ys, tm)
        return datum.to_wgs84_geodetic(lng, lat, tm.ell, tm.towgs84)
    if code == 4326:
        return xs, ys
    if code == 3857:
        return mercator_to_latlng(xs, ys)
    if _is_utm(code):
        return utm_to_latlng(xs, ys, code)
    if code in _POLAR_PARAMS:
        return polar_to_latlng(xs, ys, code)
    if code in conic.LCC_PARAMS:
        return conic.lcc_to_latlng(xs, ys, code)
    if code in conic.ALBERS_PARAMS:
        return conic.albers_to_latlng(xs, ys, code)
    if code in conic.LAEA_PARAMS:
        return conic.laea_to_latlng(xs, ys, code)
    raise NotImplementedError(f"{crs}{_UNSUPPORTED_CRS}")


def _from_geographic(lng, lat, crs: str):
    """(lng, lat) -> crs coords."""
    from . import conic, datum, projstring, tmerc

    if isinstance(crs, str) and crs.lstrip().startswith("+"):
        return projstring.spec_from_geographic(
            lng, lat, projstring.parse_proj(crs))
    code = _crs_code(crs)
    if code in tmerc.TM_PARAMS:
        tm = tmerc.TM_PARAMS[code]
        lng2, lat2 = datum.from_wgs84_geodetic(lng, lat, tm.ell,
                                               tm.towgs84)
        return tmerc.tm_forward(lng2, lat2, tm)
    if code == 4326:
        return lng, lat
    if code == 3857:
        return latlng_to_mercator(lng, lat)
    if _is_utm(code):
        return latlng_to_utm(lng, lat, code)
    if code in _POLAR_PARAMS:
        return latlng_to_polar(lng, lat, code)
    if code in conic.LCC_PARAMS:
        return conic.latlng_to_lcc(lng, lat, code)
    if code in conic.ALBERS_PARAMS:
        return conic.latlng_to_albers(lng, lat, code)
    if code in conic.LAEA_PARAMS:
        return conic.latlng_to_laea(lng, lat, code)
    raise NotImplementedError(f"{crs}{_UNSUPPORTED_CRS}")


def _project(xs, ys, src_crs: str, dst_crs: str):
    """Transform coords FROM dst_crs TO src_crs (inverse direction).

    Any pair drawn from {EPSG:4326, EPSG:3857, WGS84 UTM zones} works —
    routed through geographic as the hub (exactly how PROJ pipelines
    compose transforms)."""
    if str(src_crs).strip().upper() == str(dst_crs).strip().upper():
        return xs, ys
    lng, lat = _to_geographic(xs, ys, dst_crs)
    return _from_geographic(lng, lat, src_crs)


@dataclass
class WarpReader(WindowReader):
    """WindowReader adapter: destination-CRS windows over a source-CRS
    reader, with interpolating resample — rasterio's WarpedVRT re-expressed
    so the tile pipeline needs no changes (pass a WebMercator grid and a
    lat/lng source, or vice versa).

    ``src_xres``/``src_yres``/origin describe the source pixel lattice in
    the SOURCE CRS (north-up, origin at top-left).
    """

    inner: WindowReader
    src_xres: float
    src_yres: float
    src_origin_x: float = -180.0
    src_origin_y: float = 90.0
    src_crs: str = "EPSG:4326"
    dst_crs: str = "EPSG:3857"
    method: str = "bilinear"
    pad: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        if self.method not in INTERPOLATING_METHODS:
            raise ValueError(
                f"method must be one of {INTERPOLATING_METHODS}"
            )
        self.pad = 1 if self.method == "nearest" else KERNELS.get(
            self.method, (None, 1)
        )[1]

    def __call__(self, uris, bounds, shape, band_count):
        left, bottom, right, top = bounds
        rows, cols = shape
        dxres = (right - left) / cols
        dyres = (top - bottom) / rows
        xs = left + (np.arange(cols) + 0.5) * dxres
        ys = top - (np.arange(rows) + 0.5) * dyres
        gx, gy = np.meshgrid(xs, ys)
        sx, sy = _project(gx, gy, self.src_crs, self.dst_crs)
        # fractional source pixel indices (center convention)
        fx = (sx - self.src_origin_x) / self.src_xres - 0.5
        fy = (self.src_origin_y - sy) / self.src_yres - 0.5
        x_lo = int(np.floor(fx.min())) - self.pad
        x_hi = int(np.ceil(fx.max())) + self.pad + 1
        y_lo = int(np.floor(fy.min())) - self.pad
        y_hi = int(np.ceil(fy.max())) + self.pad + 1
        src_bounds = (
            self.src_origin_x + x_lo * self.src_xres,
            self.src_origin_y - y_hi * self.src_yres,
            self.src_origin_x + x_hi * self.src_xres,
            self.src_origin_y - y_lo * self.src_yres,
        )
        src = self.inner(
            uris, src_bounds, (y_hi - y_lo, x_hi - x_lo), band_count
        )
        out = np.ma.stack([
            sample_grid(src[b], fx - x_lo, fy - y_lo, self.method)
            for b in range(band_count)
        ])
        return out
