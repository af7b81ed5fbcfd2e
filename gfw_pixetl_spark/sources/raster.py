"""Window readers: the S4 custom-source kernel (SURVEY §2.1).

The reference reads reprojected/resampled windows from a GDAL VRT mosaic
(``gfw_pixetl/tiles/utils/window_utils.py:88-133``). In the Spark engine a
reader is a plain picklable callable invoked inside ``mapInPandas`` on the
executors: ``reader(uris, bounds, shape, band_count) -> np.ma.MaskedArray``
of shape ``(bands, rows, cols)`` with mask == nodata.

* ``GeoTIFFReader`` reads real GeoTIFF/COG files through the pure-Python
  codec in ``sources/geotiff.py`` (tile-granular partial reads, no
  rasterio dependency), mosaicking first-non-null by file order.
* ``SyntheticReader`` generates a deterministic array from pixel
  coordinates — the fast test double, same contract.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


class WindowReader:
    """Reader protocol: subclass and implement __call__."""

    def __call__(
        self,
        uris: list[str],
        bounds: tuple[float, float, float, float],
        shape: tuple[int, int],
        band_count: int,
    ) -> np.ma.MaskedArray:
        raise NotImplementedError


@dataclass
class SyntheticReader(WindowReader):
    """Deterministic pixel function: value = (floor(x_idx) + floor(y_idx))
    % modulus, masked where value == mask_value. Pixel indices derive from
    world coordinates so overlapping windows agree bit-for-bit (the
    alignment property C5 tests rely on)."""

    xres: float
    yres: float
    origin_x: float = -180.0
    origin_y: float = 90.0
    modulus: int = 16
    mask_value: int | None = 0

    def __call__(self, uris, bounds, shape, band_count):
        left, bottom, right, top = bounds
        rows, cols = shape
        col0 = int(round((left - self.origin_x) / self.xres))
        row0 = int(round((self.origin_y - top) / self.yres))
        jj, ii = np.meshgrid(
            np.arange(col0, col0 + cols), np.arange(row0, row0 + rows)
        )
        base = (ii + jj) % self.modulus
        stack = np.stack([(base + b) % self.modulus for b in range(band_count)])
        if self.mask_value is None:
            mask = np.zeros_like(stack, dtype=bool)
        else:
            mask = stack == self.mask_value
        return np.ma.MaskedArray(stack.astype("int64"), mask=mask)


class GeoTIFFReader(WindowReader):
    """Real windowed GeoTIFF/COG read via the pure-Python codec
    (``sources/geotiff.py``) — no rasterio required.

    Mirrors ``read_window``'s contract (``window_utils.py:88-133``):
    boundless window over the source mosaic, first-non-null by file order
    (the VRT mosaic semantic S5, ``gfw_pixetl/utils/gdal.py:31-49``),
    nodata-masked, padded to exact shape. Sources must be on the window's
    grid (same resolution, aligned origin — the engine's prep job
    guarantees this, like the reference's VRT of same-grid inputs);
    resampling/reprojection between grids is ``WarpReader``'s job (C4).
    Only tiles intersecting the window are decompressed, so a 100 TB
    mosaic costs range-reads proportional to the window, not the files.

    The mosaic is built on plain arrays: each file's window data and
    mask (``read_window``'s mask, or'd with ``data == src_nodata``), the
    first file's adopted without a copy and later files copied in where
    the mosaic is still masked. One ``MaskedArray`` wraps the result, so
    no masked-array operation runs per file.
    """

    def __init__(self, src_nodata=None) -> None:
        self.src_nodata = src_nodata

    def __call__(self, uris, bounds, shape, band_count):
        from .geotiff import GeoTiff

        rows, cols = shape
        accum_data = None
        accum_mask = np.ones((band_count, rows, cols), dtype=bool)
        for uri in uris:
            src = GeoTiff.open(uri)
            c0, r0, w, h = src.window_from_bounds(bounds)
            if (w, h) != (cols, rows):
                raise ValueError(
                    f"{uri}: source grid ({src.transform[1]}, "
                    f"{src.transform[3]}) is not aligned with the window "
                    f"({w}x{h} != {cols}x{rows}); use WarpReader for "
                    "cross-grid reads"
                )
            arr = src.read_window(c0, r0, cols, rows)
            data, mask = np.ma.getdata(arr), np.ma.getmaskarray(arr)
            if self.src_nodata is not None:
                mask = mask | (data == self.src_nodata)
            if data.shape[0] >= band_count:
                data, mask = data[:band_count], mask[:band_count]
            else:  # single-band source feeding a multiband calc (C1)
                bands = np.arange(band_count) % data.shape[0]
                data, mask = data[bands], mask[bands]
            if accum_data is None:
                # the window's arrays are fresh: adopt them, no copy
                accum_data, accum_mask = data, mask
            else:
                np.copyto(accum_data, data, casting="unsafe",
                          where=accum_mask & ~mask)
                accum_mask &= mask
        if accum_data is None:
            accum_data = np.zeros((band_count, rows, cols), dtype="float64")
        return np.ma.MaskedArray(accum_data, mask=accum_mask)
