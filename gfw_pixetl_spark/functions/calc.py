"""Safe band-algebra compiler (SURVEY §2.3 C1).

The reference compiles the user ``calc`` string with raw ``exec``
(``gfw_pixetl/tiles/utils/array_utils.py:61-85``) — fine for trusted
configs, unacceptable for a multi-tenant engine. Here the expression is
parsed with ``ast`` and validated against a whitelist (band names A..Z,
``np`` attribute calls from an allowlist, arithmetic/comparison/boolean
operators, numeric literals) before being compiled. The compiled kernel
runs on ``numpy.ma`` masked arrays so nodata masks propagate through the
math exactly like the reference (masks are filled only afterwards by
``set_datatype`` — SURVEY §7.4-1).

Band naming follows the reference's base-26 scheme
(``gfw_pixetl/utils/utils.py:228-251``): A..Z, then AA, AB, ...
"""

from __future__ import annotations

import ast
from collections.abc import Callable

import numpy as np

# numpy functions a calc expression may call (np.<name>); extend as needed
_NP_ALLOWED = {
    "where", "log", "log2", "log10", "log1p", "exp", "sqrt", "abs",
    "absolute", "minimum", "maximum", "clip", "floor", "ceil", "rint",
    "sin", "cos", "tan", "arctan", "isnan", "isfinite", "float32",
    "float64", "uint8", "int8", "uint16", "int16", "uint32", "int32",
    "logical_and", "logical_or", "logical_not", "power",
}
# np.ma functions (masked-array namespace)
_NP_MA_ALLOWED = {"array", "masked_where", "masked_equal", "filled", "getmaskarray"}

_ALLOWED_NODES = (
    ast.Expression, ast.BinOp, ast.UnaryOp, ast.BoolOp, ast.Compare,
    ast.Call, ast.Attribute, ast.Name, ast.Load, ast.Constant,
    ast.List, ast.Tuple, ast.IfExp,
    # operators
    ast.Add, ast.Sub, ast.Mult, ast.Div, ast.FloorDiv, ast.Mod, ast.Pow,
    ast.USub, ast.UAdd, ast.Invert, ast.Not, ast.And, ast.Or,
    ast.Eq, ast.NotEq, ast.Lt, ast.LtE, ast.Gt, ast.GtE,
    ast.BitAnd, ast.BitOr, ast.BitXor, ast.RShift, ast.LShift,
)


def enumerate_bands(count: int) -> list[str]:
    """Base-26 band names: A..Z, AA, AB, ... (``utils/utils.py:228-251``)."""
    names = []
    for i in range(count):
        name = ""
        n = i
        while True:
            name = chr(ord("A") + n % 26) + name
            n = n // 26 - 1
            if n < 0:
                break
        names.append(name)
    return names


class CalcValidationError(ValueError):
    pass


def _validate(node: ast.AST, band_names: set[str]) -> None:
    for child in ast.walk(node):
        if not isinstance(child, _ALLOWED_NODES):
            raise CalcValidationError(
                f"calc: disallowed syntax {type(child).__name__}"
            )
        if isinstance(child, ast.Attribute):
            # only np.<fn> or np.ma.<fn>
            base = child.value
            if isinstance(base, ast.Name) and base.id == "np":
                if child.attr != "ma" and child.attr not in _NP_ALLOWED:
                    raise CalcValidationError(f"calc: np.{child.attr} not allowed")
            elif (
                isinstance(base, ast.Attribute)
                and isinstance(base.value, ast.Name)
                and base.value.id == "np"
                and base.attr == "ma"
            ):
                if child.attr not in _NP_MA_ALLOWED:
                    raise CalcValidationError(f"calc: np.ma.{child.attr} not allowed")
            else:
                raise CalcValidationError("calc: attribute access only on np / np.ma")
        if isinstance(child, ast.Name) and child.id not in band_names and child.id != "np":
            raise CalcValidationError(f"calc: unknown name {child.id}")
        if isinstance(child, ast.Constant) and not isinstance(
            child.value, (int, float, bool)
        ):
            raise CalcValidationError("calc: only numeric literals allowed")
        if isinstance(child, ast.Call):
            if child.keywords:
                raise CalcValidationError("calc: keyword arguments not allowed")
            if not isinstance(child.func, ast.Attribute):
                raise CalcValidationError("calc: only np.* calls allowed")


def compile_calc(expr: str, band_count: int) -> Callable[..., np.ma.MaskedArray]:
    """Compile a validated calc expression into f(A, B, ...) -> MaskedArray.

    The returned kernel reproduces ``array_utils.calc``: a 2-D result is
    promoted to (1, rows, cols); a multiband result must already be
    stacked via ``np.ma.array([...])``.
    """
    names = enumerate_bands(band_count)
    tree = ast.parse(expr, mode="eval")
    _validate(tree, set(names))
    code = compile(tree, "<calc>", "eval")

    def kernel(*bands: np.ma.MaskedArray) -> np.ma.MaskedArray:
        if len(bands) != band_count:
            raise ValueError(f"calc expects {band_count} bands, got {len(bands)}")
        env = {"np": np, **dict(zip(names, bands))}
        out = eval(code, {"__builtins__": {}}, env)  # noqa: S307 — validated AST
        if not isinstance(out, np.ma.MaskedArray):
            out = np.ma.asarray(out)
        if out.ndim == 2:
            out = out.reshape(1, *out.shape)
        return out

    return kernel


def apply_calc(
    stacked: np.ma.MaskedArray, expr: str | None, out_count: int
) -> np.ma.MaskedArray:
    """Apply calc to a (bands, rows, cols) stack; validate output band count
    (``array_utils.py:74-79``)."""
    if not expr:
        return stacked
    kernel = compile_calc(expr, stacked.shape[0])
    out = kernel(*stacked)
    if out.ndim == 2:
        out = out.reshape(1, *out.shape)
    if out.shape[0] != out_count:
        raise RuntimeError(
            "Output band count does not match desired count. "
            "Calc function must be wrong."
        )
    return out


def set_datatype(
    array: np.ma.MaskedArray,
    nodata_value,
    datatype: str,
) -> np.ndarray:
    """Fill masked pixels with nodata and cast — the reference's final
    kernel stage (``array_utils.py:12-41``). Masks survive calc and are
    materialized only here."""
    if nodata_value is None:
        return np.ma.getdata(array).astype(datatype)
    if isinstance(nodata_value, list):
        return np.array(
            [np.ma.filled(array[i], nd) for i, nd in enumerate(nodata_value)]
        ).astype(datatype)
    return np.ma.filled(array, nodata_value).astype(datatype)


def valid_count(band_arrays: np.ma.MaskedArray) -> int:
    """Unmasked pixels over all bands."""
    mask = np.ma.getmaskarray(band_arrays)
    return mask.size - int(np.count_nonzero(mask))


def block_has_data(band_arrays: np.ma.MaskedArray) -> bool:
    """Empty-block predicate (``array_utils.py:44-58``)."""
    return valid_count(band_arrays) != 0
