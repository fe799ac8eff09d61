"""The catalog's synthetic RGB test pattern, for the payload entries that
encode one image per document. It lives outside ``catalog`` so that a Python
worker unpickling an ``encode`` function imports this module, not the whole
catalog (a module-level function is pickled by reference)."""

from __future__ import annotations

from collections.abc import Callable

__all__ = ["rgb_pattern"]


def rgb_pattern(i: int) -> Callable[[int, int], tuple[int, int, int]]:
    """Pixel ``(x, y)`` of document ``i``'s image; each channel is a linear
    function of ``(i, x, y)`` mod 256, so a DuckDB oracle predicts every
    pixel analytically."""

    def rgb(x: int, y: int) -> tuple[int, int, int]:
        return ((i + 3 * x + 7 * y) % 256, (2 * i + 5 * x + y) % 256,
                (i + x + 11 * y) % 256)

    return rgb
