"""Image sink (S9): render a metrics matrix to a PNG heatmap.

The reference renders per-channel matrices to image files for its
display server (``wibeth_plots.py:92-93``, ``scripts/dqm_plotter.py:73``
— matplotlib pcolormesh to PNG).  This is the engine-level rebuild with
zero plotting dependencies: the aggregated metrics frame (always tiny —
it is post-aggregation output), already collected to pandas, is
rasterized cell-by-cell with the pure-Python PNG encoder
(``functions/pngcodec.py``).  Color is a blue->white->red diverging ramp
over the min..max of the matrix, each cell an (cell x cell)-pixel block
with a 1-px grid line — readable without any viewer tooling beyond a
browser.

The sink takes a pandas frame by design: an image sink consumes a
REPORT (per-group aggregates), never the row stream; the 100 TB path
reduces first, renders last.  The quality job renders the rule-metrics
cube it has already collected (:func:`dqmtools_spark.job.submit`).
"""

from __future__ import annotations

import pandas as pd

from dqmtools_spark.functions.pngcodec import encode_png


def _ramp(t: float) -> tuple[int, int, int]:
    """Diverging blue (0.0) -> white (0.5) -> red (1.0)."""
    t = min(max(t, 0.0), 1.0)
    if t < 0.5:
        u = t / 0.5
        return (int(40 + 215 * u), int(80 + 175 * u), 255)
    u = (t - 0.5) / 0.5
    return (255, int(255 - 175 * u), int(255 - 215 * u))


def matrix_to_png(
    rows: list[list[float | None]],
    cell: int = 16,
    grid: int = 1,
) -> bytes:
    """Numeric matrix -> PNG heatmap bytes (None cells render gray)."""
    n_r = len(rows)
    n_c = max((len(r) for r in rows), default=0)
    if n_r == 0 or n_c == 0:
        # degenerate report (no groups / no numeric columns): a 1x1
        # gray marker image, not a crash at the end of the job
        return encode_png(bytes((128, 128, 128)), 1, 1, 3)
    vals = [v for r in rows for v in r if v is not None]
    lo, hi = (min(vals), max(vals)) if vals else (0.0, 1.0)
    span = (hi - lo) or 1.0
    w = n_c * (cell + grid) + grid
    h = n_r * (cell + grid) + grid
    buf = bytearray([32, 32, 32] * (w * h))  # grid color
    for ri, row in enumerate(rows):
        for ci in range(n_c):
            v = row[ci] if ci < len(row) else None
            rgb = (128, 128, 128) if v is None else _ramp((v - lo) / span)
            y0 = grid + ri * (cell + grid)
            x0 = grid + ci * (cell + grid)
            for y in range(y0, y0 + cell):
                base = (y * w + x0) * 3
                buf[base : base + cell * 3] = bytes(rgb) * cell
    return encode_png(buf, w, h, 3)


def write_metrics_png(
    metrics: pd.DataFrame,
    path: str,
    row_key: str,
    cell: int = 16,
) -> tuple[int, int]:
    """Render a collected metrics frame (one row per ``row_key``,
    numeric columns as heatmap columns) to a PNG file; returns the
    image (width, height).  Rows sort by ``row_key`` (nulls last) for a
    deterministic image."""
    cols = [
        c for c in metrics.columns if c != row_key
        and pd.api.types.is_numeric_dtype(metrics[c])
        and not pd.api.types.is_bool_dtype(metrics[c])
    ]
    ordered = sorted(
        metrics[[row_key, *cols]].to_dict("records"),
        key=lambda r: (pd.isna(r[row_key]), str(r[row_key])),
    )
    matrix = [
        [None if pd.isna(r[c]) else float(r[c]) for c in cols] for r in ordered
    ]
    png = matrix_to_png(matrix, cell=cell)
    with open(path, "wb") as f:
        f.write(png)
    n_r, n_c = len(matrix), (max(len(r) for r in matrix) if matrix else 0)
    return (n_c * (cell + 1) + 1, n_r * (cell + 1) + 1)
