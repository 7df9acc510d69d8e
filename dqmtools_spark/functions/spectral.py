"""Spectral analysis (F9): FFT power spectrum over array columns.

The reference imports ``numpy.fft`` for its upstream waveform stack
(``/root/reference/python/dqmtools/dataframe_creator.py:7``); this is
the rebuilt engine-level form: a vectorized Arrow-batched FFT — one
2-D ``numpy.fft.rfft`` per batch (all rows transformed in a single
BLAS-grade call), never per-row Python.

The peak extraction stays JVM-side (array_max / array_position over
the returned spectrum), showing the UDF composes with codegen
expressions.  Correctness gates:

- the driver oracle: a closed-form differential — for a pure cosine at
  integer frequency f and amplitude 1 over n samples, the one-sided
  power spectrum peaks at bin f with power exactly (n/2)^2 (error of a
  real FFT ~1e-13 against magnitude 256, vanishing under round()), and
- hypothesis property tests vs numpy.fft directly
  (tests/test_properties.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def power_spectrum_udf(arr: pd.Series) -> pd.Series:
    """array<double> -> one-sided power spectrum |rfft(x)|^2.

    Rows within an Arrow batch are stacked into one matrix and
    transformed with a single 2-D rfft — the vectorized hot path.
    Ragged batches (mixed lengths) fall back to per-row 1-D rfft,
    same values.  Null arrays pass through as null.
    """
    vals = arr.to_numpy()
    idxs = np.flatnonzero([v is not None for v in vals])
    out = np.full(len(vals), None, dtype=object)
    present = [np.asarray(vals[j], dtype=np.float64) for j in idxs]
    if present:
        lens = {len(v) for v in present}
        if len(lens) == 1:
            mat = np.vstack(present)
            rows = list(np.abs(np.fft.rfft(mat, axis=1)) ** 2)
        else:
            rows = [np.abs(np.fft.rfft(v)) ** 2 for v in present]
        for j, r in zip(idxs, rows):
            out[j] = r.tolist()
    return pd.Series(out)


def spectral_peak(ps_col: Column) -> tuple[Column, Column]:
    """(peak_bin, peak_power) of a one-sided power spectrum, skipping
    the DC bin — pure JVM expressions over the UDF's output array.
    The position search runs over the DC-free tail (its 1-based index
    IS the bin number), so a DC value equal to the tail max can never
    win; ties within the tail break to the lowest frequency."""
    tail = F.slice(ps_col, 2, F.greatest(F.size(ps_col) - 1, F.lit(0)))
    peak_power = F.array_max(tail)
    peak_bin = F.array_position(tail, peak_power).cast("int")
    return peak_bin, peak_power


def synth_tone(freq: Column, n: int, second_freq: int, second_amp: float) -> Column:
    """Deterministic two-tone test signal (array<double>, length n):
    cos(2*pi*freq*i/n) + second_amp * cos(2*pi*second_freq*i/n).
    Used by the driver's closed-form spectral oracle."""
    import math

    two_pi_over_n = F.lit(2.0 * math.pi / n)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.cos(two_pi_over_n * freq * i)
        + F.lit(second_amp) * F.cos(two_pi_over_n * F.lit(second_freq) * i),
    )
