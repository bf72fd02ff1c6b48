"""Column-expression helpers — the scalar/math surface of tsmp (§2.8)
re-expressed as JVM-side Spark SQL expressions (whole-stage codegen; no
Python)."""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.window import Window, WindowSpec

from ..mpcore.stats import EPS_NORM


def lowvar_threshold_expr(mu: Column) -> Column:
    """Column twin of :func:`mpcore.stats.lowvar_threshold` — the ONE
    engine-wide low-variance rule (sd below this → degenerate). Keep in
    lockstep with the kernels via the shared ``EPS_NORM`` constant."""
    return F.lit(EPS_NORM) * (F.abs(mu) + F.lit(1.0))


def rolling_window(key: str, order: str, w: int) -> WindowSpec:
    """Forward-looking frame [pos, pos+w-1] — the subsequence window."""
    return Window.partitionBy(key).orderBy(order).rowsBetween(0, w - 1)
