"""Buffered multi-zone assignment + per-row pandas UDFs.

Primary-zone assignment and the AEQD projections run on the compiled
kernel (operators/kernel, operators/assign_jvm). This module keeps what
has no kernel entry yet:

- buffered multi-zone membership (zones_all_udf): the buffered zones
  overlap, so a point near a zone edge belongs to up to two zones
  (reference lonlat_to_xy returning a per-continent dict,
  tests/test_equi7grid.py:412-418). Exact ray-crossing PIP against
  the process-cached NumPy zone index, one Arrow pass carrying only
  primitives (int8 zone codes);
- the geodesic length distortion (distortion_ellipsoid_udf);
- subgrid_from_code, the int8 zone code → subgrid string Column shared
  by every operator (strings materialize JVM-side, never through
  Arrow).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER, TILING_ID_TO_SIZE
from equi7grid_spark.functions.tiling import tile_ll, tilename, xy2rc
from equi7grid_spark.geodesy import length_distortion_ellipsoid
from equi7grid_spark.operators import kernel
from equi7grid_spark.zones import zone_membership


def subgrid_from_code(zc: Column) -> Column:
    """int8 zone code → subgrid string, JVM-side (null when out of zone)."""
    arr = F.array(*[F.lit(c) for c in DEFAULT_SYSTEM_ORDER])
    return F.when(zc >= 0, F.element_at(arr, zc.cast("int") + 1))


def zones_all_udf(buffered: bool = True):
    """pandas UDF: (lon, lat) → array<byte> of all containing zone codes
    in DEFAULT_SYSTEM_ORDER (buffered zones overlap → up to 2,
    reference tests/test_equi7grid.py:412-418)."""

    @F.pandas_udf(T.ArrayType(T.ByteType()))
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        member = zone_membership(lo, la, buffered=buffered)
        idx = np.arange(len(DEFAULT_SYSTEM_ORDER), dtype=np.int8)
        return pd.Series([idx[m] for m in member])

    return _udf


@F.pandas_udf(T.DoubleType())
def distortion_ellipsoid_udf(subgrid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    """pandas UDF: geodesic length distortion (reference core.py:416-452)."""
    sub = subgrid.to_numpy(dtype=object)
    lo = lon.to_numpy(np.float64)
    la = lat.to_numpy(np.float64)
    k = np.full(lo.shape, np.nan)
    for cc in np.unique(sub):
        if cc == "" or cc is None:
            continue
        m = sub == cc
        k[m] = length_distortion_ellipsoid(str(cc), lo[m], la[m])
    return pd.Series(k)


def assign_tiles_buffered(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
    sampling: float | None = None,
    *,
    drop_out_of_zone: bool = True,
) -> DataFrame:
    """Zone assign + AEQD project + tile id against the BUFFERED zones:
    one output row per containing zone, so points in overlap areas
    appear once per zone (reference lonlat_to_xy returning a
    per-continent dict, tests/test_equi7grid.py:412-418).

    Adds columns: subgrid, x, y, ll_x, ll_y, tilename (+ row, col when
    `sampling` is given); out-of-zone rows are dropped, or kept with a
    null subgrid and NaN x/y when ``drop_out_of_zone=False``. The
    primary-zone (non-buffered) operator is assign_jvm.assign_tiles_jvm.

    Membership is one Arrow pass (zones_all_udf); the projection is the
    compiled AEQD forward (kernel.xy_col) and all tile math is
    JVM-side Columns.
    """
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    kernel.kernel_available(df.sparkSession)  # registers the jar's functions
    zs = zones_all_udf(buffered=True)
    # explode_outer when out-of-zone rows must survive: a plain
    # explode of the empty membership array would drop them
    # regardless of drop_out_of_zone (ADVICE round-1)
    exploder = F.explode if drop_out_of_zone else F.explode_outer
    df = df.withColumn("_zc", exploder(zs(F.col(lon_col), F.col(lat_col))))
    df = df.withColumn("subgrid", subgrid_from_code(F.col("_zc")))
    df = df.withColumn("_xy", kernel.xy_col(F.col("_zc"), F.col(lon_col), F.col(lat_col)))
    nan = F.lit(float("nan"))
    df = (
        df.withColumn("x", F.coalesce(F.element_at("_xy", 1), nan))
        .withColumn("y", F.coalesce(F.element_at("_xy", 2), nan))
        .drop("_xy", "_zc")
    )
    df = df.withColumn("ll_x", tile_ll(F.col("x"), ts)).withColumn("ll_y", tile_ll(F.col("y"), ts))
    df = df.withColumn("tilename", tilename(F.col("subgrid"), F.col("ll_x"), F.col("ll_y"), tiling_id))
    if sampling is not None:
        r, c = xy2rc(F.col("x"), F.col("y"), F.col("ll_x"), F.col("ll_y"), ts, sampling)
        df = df.withColumn("row", r).withColumn("col", c)
    return df
