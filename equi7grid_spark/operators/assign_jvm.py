"""Tile assignment on the compiled kernel: zero Python, zero joins.

The scale path for the flagship job (north rule: 10^12-row image table,
N→4N scaling ≥ 0.8). Every row makes ONE compiled call
(operators/kernel) that resolves its primary zone (1-degree cell map +
exact boundary parity baked into the jar) and projects it to the zone's
AEQD meters:

- tile_counts_jvm keys each row with equi7_zone_tile_key and reduces
  the single packed long with map-side partial aggregation — the
  groupBy is the plan's ONLY shuffle (pinned by
  tests/test_queries_scale.py); zone/tilename strings materialize
  post-agg on ~10^3 rows;
- assign_tiles_jvm keeps row level: equi7_zone_xy gives (zc, x, y) and
  the tile columns are plain Column algebra — one scan, no join, no
  shuffle (pinned by tests/test_assign_jvm.py).

Both agree with the NumPy reference (zones.assign_primary_zone_code +
geodesy.aeqd_forward) per tile, pinned by tests/test_assign_jvm.py on
the sf tables and on grids that oversample boundary cells.

The decided-cell map helpers (cell_code_pdf, cell_map_df, cell_id_col)
serve the decided-subset queries and their DuckDB oracles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER, TILING_ID_TO_SIZE
from equi7grid_spark.functions.tiling import tile_ll, tilename, xy2rc
from equi7grid_spark.operators import kernel
from equi7grid_spark.operators.assign import subgrid_from_code
from equi7grid_spark.zones import PF_NX, PF_NY, decided_cell_codes

_CELL_MAPS: dict[tuple, pd.DataFrame] = {}


def cell_code_pdf(system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER) -> pd.DataFrame:
    """64,800-row (cell_id:int32, zc:int8) lookup table as pandas."""
    key = tuple(system_order)
    if key not in _CELL_MAPS:
        import numpy as np

        codes = decided_cell_codes(key)  # [PF_NX, PF_NY]
        ix, iy = np.meshgrid(np.arange(PF_NX), np.arange(PF_NY), indexing="ij")
        _CELL_MAPS[key] = pd.DataFrame(
            {
                "cell_id": (ix * PF_NY + iy).ravel().astype("int32"),
                "zc": codes.ravel().astype("int8"),
            }
        )
    return _CELL_MAPS[key]


_CELL_DFS: dict[tuple, DataFrame] = {}


def cell_map_df(
    spark: SparkSession, system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER
) -> DataFrame:
    key = (id(spark), tuple(system_order))
    if key not in _CELL_DFS:
        # Explicit schema: schema-less createDataFrame(pandas) maps int8
        # to tinyint only when Arrow conversion is on; a plain driver
        # session (no Arrow) infers bigint, which downstream crashed the
        # Java UDF (UDF3<Byte,...>) with Long->Byte ClassCastException.
        _CELL_DFS[key] = spark.createDataFrame(
            cell_code_pdf(tuple(system_order)), schema="cell_id int, zc tinyint"
        )
    return _CELL_DFS[key]


def cell_id_col(lon: Column, lat: Column) -> Column:
    """1-degree cell id, mirroring zones.zone_membership's gather:
    lon normalized to [-180, 180), lat clamped, floor + clip."""
    lon_n = F.pmod(lon + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    lat_c = F.greatest(F.least(lat, F.lit(90.0)), F.lit(-90.0))
    ix = F.greatest(
        F.least(F.floor(lon_n + F.lit(180.0)), F.lit(PF_NX - 1)), F.lit(0)
    )
    iy = F.greatest(
        F.least(F.floor(lat_c + F.lit(90.0)), F.lit(PF_NY - 1)), F.lit(0)
    )
    return (ix * PF_NY + iy).cast("int")


def tile_counts_jvm(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
) -> DataFrame:
    """Per-tile counts (subgrid, tilename, ll_x, ll_y, n) of the rows'
    primary-zone tiles; out-of-zone rows (null, NaN, ±inf coordinates
    included) are not counted.

    One compiled call per row (zone resolve + Vincenty + floor keying),
    one shuffle on a single long key with map-side partial aggregation;
    zone/tilename strings materialize post-agg on ~10^3 rows."""
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    kernel.kernel_available(df.sparkSession)  # registers the jar's functions
    agg = kernel.key_counts(
        df, kernel.zone_tile_key_col(F.col(lon_col), F.col(lat_col), ts)
    )
    sub = subgrid_from_code(F.col("zc"))
    name = tilename(sub, F.col("tx") * ts, F.col("ty") * ts, tiling_id)
    return agg.select(
        sub.alias("subgrid"),
        name.alias("tilename"),
        (F.col("tx") * ts).alias("ll_x"),
        (F.col("ty") * ts).alias("ll_y"),
        "n",
    )


def assign_tiles_jvm(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
    sampling: float | None = None,
    *,
    drop_out_of_zone: bool = True,
) -> DataFrame:
    """Row-level zone assign + AEQD project + tile id (primary zone).

    Adds columns subgrid, x, y, ll_x, ll_y, tilename (+ row, col with
    `sampling`). Out-of-zone rows (null, NaN, ±inf coordinates
    included) are dropped, or kept with a null subgrid and NaN x/y when
    ``drop_out_of_zone=False``. One compiled call per row; no join, no
    shuffle, no Python worker.
    """
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    kernel.kernel_available(df.sparkSession)  # registers the jar's functions
    zxy = kernel.zone_xy_col(F.col(lon_col), F.col(lat_col))
    # explode-of-one barrier: filter pushdown and CollapseProject would
    # otherwise substitute the UDF into every consumer of _z, evaluating
    # it once per reference instead of once per row
    out = df.select("*", F.explode(F.array(zxy)).alias("_z"))
    if drop_out_of_zone:
        out = out.filter(F.col("_z").isNotNull())
    nan = F.lit(float("nan"))
    out = (
        out.withColumn("subgrid", subgrid_from_code(F.col("_z.zc")))
        .withColumn("x", F.coalesce(F.col("_z.x"), nan))
        .withColumn("y", F.coalesce(F.col("_z.y"), nan))
        .drop("_z")
    )
    out = out.withColumn("ll_x", tile_ll(F.col("x"), ts)).withColumn(
        "ll_y", tile_ll(F.col("y"), ts)
    )
    out = out.withColumn(
        "tilename", tilename(F.col("subgrid"), F.col("ll_x"), F.col("ll_y"), tiling_id)
    )
    if sampling is not None:
        r, c = xy2rc(F.col("x"), F.col("y"), F.col("ll_x"), F.col("ll_y"), ts, sampling)
        out = out.withColumn("row", r).withColumn("col", c)
    return out
