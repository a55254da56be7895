"""Compiled JVM kernel: loading + registration.

The engine's per-row geodesy inside Spark — primary-zone resolve, the
AEQD forward (Vincenty inverse problem) and the AEQD inverse (Vincenty
direct problem) — is compiled Java (equi7grid_spark/jvm/src, built to
equi7-kernel.jar by scripts/build_jvm_kernel.sh and checked in). It is
the only Spark-side implementation of those three: one JIT-hot method
per row, no Python workers, no Arrow boundary, and it converges the
fixed points to the same tol=1e-13 as the NumPy reference
(equi7grid_spark.geodesy / zones), so values agree to float64
round-off.

Loaded at runtime with ADD JAR + registerJavaFunction, so it works on
ANY SparkSession (including the driver's own), not just ones built by
session.get_spark. Operators call kernel_available(spark) before using
the functions below; it registers them once per session and raises
RuntimeError when the jar is missing or cannot be loaded.

Input contract: the zone-resolving entries treat a null, NaN or +-inf
lon or lat as out of every zone and return null; the projection
entries return null when any input is null.

SQL functions registered:
  equi7_zone_xy(lon, lat) -> struct<zc tinyint, x double, y double>,
      null when out of every zone
  equi7_xy(zc tinyint, lon double, lat double) -> array<double> [x, y]
  equi7_lonlat(zc tinyint, x double, y double) -> array<double>
      [lon, lat] — the AEQD inverse
  equi7_zone_tile_key(lon, lat, ts) -> bigint
      (zc << 28) | ((tx + 8192) << 14) | (ty + 8192), null when out of
      every zone; throws when |tx| or |ty| >= 8192 (tile size too
      small for the zone extent). Zone resolution included (the
      1-degree cell map + exact boundary parity live in the jar as a
      1.8 MB resource), so the flagship needs one scan, zero joins,
      one shuffle on a single long column.
  equi7_roundtrip_zone_tile_key(lon, lat, ts) -> bigint, the same key
      of forward(inverse(forward(lon, lat)))
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_REGISTERED: set[int] = set()  # id() of each session the kernel is registered on

_ZONE_XY = T.StructType(
    [
        T.StructField("zc", T.ByteType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ]
)


def _kernel_jar() -> Path | None:
    """On-disk jar path; extracts from the package when imported from a
    --py-files zip (data_loader.resource_path), None if absent."""
    direct = Path(__file__).resolve().parents[1] / "jvm" / "equi7-kernel.jar"
    if direct.exists():
        return direct
    try:
        from equi7grid_spark.data_loader import resource_path

        p = Path(resource_path("jvm/equi7-kernel.jar"))
        return p if p.exists() else None
    except Exception:
        return None


def kernel_available(spark: SparkSession) -> bool:
    """Register the compiled kernel on this session (once) and return
    True; raise RuntimeError naming the cause when the jar is absent or
    the session cannot load it."""
    key = id(spark)
    if key in _REGISTERED:
        return True
    jar = _kernel_jar()
    if jar is None:
        raise RuntimeError(
            "equi7-kernel.jar not found in the equi7grid_spark package "
            "(build it with scripts/build_jvm_kernel.sh)"
        )
    try:
        spark.sql(f"ADD JAR '{jar}'")
        spark.udf.registerJavaFunction("equi7_zone_xy", "equi7.ZoneXY", _ZONE_XY)
        spark.udf.registerJavaFunction(
            "equi7_xy", "equi7.VincentyXY", T.ArrayType(T.DoubleType())
        )
        spark.udf.registerJavaFunction(
            "equi7_lonlat", "equi7.VincentyLonLat", T.ArrayType(T.DoubleType())
        )
        spark.udf.registerJavaFunction(
            "equi7_zone_tile_key", "equi7.ZoneTileKey", T.LongType()
        )
        spark.udf.registerJavaFunction(
            "equi7_roundtrip_zone_tile_key",
            "equi7.RoundtripZoneTileKey",
            T.LongType(),
        )
        # Probe through the SAME column-typed wrappers the queries use,
        # with the adversarial dtypes a plain (non-Arrow) session
        # produces (bigint zc, bigint lon/lat) — a literal CAST probe
        # once passed while real queries crashed on a Long->Byte
        # ClassCastException.
        probe = spark.range(1).select(
            F.lit(3).cast("bigint").alias("zc"),
            F.lit(15).cast("bigint").alias("lon"),
            F.lit(48).cast("bigint").alias("lat"),
        )
        row = probe.select(
            zone_xy_col(F.col("lon"), F.col("lat")),
            zone_tile_key_col(F.col("lon"), F.col("lat"), 600000.0),
            roundtrip_zone_tile_key_col(F.col("lon"), F.col("lat"), 600000.0),
            xy_col(F.col("zc"), F.col("lon"), F.col("lat")),
            lonlat_col(
                F.col("zc"),
                F.lit(5837287.8).cast("bigint"),
                F.lit(2121415.7).cast("bigint"),
            ),
        ).collect()
    except Exception as exc:
        raise RuntimeError(f"cannot load the compiled kernel {jar}: {exc}") from exc
    if any(v is None for v in row[0]):
        raise RuntimeError(f"compiled kernel {jar} returned null on its probe row")
    _REGISTERED.add(key)
    return True


# The kernel boundary owns its types: registerJavaFunction performs no
# input coercion, so a bigint zc reaches UDF3<Byte,...> as a Long and
# throws ClassCastException at runtime. Every wrapper casts here rather
# than trusting each call site's inference.


def zone_xy_col(lon: Column, lat: Column) -> Column:
    """struct(zc, x, y) of the primary zone, null when out of zone."""
    return F.call_udf("equi7_zone_xy", lon.cast("double"), lat.cast("double"))


def zone_tile_key_col(lon: Column, lat: Column, tile_size: float) -> Column:
    return F.call_udf(
        "equi7_zone_tile_key",
        lon.cast("double"),
        lat.cast("double"),
        F.lit(float(tile_size)),
    )


def roundtrip_zone_tile_key_col(
    lon: Column, lat: Column, tile_size: float
) -> Column:
    """Packed zone+tile key of forward(inverse(forward(lon, lat))) —
    the fused roundtrip-closure kernel (same Vincenty calls as
    xy_col → lonlat_col → xy_col, one UDF invocation per row)."""
    return F.call_udf(
        "equi7_roundtrip_zone_tile_key",
        lon.cast("double"),
        lat.cast("double"),
        F.lit(float(tile_size)),
    )


def xy_col(zc: Column, lon: Column, lat: Column) -> Column:
    """[x, y] AEQD meters in zone zc — compiled AEQD forward."""
    return F.call_udf("equi7_xy", zc.cast("tinyint"), lon.cast("double"), lat.cast("double"))


def lonlat_col(zc: Column, x: Column, y: Column) -> Column:
    """[lon, lat] from (zone code, x, y) — compiled AEQD inverse."""
    return F.call_udf(
        "equi7_lonlat", zc.cast("tinyint"), x.cast("double"), y.cast("double")
    )


def key_counts(df: DataFrame, key: Column) -> DataFrame:
    """(zc, tx, ty, n) row counts per packed zone+tile key (the
    zone_tile_key_col layout); null keys (out of zone) are not counted.
    One shuffle on the single long key, map-side partial aggregation."""
    # explode-of-one barrier: the isNotNull filter would otherwise be
    # pushed down as a second evaluation of the (deterministic) UDF
    keyed = df.select(F.explode(F.array(key)).alias("k")).filter(F.col("k").isNotNull())
    k = F.col("k")
    return (
        keyed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.shiftright(k, 28).cast("tinyint").alias("zc"),
            (F.shiftright(k, 14).bitwiseAND(16383) - 8192).cast("long").alias("tx"),
            (k.bitwiseAND(16383) - 8192).cast("long").alias("ty"),
            "n",
        )
    )
