"""End-to-end Spark tile assignment (the flagship operator)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER
from equi7grid_spark.operators import kernel
from equi7grid_spark.operators.assign import assign_tiles_buffered, distortion_ellipsoid_udf
from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm


@pytest.fixture(scope="module")
def points(spark):
    pdf = pd.DataFrame(
        {
            "id": range(6),
            "lon": [15.1, -178.5, -178.0, 173.0, 18.507, 51.12],
            "lat": [45.3, 67.75, 51.75, 53.0, 44.571, 61.71],
        }
    )
    return spark.createDataFrame(pdf)


def test_assign_tiles_goldens(points):
    out = assign_tiles_jvm(points, tiling_id="T6", sampling=500.0).orderBy("id").collect()
    # reference tests/test_equi7grid.py:59-99 projected coords
    assert out[0].subgrid == "EU"
    assert out[0].x == pytest.approx(5138743.127891, abs=1.0)
    assert out[0].y == pytest.approx(1307029.157093, abs=1.0)
    assert out[1].subgrid == "AS"
    assert out[2].subgrid == "NA"
    assert out[3].subgrid == "NA"
    # reference :164-174 — (18.507, 44.571) → EU_E048N012T6 pixel (1199, 1199)
    assert out[4].tilename == "EU_E048N012T6"
    assert (out[4].row, out[4].col) == (1199, 1199)
    # reference :405-409 — transition point is AS only
    assert out[5].subgrid == "AS"


def test_assign_tiles_buffered_multizone(points):
    out = (
        assign_tiles_buffered(points, tiling_id="T6")
        .filter(F.col("id") == 5)
        .orderBy("subgrid")
        .collect()
    )
    # reference :412-418 — buffered zones overlap: AS and EU
    assert [r.subgrid for r in out] == ["AS", "EU"]


def test_inverse_roundtrip_spark(points):
    df = assign_tiles_jvm(points, tiling_id="T6")
    zc = F.array_position(F.array(*[F.lit(c) for c in DEFAULT_SYSTEM_ORDER]), F.col("subgrid")) - 1
    inv = df.withColumn("ll", kernel.lonlat_col(zc, F.col("x"), F.col("y")))
    rows = inv.select("lon", "lat", F.col("ll")[0], F.col("ll")[1]).collect()
    for lon, lat, lon2, lat2 in rows:
        assert lon2 == pytest.approx(lon, abs=1e-6)
        assert lat2 == pytest.approx(lat, abs=1e-6)


def test_distortion_udf(spark):
    df = spark.createDataFrame([{"sub": "AF", "lon": -29.1, "lat": 24.0}])
    k = df.select(distortion_ellipsoid_udf(F.col("sub"), F.col("lon"), F.col("lat")).alias("k"))
    assert k.collect()[0].k == pytest.approx(1.1432971727108836, abs=1e-6)


def test_out_of_zone_filtered(spark):
    # the standard zones partition the globe, so out-of-zone points are
    # the non-finite ones (reference GeomOutOfZoneError, :421-428)
    df = spark.createDataFrame([(float("nan"), 61.71)], "lon double, lat double")
    for op in (assign_tiles_jvm, assign_tiles_buffered):
        assert op(df).count() == 0
        out = op(df, drop_out_of_zone=False).collect()
        assert len(out) == 1 and out[0].subgrid is None
