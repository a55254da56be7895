"""Compiled-kernel assignment vs the NumPy reference: zone resolve
(zones.assign_primary_zone_code), AEQD forward/inverse
(geodesy.aeqd_forward / aeqd_inverse) and the tile operators built on
them (tile_counts_jvm, assign_tiles_jvm) must agree per point and per
tile, including the bad-input contract (null, NaN, ±inf → out of
zone) and the packed tile key's field widths."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER, TILING_ID_TO_SIZE
from equi7grid_spark.geodesy import aeqd_forward
from equi7grid_spark.operators import kernel
from equi7grid_spark.operators.assign_jvm import (
    assign_tiles_jvm,
    cell_code_pdf,
    tile_counts_jvm,
)
from equi7grid_spark.tile import Tile
from equi7grid_spark.zones import assign_primary_zone_code


@pytest.fixture(autouse=True)
def _registered(spark):
    kernel.kernel_available(spark)


def _inzone_grid(step=1.5):
    """Dense global grid with per-point primary zone, in-zone only."""
    lon = np.arange(-179.75, 180.0, step)
    lat = np.arange(-89.75, 90.0, step)
    LO, LA = np.meshgrid(lon, lat)
    lo, la = LO.ravel(), LA.ravel()
    zc = assign_primary_zone_code(lo, la)
    m = zc >= 0
    return lo[m], la[m], zc[m]


def _numpy_zone_xy(lon, lat):
    """NumPy reference: primary zone code (-1 = out) + AEQD x/y (NaN out)."""
    zc = assign_primary_zone_code(lon, lat)
    x = np.full(lon.shape, np.nan)
    y = np.full(lon.shape, np.nan)
    for code in np.unique(zc[zc >= 0]):
        m = zc == code
        x[m], y[m] = aeqd_forward(DEFAULT_SYSTEM_ORDER[code], lon[m], lat[m])
    return zc, x, y


def _numpy_tile_counts(lon, lat, tiling_id="T6"):
    """Sorted (subgrid, tilename, ll_x, ll_y, n) rows from NumPy."""
    zc, x, y = _numpy_zone_xy(lon, lat)
    m = zc >= 0
    counts = Counter(
        Tile.from_xy(DEFAULT_SYSTEM_ORDER[c], xi, yi, tiling_id)
        for c, xi, yi in zip(zc[m], x[m], y[m])
    )
    return sorted(
        (t.subgrid, t.name, float(t.ll_x), float(t.ll_y), n)
        for t, n in counts.items()
    )


def _rows(df):
    return sorted(
        (r.subgrid, r.tilename, r.ll_x, r.ll_y, r.n)
        for r in df.collect()
    )


def _sf_lonlat(spark, sf_dir):
    from equi7grid_spark.queries import _derived_lonlat

    pdf = _derived_lonlat(spark, sf_dir).orderBy("pt_id").toPandas()
    return pdf, pdf["lon"].to_numpy(), pdf["lat"].to_numpy()


def test_kernel_zone_xy_matches_numpy(spark):
    """equi7_zone_xy (zone resolve + AEQD forward in one call) over a
    dense global grid: same zone as NumPy, x/y to float64 round-off."""
    lo, la, zc = _inzone_grid(step=1.5)
    pdf = pd.DataFrame({"i": np.arange(lo.size), "lon": lo, "lat": la})
    out = (
        spark.createDataFrame(pdf)
        .select("i", kernel.zone_xy_col(F.col("lon"), F.col("lat")).alias("z"))
        .orderBy("i")
        .select("z.zc", "z.x", "z.y")
        .toPandas()
    )
    ezc, ex, ey = _numpy_zone_xy(lo, la)
    np.testing.assert_array_equal(out["zc"].to_numpy(), ezc)
    assert np.abs(out["x"].to_numpy() - ex).max() < 1e-8
    assert np.abs(out["y"].to_numpy() - ey).max() < 1e-8


def test_cell_map_decided_agrees_with_exact(spark):
    """Every decided cell's code must equal the exact kernel's answer
    for points sampled inside the cell (4 interior samples/cell)."""
    codes = cell_code_pdf()
    dec = codes[codes["zc"] >= 0]
    ix = (dec["cell_id"] // 180).to_numpy()
    iy = (dec["cell_id"] % 180).to_numpy()
    for fx, fy in [(0.25, 0.25), (0.75, 0.25), (0.25, 0.75), (0.75, 0.75)]:
        lo = ix - 180.0 + fx
        la = iy - 90.0 + fy
        exact = assign_primary_zone_code(lo, la)
        assert (exact == dec["zc"].to_numpy()).all()


@pytest.mark.parametrize("tiling_id", ["T6", "T3"])
def test_tile_counts_jvm_matches_numpy(spark, sf_dir, tiling_id):
    pdf, lon, lat = _sf_lonlat(spark, sf_dir)
    got = _rows(tile_counts_jvm(spark.createDataFrame(pdf), tiling_id=tiling_id))
    assert got == _numpy_tile_counts(lon, lat, tiling_id)


def test_tile_counts_jvm_boundary_heavy(spark):
    """Grid that oversamples prefilter-boundary cells (where the jar's
    exact parity resolve runs) — counts must match the NumPy path."""
    codes = cell_code_pdf()
    und = codes[codes["zc"] == -2].head(400)
    ix = (und["cell_id"] // 180).to_numpy()
    iy = (und["cell_id"] % 180).to_numpy()
    pts = []
    for fx in (0.1, 0.5, 0.9):
        for fy in (0.1, 0.5, 0.9):
            pts.append(np.stack([ix - 180.0 + fx, iy - 90.0 + fy], axis=1))
    arr = np.concatenate(pts)
    sdf = spark.createDataFrame(pd.DataFrame({"lon": arr[:, 0], "lat": arr[:, 1]}))
    assert _rows(tile_counts_jvm(sdf)) == _numpy_tile_counts(arr[:, 0], arr[:, 1])


def test_assign_tiles_jvm_matches_numpy(spark, sf_dir):
    """Row-level assignment with `sampling`: subgrid, tilename and
    pixel row/col equal the NumPy Tile path, x/y to round-off."""
    pdf, lon, lat = _sf_lonlat(spark, sf_dir)
    got = (
        assign_tiles_jvm(spark.createDataFrame(pdf), sampling=500.0)
        .orderBy("pt_id")
        .toPandas()
    )
    zc, x, y = _numpy_zone_xy(lon, lat)
    m = zc >= 0
    assert got["pt_id"].tolist() == pdf["pt_id"][m].tolist()
    tiles = [
        Tile.from_xy(DEFAULT_SYSTEM_ORDER[c], xi, yi, "T6", sampling=500.0)
        for c, xi, yi in zip(zc[m], x[m], y[m])
    ]
    assert got["subgrid"].tolist() == [t.subgrid for t in tiles]
    assert got["tilename"].tolist() == [t.name for t in tiles]
    rc = [t.xy2rc(xi, yi) for t, xi, yi in zip(tiles, x[m], y[m])]
    assert list(zip(got["row"], got["col"])) == [(int(r), int(c)) for r, c in rc]
    assert np.abs(got["x"].to_numpy() - x[m]).max() < 1e-8
    assert np.abs(got["y"].to_numpy() - y[m]).max() < 1e-8


def test_kernel_xy_matches_numpy(spark):
    lo, la, zc = _inzone_grid(step=3.5)
    pdf = pd.DataFrame({"lon": lo, "lat": la, "zc": zc.astype("int8")})
    out = (
        spark.createDataFrame(pdf)
        .select("zc", "lon", "lat", kernel.xy_col(F.col("zc"), F.col("lon"), F.col("lat")).alias("xy"))
        .toPandas()
    )
    xs = np.empty(len(out))
    ys = np.empty(len(out))
    for code in np.unique(out["zc"]):
        m = (out["zc"] == code).to_numpy()
        cc = DEFAULT_SYSTEM_ORDER[code]
        xs[m], ys[m] = aeqd_forward(cc, out["lon"].to_numpy()[m], out["lat"].to_numpy()[m])
    gx = np.array([v[0] for v in out["xy"]])
    gy = np.array([v[1] for v in out["xy"]])
    assert np.abs(gx - xs).max() < 1e-8 and np.abs(gy - ys).max() < 1e-8


def test_kernel_lonlat_matches_numpy(spark):
    """Compiled AEQD inverse (equi7_lonlat) vs the converged NumPy
    direct kernel, plus roundtrip closure on the original lonlat."""
    from equi7grid_spark.geodesy import aeqd_inverse

    lo, la, zc = _inzone_grid(step=2.5)
    xs = np.empty(lo.size)
    ys = np.empty(lo.size)
    for code in np.unique(zc):
        m = zc == code
        xs[m], ys[m] = aeqd_forward(DEFAULT_SYSTEM_ORDER[code], lo[m], la[m])
    pdf = pd.DataFrame(
        {"i": np.arange(lo.size), "zc": zc.astype("int8"), "x": xs, "y": ys}
    )
    out = (
        spark.createDataFrame(pdf)
        .select(
            "i", "zc", "x", "y",
            kernel.lonlat_col(F.col("zc"), F.col("x"), F.col("y")).alias("ll"),
        )
        .orderBy("i")
        .toPandas()
    )
    eln = np.empty(len(out))
    elt = np.empty(len(out))
    oz = out["zc"].to_numpy()
    for code in np.unique(oz):
        m = oz == code
        eln[m], elt[m] = aeqd_inverse(
            DEFAULT_SYSTEM_ORDER[code],
            out["x"].to_numpy()[m],
            out["y"].to_numpy()[m],
        )
    glon = np.array([v[0] for v in out["ll"]])
    glat = np.array([v[1] for v in out["ll"]])
    dlon = np.abs(glon - eln)
    assert np.minimum(dlon, 360.0 - dlon).max() < 1e-11
    assert np.abs(glat - elt).max() < 1e-11
    # roundtrip closure on the ORIGINAL lonlat (rows aligned via the
    # explicit index) — catches a convention drift shared by the Java
    # and NumPy direct kernels
    rl = np.abs(glon - lo)
    assert np.minimum(rl, 360.0 - rl).max() < 1e-9
    assert np.abs(glat - la).max() < 1e-9


def test_kernel_boundary_resolve_matches_numpy_every_cell(spark):
    """Round-4 insurance gate (verdict #5): the jar's baked-in zone
    resolver + Vincenty must agree with the NumPy path on zone AND T6
    tile assignment for seeded points in EVERY one of the 2,701
    prefilter-boundary cells — exactly the cells the decided-subset
    oracles used to skip."""
    from equi7grid_spark.zones_pip import boundary_cands, resolve_numpy

    cells = np.repeat(
        np.array([c["cell_id"] for c in boundary_cands()]), 4
    )
    rng = np.random.default_rng(31)
    lon = (cells // 180) - 180.0 + rng.random(cells.size)
    lat = (cells % 180) - 90.0 + rng.random(cells.size)
    pdf = pd.DataFrame({"i": np.arange(cells.size), "lon": lon, "lat": lat})
    out = (
        spark.createDataFrame(pdf)
        .select(
            "i",
            kernel.zone_tile_key_col(F.col("lon"), F.col("lat"), 600000.0).alias("k"),
        )
        .orderBy("i")
        .toPandas()
    )
    k = out["k"].to_numpy(dtype="float64")  # NaN where null (out of zone)
    got_zc = np.where(np.isnan(k), -1, np.floor_divide(k, 1 << 28)).astype("int64")
    exp_zc = resolve_numpy(lon, lat)
    np.testing.assert_array_equal(got_zc, exp_zc)
    # tile floors vs the NumPy Vincenty on the in-zone rows
    m = exp_zc >= 0
    ki = out["k"].to_numpy()[m].astype("int64")
    got_tx = ((ki >> 14) & 16383) - 8192
    got_ty = (ki & 16383) - 8192
    exp_tx = np.empty(m.sum(), dtype="int64")
    exp_ty = np.empty(m.sum(), dtype="int64")
    for code in np.unique(exp_zc[m]):
        mm = exp_zc[m] == code
        x, y = aeqd_forward(DEFAULT_SYSTEM_ORDER[code], lon[m][mm], lat[m][mm])
        exp_tx[mm] = np.floor(x / 600000.0).astype("int64")
        exp_ty[mm] = np.floor(y / 600000.0).astype("int64")
    np.testing.assert_array_equal(got_tx, exp_tx)
    np.testing.assert_array_equal(got_ty, exp_ty)


def test_assign_tiles_jvm_keeps_all_rows_when_not_dropping(spark):
    """The std zones partition the globe (decided_cell_codes has no -1
    cells), so drop_out_of_zone=False must simply preserve row count and
    agree with the NumPy path on every subgrid."""
    lon = np.array([5.0, -140.0, 170.0, -30.0])
    lat = np.array([47.0, 0.0, -85.0, 65.0])
    sdf = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    b = assign_tiles_jvm(sdf, drop_out_of_zone=False).orderBy("lon").collect()
    order = np.argsort(lon)
    zc, x, y = _numpy_zone_xy(lon[order], lat[order])
    assert len(b) == 4
    assert [r.subgrid for r in b] == [DEFAULT_SYSTEM_ORDER[c] for c in zc]
    assert [r.tilename for r in b] == [
        Tile.from_xy(DEFAULT_SYSTEM_ORDER[c], xi, yi).name
        for c, xi, yi in zip(zc, x, y)
    ]


# null, NaN and ±inf in either coordinate; one finite in-zone control row
_BAD = [
    (0, 15.0, 48.0),
    (1, float("nan"), 48.0),
    (2, 15.0, float("nan")),
    (3, float("inf"), 10.0),
    (4, float("-inf"), 10.0),
    (5, 15.0, float("inf")),
    (6, None, 48.0),
    (7, 15.0, None),
]


def _bad_frame(spark):
    return spark.createDataFrame(_BAD, "i int, lon double, lat double")


def test_kernel_non_finite_and_null_are_out_of_zone(spark):
    """Every zone-resolving kernel entry treats a null, NaN or ±inf
    coordinate as out of zone (null), like NumPy's -1."""
    lon = np.array([np.nan if r[1] is None else r[1] for r in _BAD])
    lat = np.array([np.nan if r[2] is None else r[2] for r in _BAD])
    exp = assign_primary_zone_code(lon, lat)
    lo, la = F.col("lon"), F.col("lat")
    rows = (
        _bad_frame(spark)
        .select(
            "i",
            kernel.zone_xy_col(lo, la).alias("z"),
            kernel.zone_tile_key_col(lo, la, 600000.0).alias("k"),
            kernel.roundtrip_zone_tile_key_col(lo, la, 600000.0).alias("rk"),
        )
        .orderBy("i")
        .collect()
    )
    got = [-1 if r.z is None else r.z.zc for r in rows]
    assert got == exp.tolist() == [3] + [-1] * (len(_BAD) - 1)
    for r in rows:
        assert (r.k is None) == (r.rk is None) == (r.z is None)


def test_null_lon_row_runs_through_operators(spark):
    """A frame with null/non-finite coordinates runs to completion: the
    bad rows are not counted, dropped by default, and kept with a null
    subgrid and NaN x/y when drop_out_of_zone=False."""
    df = _bad_frame(spark)
    counts = tile_counts_jvm(df).collect()
    assert [(r.tilename, r.n) for r in counts] == [("EU_E048N012T6", 1)]
    assert [r.i for r in assign_tiles_jvm(df).collect()] == [0]
    kept = assign_tiles_jvm(df, drop_out_of_zone=False).orderBy("i").collect()
    assert len(kept) == len(_BAD)
    assert kept[0].subgrid == "EU"
    for r in kept[1:]:
        assert r.subgrid is None and np.isnan(r.x) and np.isnan(r.y)


def test_packed_key_overflow_raises(spark, monkeypatch):
    """A tile size too small for the zone extent must fail loudly, not
    wrap tx into the zone field: OC reaches x ≈ 18.7e6 m, so a 1 km
    tiling gives tx ≈ 18,687 ≥ 8192. register_tiling only admits
    multiples of 100 km, so the entry goes into the registry directly."""
    monkeypatch.setitem(TILING_ID_TO_SIZE, "T0", 1000)
    df = spark.createDataFrame([(-124.75, 6.75)], "lon double, lat double")
    assert assign_primary_zone_code(np.array([-124.75]), np.array([6.75]))[0] == 4
    with pytest.raises(Exception, match="does not fit the packed tile key"):
        tile_counts_jvm(df, tiling_id="T0").collect()
    # the standard tilings fit everywhere
    assert tile_counts_jvm(df, tiling_id="T1").count() == 1


def test_assign_tiles_jvm_plan_is_one_kernel_pass(spark, sf_dir):
    """Row-level assignment is one scan + one compiled call per row:
    no join, no exchange, no Python evaluation node."""
    from equi7grid_spark.queries import _derived_lonlat

    df = assign_tiles_jvm(_derived_lonlat(spark, sf_dir), sampling=500.0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "equi7_zone_xy" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
