"""Cell index: three-backend parity + algebraic invariants.

Mirrors the reference's golden cell tests (/root/reference/test.py:76-83 pins
exact cell filenames; /root/reference/test.bats:81-90 pins center output)."""

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geoutils_spark.functions import cells as C
from geoutils_spark.functions.keys import (
    key_lat_col, key_lat_sql, key_lon_col, key_lon_sql,
)

LEVEL = 12
N = 3000


def _frame(spark, n=N, global_spread=False):
    df = spark.range(n).withColumnRenamed("id", "k")
    if global_spread:
        # cover poles/antimeridian neighborhoods
        lon = (F.col("k") * 773 % 7200) / F.lit(10.0) - 360.0 + 0.05
        lat = (F.col("k") * 389 % 1800) / F.lit(10.0) - 90.0 + 0.025
        return df.withColumn("lon", F.greatest(F.least(lon, F.lit(179.999)), F.lit(-180.0))) \
                 .withColumn("lat", lat)
    return df.withColumn("lon", key_lon_col(F.col("k"))).withColumn(
        "lat", key_lat_col(F.col("k")))


def test_three_backend_parity(spark):
    df = C.with_cell(_frame(spark), "lon", "lat", LEVEL, "cell")
    p = df.orderBy("k").toPandas()
    got = p.cell.to_numpy()
    # numpy backend
    assert (C.cell_ids_np(p.lon.to_numpy(), p.lat.to_numpy(), LEVEL) == got).all()
    # duckdb SQL backend (identical formula text)
    sql = (
        f"SELECT {C.cell_sql(key_lon_sql('i'), key_lat_sql('i'), LEVEL)} AS cell "
        f"FROM range({N}) t(i) ORDER BY i"
    )
    assert (duckdb.sql(sql).df().cell.to_numpy() == got).all()
    # pandas-UDF backend
    udf = C.make_cell_udf(LEVEL)
    p2 = df.withColumn("uc", udf(F.col("lon"), F.col("lat"))).orderBy("k").toPandas()
    assert (p2.uc.to_numpy() == got).all()


def test_invariants_roundtrip(spark):
    df = C.with_cell(_frame(spark, global_spread=True), "lon", "lat", LEVEL, "cell")
    df = df.withColumn("parent", C.cell_parent_col(F.col("cell"), 8))
    df = df.withColumn("lvl", C.cell_level_col(F.col("cell")))
    df = df.withColumn("plvl", C.cell_level_col(F.col("parent")))
    rmin, rmax = C.cell_range_col(F.col("parent"))
    df = df.withColumn("rmin", rmin).withColumn("rmax", rmax)
    df = C.with_cell_tile_xy(df, "cell", LEVEL, "tx", "ty")
    df = C.with_cell_from_tile(df, "tx", "ty", LEVEL, "cell2")
    df = df.withColumn("hex", C.cell_to_hex_col(F.col("cell")))
    df = df.withColumn("unhex", C.hex_to_cell_col(F.col("hex")))
    df = C.with_cell_center(df, "cell", LEVEL, "clon", "clat")
    df = C.with_cell(df, "clon", "clat", LEVEL, "ccell")
    p = df.toPandas()
    c = p.cell.to_numpy()
    assert (c > 0).all(), "ids stay positive int64"
    assert (p.lvl == LEVEL).all()
    assert (p.plvl == 8).all()
    assert ((c >= p.rmin.to_numpy()) & (c <= p.rmax.to_numpy())).all(), \
        "descendant ids lie in parent range (containment-as-range)"
    assert (p.cell2.to_numpy() == c).all(), "tile decode/encode roundtrip"
    assert (p.unhex.to_numpy() == c).all(), "hex roundtrip (s2_<hex16> naming)"
    assert (p.ccell.to_numpy() == c).all(), "center maps back into its cell"
    assert (C.cell_parent_np(c, 8) == p.parent.to_numpy()).all()


def test_cell_corners(spark):
    """Each corner, nudged toward the center, encodes back into its cell;
    the NW corner is the tile's upper-left edge."""
    # Cells and corners go through pandas: built in one plan, the same
    # steps ran for minutes at 500 rows without finishing.
    cells = C.with_cell(_frame(spark, n=500, global_spread=True), "lon", "lat",
                        LEVEL, "cell").select("cell").toPandas()
    df = spark.createDataFrame(cells)
    df = df.withColumn("corners", C.cell_corners_col(F.col("cell"), LEVEL))
    df = C.with_cell_center(df, "cell", LEVEL, "clon", "clat")
    df = C.with_cell_tile_xy(df, "cell", LEVEL, "tx", "ty")
    p = df.select("cell", "tx", "ty", "clon", "clat",
                  F.posexplode("corners").alias("i", "c")) \
          .select("cell", "tx", "ty", "clon", "clat", "i", "c.lon", "c.lat").toPandas()
    assert len(p) == 4 * 500
    eps = 1e-3
    p["nlon"] = p.lon + eps * (p.clon - p.lon)
    p["nlat"] = p.lat + eps * (p.clat - p.lat)
    nudged = C.with_cell(spark.createDataFrame(p[["cell", "nlon", "nlat"]]),
                         "nlon", "nlat", LEVEL, "ncell").toPandas()
    assert (nudged.ncell == nudged.cell).all(), "nudged corners stay in their cell"
    nw = p[p.i == 0]
    n = float(1 << LEVEL)
    edge_lon = nw.tx.to_numpy() / n * 360.0 - 180.0
    edge_lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * nw.ty.to_numpy() / n))))
    assert np.allclose(nw.lon.to_numpy(), edge_lon, rtol=0, atol=1e-9)
    assert np.allclose(nw.lat.to_numpy(), edge_lat, rtol=0, atol=1e-9)


def test_neighbors(spark):
    df = C.with_cell(_frame(spark), "lon", "lat", LEVEL, "cell")
    df = C.with_neighbor_cells(df, "cell", LEVEL, "nb")
    p = df.toPandas()
    assert p.nb.map(len).eq(9).all()
    for i in range(min(len(p), 200)):
        assert p.cell[i] in p.nb[i]
        assert len(set(p.nb[i])) == 9


def test_pinned_golden_cells(spark):
    """Frozen values — any change to the cell scheme must be deliberate
    (golden precedent: reference test.py:80-83)."""
    pdf = pd.DataFrame({"lon": [-0.0468724, 0.0, -73.9857], "lat": [51.473, 0.0, 40.7484]})
    got = C.cell_ids_np(pdf.lon.to_numpy(), pdf.lat.to_numpy(), 12).tolist()
    df = spark.createDataFrame(pdf)
    got_spark = [
        r.cell for r in
        C.with_cell(df, "lon", "lat", 12, "cell").select("cell").collect()
    ]
    assert got == got_spark
    assert got == [499595749831475200, 1729382325629747200, 506835071827705856]


def test_property_invariants_numpy():
    """Property-based: for random coords and levels, the numpy backend
    satisfies the index algebra (roundtrip, parent containment, range
    nesting, level recovery). Pure numpy — no Spark session needed, so
    hypothesis can fuzz thousands of cases cheaply."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=500, deadline=None)
    @given(
        st.floats(min_value=-180.0, max_value=179.999999),
        st.floats(min_value=-89.9, max_value=89.9),
        st.integers(min_value=1, max_value=30),
        st.integers(min_value=0, max_value=29),
    )
    def check(lon, lat, level, plevel_raw):
        plevel = min(plevel_raw, level - 1) if level > 1 else 0
        cell = int(C.cell_ids_np(np.array([lon]), np.array([lat]), level)[0])
        assert cell > 0
        # tile roundtrip
        tx, ty = C.cell_to_tile_np(np.array([cell]), level)
        again = int(C.cell_from_tile_np(tx, ty, level)[0])
        assert again == cell
        if plevel >= 1:
            parent = int(C.cell_parent_np(np.array([cell]), plevel)[0])
            # parent is its own parent at its level
            assert int(C.cell_parent_np(np.array([parent]), plevel)[0]) == parent
            # child lies inside parent's descendant range
            lsb = parent & -parent
            assert parent - lsb + 1 <= cell <= parent + lsb - 1
            # parent's tile coords are the child's shifted down
            ptx, pty = C.cell_to_tile_np(np.array([parent]), plevel)
            assert int(ptx[0]) == int(tx[0]) >> (level - plevel)
            assert int(pty[0]) == int(ty[0]) >> (level - plevel)

    check()


def test_quadkey_bing_golden_and_nesting(spark):
    """Bing's documented example: tile (3, 5) at level 3 -> '213'. Derive
    a lon/lat hitting that tile, then check digit order and prefix
    nesting against the cell id's own tile decode."""
    from pyspark.sql import functions as F

    # center of tile (3,5) @ z3: unit u=(3.5/8), v=(5.5/8)
    import math
    u, v = 3.5 / 8, 5.5 / 8
    lon = u * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * v))))
    df = spark.createDataFrame([(lon, lat)], "lon double, lat double")
    qk3 = C.quadkey_col(F.col("lon"), F.col("lat"), 3)
    qk5 = C.quadkey_col(F.col("lon"), F.col("lat"), 5)
    r = df.select(qk3.alias("q3"), qk5.alias("q5")).first()
    assert r["q3"] == "213"
    assert r["q5"][:3] == "213"   # prefix nesting
    import pytest as _pytest
    with _pytest.raises(ValueError):
        C.quadkey_col(F.col("lon"), F.col("lat"), 0)
