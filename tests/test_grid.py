"""Cell grid invariants: hexgrid (H3-shaped) and S2 (public spec)."""

import numpy as np

from geo_inference_spark.geom.core import points_in_polygon
from geo_inference_spark.grid import hexgrid, s2


def test_hex_roundtrip_and_parent():
    rng = np.random.RandomState(0)
    lat = rng.uniform(-80, 80, 2000)
    lng = rng.uniform(-179, 179, 2000)
    for res in (5, 7, 9, 11):
        c = hexgrid.latlng_to_cell(lat, lng, res)
        clat, clng = hexgrid.cell_to_latlng(c)
        # center distance bounded by circumradius
        assert (np.hypot(clat - lat, clng - lng) <= hexgrid.cell_size(res) + 1e-9).all()
        # center re-encodes to same cell
        assert (hexgrid.latlng_to_cell(clat, clng, res) == c).all()
        # parent contains child center
        p = hexgrid.parent(c, res - 2)
        assert (hexgrid.latlng_to_cell(clat, clng, res - 2) == p).all()


def test_hex_kring_counts_and_adjacency():
    c = hexgrid.latlng_to_cell(np.array([45.0]), np.array([-73.0]), 8)
    for k in (1, 2, 3):
        ring = hexgrid.k_ring(c, k)
        assert ring.shape == (1, 1 + 3 * k * (k + 1))
        assert len(np.unique(ring)) == ring.shape[1]
        assert c[0] in ring
    # every k=1 neighbor center is within 2*size of the center
    r1 = hexgrid.k_ring(c, 1)[0]
    clat, clng = hexgrid.cell_to_latlng(r1)
    olat, olng = hexgrid.cell_to_latlng(c)
    d = np.hypot(clat - olat[0], clng - olng[0])
    s = hexgrid.cell_size(8)
    assert (d[d > 0] <= 2 * s).all()


def test_hex_polyfill_covers_polygon():
    # every random point inside the polygon must land in a cover cell
    tri = np.array([[0, 0], [2.0, 0.2], [1.3, 1.7], [0.2, 1.1], [0, 0]])
    res = 6
    cells, boundary = hexgrid.polyfill([tri], res)
    cellset = set(cells.tolist())
    rng = np.random.RandomState(5)
    px = rng.uniform(-0.2, 2.2, 3000)
    py = rng.uniform(-0.2, 1.9, 3000)
    inside = points_in_polygon(px, py, [tri])
    pc = hexgrid.latlng_to_cell(py[inside], px[inside], res)
    assert all(c in cellset for c in pc.tolist())
    # interior cells contain only inside points
    interior = set(cells[~boundary].tolist())
    pc_all = hexgrid.latlng_to_cell(py, px, res)
    in_interior = np.array([c in interior for c in pc_all.tolist()])
    assert inside[in_interior].all()


def test_s2_structure_and_roundtrip():
    rng = np.random.RandomState(1)
    lat = rng.uniform(-89, 89, 5000)
    lng = rng.uniform(-180, 180, 5000)
    leaf = s2.latlng_to_cell(lat, lng)
    assert (s2.level(leaf) == 30).all()
    rlat, rlng = s2.cell_to_latlng(leaf)
    dlng = np.abs(((rlng - lng + 180) % 360) - 180)
    assert np.max(np.hypot(rlat - lat, dlng)) < 1e-5
    for lv in (0, 4, 9, 16, 25):
        p = s2.parent(leaf, lv)
        assert (s2.level(p) == lv).all()
        assert (p == s2.latlng_to_cell(lat, lng, lv)).all()
        lo = s2.range_min(p).astype(np.uint64)
        hi = s2.range_max(p).astype(np.uint64)
        u = leaf.astype(np.uint64)
        assert ((lo <= u) & (u <= hi)).all()
        clat, clng = s2.cell_to_latlng(p)
        assert (s2.latlng_to_cell(clat, clng, lv) == p).all()


def test_s2_face_centers():
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    lng = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    f = s2.parent(s2.latlng_to_cell(lat, lng), 0)
    # six distinct face cells, ids = (face*2+1) << 60 as uint64
    u = np.sort(f.astype(np.uint64))
    exp = np.sort(np.array([(2 * k + 1) << 60 for k in range(6)], dtype=np.uint64))
    assert (u == exp).all()


def test_children_partition_property():
    import numpy as np

    from geo_inference_spark.grid import hexgrid as hg

    rng = np.random.RandomState(4)
    lats = rng.uniform(-60, 60, 20)
    lons = rng.uniform(-170, 170, 20)
    cells = hg.latlng_to_cell(lats, lons, 6)
    counts = []
    for c in np.unique(cells):
        ch = hg.children(np.int64(c))
        counts.append(len(ch))
        assert (hg.parent(ch, 6) == c).all()
        # every child is distinct and at res 7
        res, _, _ = hg.unpack(ch)
        assert (res == 7).all()
    # aperture-7 grid: ~7 children on average
    assert 5.5 <= np.mean(counts) <= 8.5, np.mean(counts)
    assert (hg.grid_disk(cells[:3], 2) == hg.k_ring(cells[:3], 2)).all()


def _geocode_probe_points():
    """Random points, the vertices and edge midpoints of real cells
    (where cube rounding ties), and the +-90/+-180 corners."""
    rng = np.random.RandomState(11)
    lat = rng.uniform(-90, 90, 4000)
    lng = rng.uniform(-180, 180, 4000)
    lats, lngs = [lat], [lng]
    for res in (0, 3, 7, 10, 15):
        b = hexgrid.cell_boundary(hexgrid.latlng_to_cell(lat[:300], lng[:300], res))
        lngs += [b[:, :6, 0].ravel(), ((b[:, :6, 0] + b[:, 1:, 0]) / 2).ravel()]
        lats += [b[:, :6, 1].ravel(), ((b[:, :6, 1] + b[:, 1:, 1]) / 2).ravel()]
    corners = [(a, o) for a in (-90.0, 0.0, 90.0) for o in (-180.0, 0.0, 180.0)]
    lats.append(np.array([c[0] for c in corners]))
    lngs.append(np.array([c[1] for c in corners]))
    return np.concatenate(lats), np.concatenate(lngs)


def test_spark_geocode_expression_bit_identical(spark):
    """hex_cell_udf (the JVM expression every Spark caller uses) ==
    hexgrid.latlng_to_cell, bit for bit, at every resolution."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geo_inference_spark.operators.geocode import hex_cell_udf

    lat, lng = _geocode_probe_points()
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lng}))
    got = df.select(*[
        hex_cell_udf(r)(F.col("lat"), F.col("lon")).alias(f"c{r}")
        for r in range(hexgrid.MAX_RES + 1)
    ]).toPandas()
    for r in range(hexgrid.MAX_RES + 1):
        exp = hexgrid.latlng_to_cell(lat, lng, r)
        np.testing.assert_array_equal(got[f"c{r}"].to_numpy(np.int64), exp)


def test_spark_geocode_bad_coordinates_are_null(spark):
    """A null, NaN or infinite coordinate geocodes to a null cell (it
    joins nothing) instead of failing the job on an ANSI cast."""
    from pyspark.sql import functions as F

    from geo_inference_spark.operators.geocode import hex_cell_udf

    rows = [(None, 1.0), (float("nan"), 1.0), (1.0, float("inf")), (45.0, -73.0)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    got = [r[0] for r in df.select(
        hex_cell_udf(8)(F.col("lat"), F.col("lon"))).collect()]
    assert got[:3] == [None, None, None]
    assert got[3] == int(hexgrid.latlng_to_cell(45.0, -73.0, 8))


def test_spark_rint_is_numpy_rint_on_halves(spark):
    """F.rint (Java Math.rint) rounds exact .5 halves to even, as
    np.rint does — the tie rule the geocode parity rests on."""
    from pyspark.sql import functions as F

    halves = [k + 0.5 for k in range(-6, 6)] + [2.0 ** 51 + 0.5, -(2.0 ** 51) - 0.5]
    df = spark.createDataFrame([(v,) for v in halves], "x double")
    got = [r[0] for r in df.select(F.rint("x")).collect()]
    assert got == np.rint(np.array(halves)).tolist()


def test_cells_embed_resolution_and_never_collide_across_res():
    """Cell ids carry their resolution, so cells at r1 != r2 are never
    equal — the multi-res pip_join keys ONE broadcast cover by cell."""
    lat, lng = _geocode_probe_points()
    by_res = {}
    for r in range(hexgrid.MAX_RES + 1):
        c = hexgrid.latlng_to_cell(lat, lng, r)
        assert (hexgrid.unpack(c)[0] == r).all()
        by_res[r] = set(c.tolist())
    for r1 in by_res:
        for r2 in range(r1 + 1, hexgrid.MAX_RES + 1):
            assert not by_res[r1] & by_res[r2], (r1, r2)
