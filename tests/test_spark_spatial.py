"""Spark-path tests: shapefile source/sink, page table, PIP join vs oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from shapefile_rs_spark import fixtures as FX
from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join
from shapefile_rs_spark.pages import extract_text, geotag_pages, lonlat_numpy, pages_from_documents
from shapefile_rs_spark.sources.shapefile_source import read_shapefiles, shapes_with_typed_attrs


def test_read_shapefiles_source(spark, join_fixture_dir):
    shapes = read_shapefiles(spark, join_fixture_dir)
    rows = shapes.orderBy("source_file", "record_number").collect()
    assert len(rows) == 9  # 7 points + 2 polygons
    by_file = {}
    for r in rows:
        by_file.setdefault(r.source_file.rsplit("/", 1)[-1], []).append(r)
    assert len(by_file["points"]) == 7
    assert len(by_file["polygons"]) == 2
    pt1 = by_file["points"][0]
    assert (pt1.xmin, pt1.ymin) == (2.0, 2.0) and pt1.shape_type == 1
    poly1 = by_file["polygons"][0]
    assert poly1.num_parts == 2 and poly1.wkb is not None
    # typed attrs
    typed = shapes_with_typed_attrs(shapes, {"id": "bigint", "Type": "string"})
    tr = [r for r in typed.collect() if r.source_file.endswith("polygons")]
    assert sorted((r.id, r.Type) for r in tr) == [(1, "square-with-hole"), (2, "triangle")]


def test_pages_text_byte_identity(spark, sf_dir):
    """extract_text(html) must equal the source text byte-for-byte — the
    input_hint invariant."""
    pages = pages_from_documents(spark, sf_dir)
    bad = pages.filter(extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0
    n = pages.count()
    assert n > 0
    # url uniqueness
    assert pages.select("url").distinct().count() == n


def test_geotag_extraction_bit_exact(spark, sf_dir):
    """Parsed lat/lon must equal the SQL-arithmetic derivation bit-for-bit."""
    pages = geotag_pages(pages_from_documents(spark, sf_dir))
    pdf = pages.select("doc_id", "lat", "lon").toPandas()
    exp_lon, exp_lat = lonlat_numpy(pdf["doc_id"].to_numpy())
    assert np.array_equal(pdf["lon"].to_numpy(), exp_lon)
    assert np.array_equal(pdf["lat"].to_numpy(), exp_lat)


@pytest.mark.parametrize("mode", ["broadcast", "shuffle", "salted"])
def test_pip_join_matches_nested_loop_oracle(spark, sf_dir, join_fixture_dir, mode):
    from shapefile_rs_spark.geom.pip import nested_loop_pip_oracle
    from shapefile_rs_spark.geom.wkb import shape_to_wkb, wkb_rings

    pages = geotag_pages(pages_from_documents(spark, sf_dir)).select("doc_id", "lon", "lat")
    shapes = read_shapefiles(spark, join_fixture_dir)
    polygons = (
        shapes_with_typed_attrs(shapes, {"id": "bigint"})
        .filter(F.col("source_file").endswith("polygons"))
        .select(F.col("id").alias("polygon_id"), "wkb")
    )
    kwargs = {}
    if mode == "shuffle":
        kwargs = {"broadcast_polygons": False}
    elif mode == "salted":
        kwargs = {"broadcast_polygons": False, "salt_factor": 4, "hot_cell_threshold": 10}
    result = point_in_polygon_join(
        pages, polygons, point_cols=["doc_id"], polygon_cols=["polygon_id"], **kwargs
    )
    got = sorted((r.doc_id, r.polygon_id) for r in result.collect())

    # oracle: O(N·M) nested loop in numpy
    pdf = pages.toPandas()
    polys, _ = FX.fx_join_polygons()
    rings_per_poly = [wkb_rings(shape_to_wkb(p)) for p in polys]
    xy = np.column_stack([pdf["lon"], pdf["lat"]])
    pairs = nested_loop_pip_oracle(xy, rings_per_poly)
    expected = sorted((int(pdf["doc_id"].iloc[i]), j + 1) for i, j in pairs)
    assert got == expected
    assert len(got) > 0  # fixture actually exercises the join


def test_shapefile_sink_roundtrip(spark, join_fixture_dir, tmp_path):
    from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

    shapes = read_shapefiles(spark, join_fixture_dir).filter(
        F.col("source_file").endswith("polygons")
    )
    out = write_shapefiles(
        shapes.withColumn("output_stem", F.lit("roundtrip")),
        str(tmp_path),
    )
    assert len(out) == 1
    back = read_shapefiles(spark, str(tmp_path))
    rows = back.orderBy("record_number").collect()
    orig = shapes.orderBy("record_number").collect()
    assert len(rows) == len(orig) == 2
    for a, b in zip(rows, orig):
        assert a.wkb == b.wkb and a.num_points == b.num_points


def test_cell_id_col_matches_numpy_kernel(spark):
    """The Catalyst Morton twin must be bit-identical to the numpy kernel
    (cells.cell_id_col vs cells.cell_id) across resolutions and edges."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from shapefile_rs_spark import cells as C

    rng = np.random.default_rng(7)
    lon = np.concatenate(
        [rng.uniform(-180, 180, 5000), [-180.0, 180.0, 0.0, -179.9999999, 179.9999999]]
    )
    lat = np.concatenate(
        [rng.uniform(-90, 90, 5000), [-90.0, 90.0, 0.0, 89.9999999, -89.9999999]]
    )
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    for res in (0, 6, 8, 29):
        got = np.array(
            [r[0] for r in df.select(C.cell_id_col(F.col("lon"), F.col("lat"), res)).collect()]
        )
        assert (got == C.cell_id(lon, lat, res)).all()


def test_with_cell_ids_matches_cell_id_col(spark):
    """The staged-projection ids (cells.with_cell_ids) equal the inline
    cell_id_col ids at every res, edges, out-of-range and NaN included."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from shapefile_rs_spark import cells as C

    rng = np.random.default_rng(11)
    lon = np.concatenate(
        [rng.uniform(-180, 180, 2000), [-180.0, 180.0, 0.0, -179.9999999, 200.0, -200.0, np.nan]]
    )
    lat = np.concatenate(
        [rng.uniform(-90, 90, 2000), [-90.0, 90.0, 0.0, 89.9999999, 100.0, -100.0, 1.0]]
    )
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    levels = {f"c{r}": r for r in (0, 1, 6, 11, 12, 29)}
    ref = [C.cell_id_col(F.col("lon"), F.col("lat"), r).alias(f"ref_{n}") for n, r in levels.items()]
    out = C.with_cell_ids(df, "lon", "lat", levels).select("*", *ref).toPandas()
    assert list(out.columns[:2 + len(levels)]) == ["lon", "lat", *levels]
    for n in levels:
        assert (out[n] == out[f"ref_{n}"]).all(), n


def test_with_cells_multi_level_union(spark):
    """Multi-resolution indexing yields one row per (point, level) with
    the right per-level ids."""
    import pandas as pd
    from pyspark.sql import functions as F

    from shapefile_rs_spark import cells as C
    from shapefile_rs_spark.operators.spatial_join import with_cells

    pts = spark.createDataFrame(pd.DataFrame({"lon": [1.0, 50.0], "lat": [2.0, -10.0]}))
    out = with_cells(pts, [4, 8]).collect()
    assert len(out) == 4
    for r in out:
        import numpy as np

        want = C.cell_id(np.array([r["lon"]]), np.array([r["lat"]]), r["cell_res"])[0]
        assert r["cell_id"] == want


def test_typed_scan_mismatch_fails(spark, join_fixture_dir):
    """EP2 typed-scan parity: reading a polygon file as POINT must raise
    MismatchShapeType inside the task (reference src/record/mod.rs:55-68)."""
    import pytest
    from pyspark.errors import PythonException

    from shapefile_rs_spark.shapelib.shptypes import POINT, POLYGON
    from shapefile_rs_spark.sources.shapefile_source import read_shapefiles

    ok = read_shapefiles(spark, join_fixture_dir, pattern="points", expected_type=POINT)
    assert ok.count() == 7
    bad = read_shapefiles(spark, join_fixture_dir, pattern="polygons", expected_type=POINT)
    with pytest.raises(Exception) as exc:
        bad.count()
    assert "MismatchShapeType" in str(exc.value)


def test_salting_bounds_hot_cells(spark, sf_dir):
    """W1: with salting active, no single (cell, salt) key holds more than
    ~1/salt_factor of a hot cell's rows (the reducer-bound guarantee)."""
    from pyspark.sql import functions as F

    from shapefile_rs_spark.operators.spatial_join import with_cells
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pts = with_cells(
        geotag_pages(pages_from_documents(spark, sf_dir)).select("doc_id", "lon", "lat"),
        [8],
    )
    salt_factor = 8
    hot_threshold = 20
    hot = (
        pts.groupBy("cell_res", "cell_id")
        .count()
        .filter(F.col("count") >= hot_threshold)
        .select("cell_res", "cell_id", F.col("count").alias("cell_rows"))
    )
    assert hot.count() > 0  # the generator plants hot clusters
    salted = (
        pts.join(F.broadcast(hot), ["cell_res", "cell_id"])
        .withColumn("_salt", F.pmod(F.xxhash64("lon", "lat"), F.lit(salt_factor)))
        .groupBy("cell_res", "cell_id", "_salt", "cell_rows")
        .count()
    )
    # every salted shard must be well under the whole hot cell (bound with
    # slack for hash imbalance on small cells)
    bad = salted.filter(F.col("count") > (F.col("cell_rows") * 3) / salt_factor)
    assert bad.count() == 0


def test_source_error_surface(spark, tmp_path):
    """Reference error parity (tests/read_tests.rs:803-845 analogs):
    OrphanedInnerRing propagates from the default-mode source, MissingDbf
    under require_dbf, MissingIndexFile from random access without .shx."""
    from pyspark.errors import PythonException

    from shapefile_rs_spark.shapelib.shp import read_nth_shape, write_shp
    from shapefile_rs_spark.shapelib.shptypes import MissingIndexFile

    d = tmp_path / "bad"
    d.mkdir()
    shp, shx = write_shp(FX.fx_polygon())  # inner-before-outer record
    (d / "orphan.shp").write_bytes(shp)
    (d / "orphan.shx").write_bytes(shx)

    with pytest.raises(PythonException, match="OrphanedInnerRing"):
        read_shapefiles(spark, str(d)).collect()
    # scan-everything mode nulls the wkb instead
    rows = read_shapefiles(spark, str(d), on_invalid="null").collect()
    assert len(rows) == 1 and rows[0].wkb is None

    with pytest.raises(PythonException, match="MissingDbf"):
        read_shapefiles(spark, str(d), on_invalid="null", require_dbf=True).collect()

    with pytest.raises(MissingIndexFile):
        read_nth_shape(shp, None, 0)


def test_sink_zm_multipatch_null_and_cpg(spark, tmp_path):
    """Sink parity: Z/M export with ring normalization, NullShape
    pass-through, and .cpg emission honoring GBK on re-read
    (src/writer.rs:97-145; src/reader.rs:664-684)."""
    import numpy as np

    from shapefile_rs_spark.geom import rings as R
    from shapefile_rs_spark.geom.wkb import multipolygon_wkb, point_wkb, parse_wkb
    from shapefile_rs_spark.shapelib.dbf import DbfField
    from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

    # GIS-convention CCW + unclosed outer ring: the write side must close
    # and reorder so the file re-reads with an OUTER first ring
    ccw_open = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    rows = [
        ("pz", 1, 15, multipolygon_wkb([[ccw_open]]), [1.0, 2.0, 3.0, 4.0], None, "聚合"),
        ("pz", 2, None, None, None, None, "空"),
    ]

    def gen(batches):
        import pandas as pd

        if sum(len(b) for b in batches):
            yield pd.DataFrame(
                rows, columns=["stem", "record_number", "shape_type", "wkb", "z", "m", "名称"]
            )

    inp = spark.range(0, 1, 1, 1).mapInPandas(
        gen,
        schema="stem string, record_number int, shape_type int, wkb binary,"
        " z array<double>, m array<double>, `名称` string",
    )
    out = tmp_path / "sunk"
    write_shapefiles(
        inp,
        str(out),
        stem_col="stem",
        shape_type_col="shape_type",
        z_col="z",
        m_col="m",
        dbf_fields=[DbfField("名称", "C", 20, 0)],
        attr_cols=["名称"],
        encoding="cp936",
        crs_wkt='GEOGCS["WGS 84"]',
    )
    assert (out / "pz.cpg").read_text() == "936"
    assert (out / "pz.prj").read_text() == 'GEOGCS["WGS 84"]'

    got = read_shapefiles(spark, str(out)).orderBy("record_number").collect()
    assert [r.shape_type for r in got] == [15, 0]
    assert got[0].crs_wkt == 'GEOGCS["WGS 84"]'  # .prj honored on re-read
    r1 = got[0]
    assert r1.num_points == 5  # closed on write
    # first ring classifies OUTER after normalization
    _, payload = parse_wkb(bytes(r1.wkb))
    assert R.ring_role(payload[0][0]) == R.OUTER
    # z followed the reversed/closed ring: same multiset, closing dup added
    assert sorted(r1.z) == [1.0, 1.0, 2.0, 3.0, 4.0]
    # GBK attrs honored via the emitted .cpg
    import json

    assert json.loads(r1.attrs_json)["名称"] == "聚合"
    assert got[1].wkb is None and got[1].num_points == 0


def test_salted_join_sampled_census_same_rows(spark, sf_dir):
    """A sampled hot-cell census changes only WHICH cells get salted
    (physical layout) — the join's output row set is invariant."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pages = geotag_pages(pages_from_documents(spark, sf_dir)).select(
        "doc_id", "lon", "lat"
    )
    kwargs = dict(
        point_cols=["doc_id"],
        polygon_cols=["polygon_id"],
        broadcast_polygons=False,
        salt_factor=4,
        hot_cell_threshold=10,
    )
    full = {
        (r["doc_id"], r["polygon_id"])
        for r in point_in_polygon_join(
            pages, demo.oracle_polygons_df(spark), **kwargs
        ).collect()
    }
    sampled = {
        (r["doc_id"], r["polygon_id"])
        for r in point_in_polygon_join(
            pages, demo.oracle_polygons_df(spark), census_sample=0.3, **kwargs
        ).collect()
    }
    assert sampled == full and len(full) > 0


def test_salted_join_sampled_census_is_repeatable(spark, sf_dir, monkeypatch):
    """The sampled hot-cell census samples with its fixed seed: two
    identical salted joins plan the same ``Sample`` (seed 7) and salt
    the same hot cells."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pages = geotag_pages(pages_from_documents(spark, sf_dir)).select(
        "doc_id", "lon", "lat"
    )
    hot_frames = []
    broadcast = F.broadcast

    def spy(df):
        if "_hot" in df.columns:
            hot_frames.append(df)
        return broadcast(df)

    monkeypatch.setattr(F, "broadcast", spy)

    def run():
        out = point_in_polygon_join(
            pages,
            demo.oracle_polygons_df(spark),
            point_cols=["doc_id"],
            polygon_cols=["polygon_id"],
            broadcast_polygons=False,
            salt_factor=4,
            hot_cell_threshold=10,
            census_sample=0.3,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        (sample,) = {ln.strip(" :-+") for ln in plan.splitlines() if "Sample " in ln}
        hot = {(r["cell_res"], r["cell_id"]) for r in hot_frames[-1].collect()}
        return sample, hot

    sample, hot = run()
    assert sample == "Sample 0.0, 0.3, false, 7"
    assert hot
    assert run() == (sample, hot)


def test_polygon_stats_goldens(spark):
    """Shoelace area subtracts holes; perimeter sums all rings."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators.geostats import polygon_stats

    rows = {
        r["polygon_id"]: r
        for r in polygon_stats(demo.oracle_polygons_df(spark)).collect()
    }
    assert rows[1]["n_rings"] == 2 and rows[1]["n_outer"] == 1
    assert abs(rows[1]["area"] - 96.16) < 1e-9  # 10.01^2 - 2.01^2
    assert abs(rows[1]["perimeter"] - 48.08) < 1e-9
    assert rows[2]["n_rings"] == 1
    assert abs(rows[2]["area"] - 50.0) < 1e-9


@pytest.mark.parametrize("z", [0, 3, 6, 20])
def test_assign_tiles_matches_tile_column_functions(spark, z):
    """assign_tiles' SQL text gives the values of tile_x_col/tile_y_col
    (and of the tile_xy numpy twin near the grid) at lon ±180, lat ±90,
    out of range, on tile edges and just inside them; a replaced column
    keeps its position."""
    from shapefile_rs_spark.cells import tile_xy
    from shapefile_rs_spark.operators.tiles import assign_tiles, tile_x_col, tile_y_col

    n = 1 << z
    edges_x = -180.0 + np.arange(n + 1) * (360.0 / n)
    edges_y = 90.0 - np.arange(n + 1) * (180.0 / n)
    lons = [-180.0, 180.0, -180.5, 180.5, -1e300, 1e300, 0.0]
    lons += [float(v) for v in edges_x[:64]] + [float(np.nextafter(v, 0.0)) for v in edges_x[:64]]
    lats = [-90.0, 90.0, -90.5, 90.5, -1e300, 1e300, 0.0]
    lats += [float(v) for v in edges_y[:64]] + [float(np.nextafter(v, 0.0)) for v in edges_y[:64]]
    m = max(len(lons), len(lats))
    lons, lats = (lons * 2)[:m], (lats * 2)[:m]
    df = spark.createDataFrame(
        pd.DataFrame({"tile_x": 0, "lon": lons, "lat": lats}), "tile_x int, lon double, lat double"
    )
    out = assign_tiles(df, z).select(
        "*",
        tile_x_col(F.col("lon"), z).alias("want_x"),
        tile_y_col(F.col("lat"), z).alias("want_y"),
    )
    assert out.columns[:4] == ["tile_x", "lon", "lat", "tile_z"]
    assert out.schema["tile_x"].dataType == out.schema["want_x"].dataType
    rows = out.collect()
    assert all(r.tile_z == z for r in rows)
    assert [(r.tile_x, r.tile_y) for r in rows] == [(r.want_x, r.want_y) for r in rows]
    near = [i for i in range(m) if abs(lons[i]) < 1e3 and abs(lats[i]) < 1e3]
    tx, ty = tile_xy(np.array(lons)[near], np.array(lats)[near], z)
    assert [(rows[i].tile_x, rows[i].tile_y) for i in near] == list(zip(tx.tolist(), ty.tolist()))


def test_tile_pyramid_parent_sums(spark, sf_dir):
    """Every parent tile's count equals the sum of its (up to 4) children;
    every level totals the full row count."""
    from shapefile_rs_spark.operators.tiles import assign_tiles, tile_pyramid
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pages = geotag_pages(pages_from_documents(spark, sf_dir))
    pyr = tile_pyramid(assign_tiles(pages, z=5), from_z=5, to_z=2).collect()
    total = pages.count()
    by_level = {}
    for r in pyr:
        by_level.setdefault(r["tile_z"], {})[(r["tile_x"], r["tile_y"])] = r["n"]
    assert set(by_level) == {2, 3, 4, 5}
    for z in by_level:
        assert sum(by_level[z].values()) == total
    for z in (5, 4, 3):
        for (x, y), n in by_level[z].items():
            parent = by_level[z - 1][(x >> 1, y >> 1)]
            assert parent >= n  # child never exceeds its parent


def test_simplify_polylines_dp(spark):
    """Douglas-Peucker: near-collinear vertices drop at loose tolerance,
    survive at tight tolerance; endpoints always kept."""
    import numpy as np

    from shapefile_rs_spark.geom.wkb import multilinestring_wkb, parse_wkb
    from shapefile_rs_spark.operators.geostats import simplify_polylines

    # zig line: (0,0)->(5,0.1)->(10,0)->(15,5) ; middle dev 0.1
    line = np.array([[0, 0], [5, 0.1], [10, 0], [15, 5]], float)
    df = spark.createDataFrame(
        [(1, bytearray(multilinestring_wkb([line])))], "line_id bigint, wkb binary"
    )
    loose = simplify_polylines(df, tolerance=0.5).collect()[0]
    assert (loose["n_vertices_in"], loose["n_vertices_out"]) == (4, 3)
    _, parts = parse_wkb(bytes(loose["wkb"]))
    assert np.allclose(parts[0][[0, -1]], line[[0, -1]])  # endpoints kept
    tight = simplify_polylines(df, tolerance=0.01).collect()[0]
    assert tight["n_vertices_out"] == 4


def test_convex_hull_per_group(spark):
    """applyInPandas hull: square + interior points -> 4-vertex hull of
    area 100; hull ring is CW (shapefile OUTER convention)."""
    from shapefile_rs_spark.geom import rings as R
    from shapefile_rs_spark.geom.wkb import parse_wkb
    from shapefile_rs_spark.operators.geostats import convex_hull_per_group

    rows = [("a", x, y) for x in (0.0, 10.0) for y in (0.0, 10.0)]
    rows += [("a", 5.0, 5.0), ("a", 2.0, 7.0)]  # interior
    rows += [("b", 0.0, 0.0), ("b", 1.0, 1.0)]  # degenerate 2-point group
    df = spark.createDataFrame(rows, "g string, lon double, lat double")
    out = {r["g"]: r for r in convex_hull_per_group(df, ["g"]).collect()}
    assert out["a"]["n_hull_vertices"] == 4
    assert abs(out["a"]["hull_area"] - 100.0) < 1e-9
    _, payload = parse_wkb(bytes(out["a"]["wkb"]))
    assert R.ring_role(payload[0][0]) == R.OUTER
    assert out["b"]["hull_area"] == 0.0


def test_interior_cells_bypass_refine_udf(spark):
    """Fully-interior covering cells skip the ray-cast: their candidates'
    wkb is NULLED before the refine UDF (a parse attempt would raise), and
    pip_refine_full passes them through.  Exactness pinned against the
    nested-loop oracle on a polygon big enough to have interior cells."""
    import numpy as np
    from shapefile_rs_spark import cells as C
    from shapefile_rs_spark.geom.pip import nested_loop_pip_oracle
    from shapefile_rs_spark.geom.wkb import multipolygon_wkb, wkb_rings
    from shapefile_rs_spark.operators.spatial_join import (
        point_in_polygon_join,
        pip_refine_full,
    )

    ring = np.array(
        [[0.0, 0.0], [30.0, 0.0], [30.0, 20.0], [0.0, 20.0], [0.0, 0.0]]
    )
    wkb = multipolygon_wkb([[ring]])
    res = 8  # cell ~1.4° → plenty of interior cells inside a 30×20 box
    cells, full = C.classify_cover([ring], res)
    assert full.sum() > 0

    rng = np.random.default_rng(5)
    pts = rng.uniform([-5, -5], [35, 25], size=(400, 2))
    pts_df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "point_id bigint, lon double, lat double",
    )
    poly_df = spark.createDataFrame([(1, bytearray(wkb))], "polygon_id bigint, wkb binary")
    got = {
        (r["point_id"], r["polygon_id"])
        for r in point_in_polygon_join(
            pts_df,
            poly_df,
            point_cols=["point_id"],
            polygon_cols=["polygon_id"],
            fixed_res=res,
        ).collect()
    }
    want = {(i, j + 1) for i, j in nested_loop_pip_oracle(pts, [[ring]])}
    assert got == want and len(want) > 100

    # the bypass contract itself: null wkb + full=True returns True without
    # ever parsing (parsing None would raise); full=False rows still refine
    import pandas as pd

    inner = pip_refine_full.func
    out = inner(
        pd.Series([None, wkb], dtype=object),
        pd.Series([1.0, 100.0]),
        pd.Series([1.0, 100.0]),
        pd.Series([True, False]),
    )
    assert list(out) == [True, False]


def test_memo_attrs_through_source(spark, tmp_path):
    """A stem with a .dbt sidecar surfaces memo text in attrs_json; the
    same stem without the sidecar reads the field as null (dbase-crate
    memo surface, src/lib.rs:60)."""
    import json

    from shapefile_rs_spark import fixtures as FX
    from shapefile_rs_spark.shapelib.dbf import DbfField, write_dbf, write_dbt
    from shapefile_rs_spark.shapelib.shp import write_shp

    shp, shx = write_shp(FX.fx_point())
    memos = ["parcel notes: corner lot", "see survey 1878"]
    dbt, blocks = write_dbt(memos[:1])
    fields = [DbfField("ID", "N", 4, 0), DbfField("NOTE", "M", 10, 0)]
    dbf = write_dbf(fields, [{"ID": 7, "NOTE": blocks[0]}])
    for ext, blob in (("shp", shp), ("shx", shx), ("dbf", dbf), ("dbt", dbt)):
        (tmp_path / f"memo.{ext}").write_bytes(blob)
    (tmp_path / "bare.shp").write_bytes(shp)
    (tmp_path / "bare.shx").write_bytes(shx)
    (tmp_path / "bare.dbf").write_bytes(dbf)

    rows = {
        r.source_file.rsplit("/", 1)[-1]: json.loads(r.attrs_json)
        for r in read_shapefiles(spark, str(tmp_path)).collect()
    }
    assert rows["memo"] == {"ID": 7, "NOTE": memos[0]}
    assert rows["bare"] == {"ID": 7, "NOTE": None}


def test_strip_fan_multipatch_dataframe_roundtrip(spark, tmp_path):
    """TriangleStrip/Fan multipatch — whose geometry WKB cannot express
    (defined-unsupported, src/record/multipatch.rs:359-402) — round-trips
    DataFrame-level via the raw-geometry columns (writer contract
    src/writer.rs:97-145)."""
    import numpy as np
    import pandas as pd

    from shapefile_rs_spark.shapelib.shp import ShapeRec, write_shp
    from shapefile_rs_spark.shapelib.shptypes import MULTIPATCH
    from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

    xy = np.array(
        [[0, 0], [0, 2], [2, 0], [2, 2], [4, 0], [4, 2],
         [10, 0], [8, 2], [9, 3], [11, 3], [12, 2]], dtype=float
    )
    rec = ShapeRec(
        MULTIPATCH, xy,
        z=np.arange(1.0, 12.0), m=np.full(11, 2.0),
        parts=np.array([0, 6], dtype=np.int32),
        patch_types=np.array([0, 1], dtype=np.int32),  # STRIP, FAN
    )
    shp, shx = write_shp([rec])
    src = tmp_path / "src"
    src.mkdir()
    (src / "strip.shp").write_bytes(shp)
    (src / "strip.shx").write_bytes(shx)

    shapes = read_shapefiles(spark, str(src), raw_geometry=True)
    row = shapes.collect()[0]
    assert row.wkb is None  # strip/fan cannot ride WKB
    assert list(row.patch_types) == [0, 1] and list(row.parts) == [0, 6]

    out = tmp_path / "out"
    write_shapefiles(
        shapes.withColumn("output_stem", F.lit("rt")),
        str(out),
        shape_type_col="shape_type",
        z_col="z",
        m_col="m",
        xy_col="xy",
        parts_col="parts",
        patch_types_col="patch_types",
    )
    assert (out / "rt.shp").read_bytes() == shp  # byte-identical re-write

    back = read_shapefiles(spark, str(out), raw_geometry=True).collect()[0]
    assert list(back.patch_types) == [0, 1]
    assert np.asarray(back.xy).tolist() == xy.reshape(-1).tolist()
    assert list(back.z) == list(np.arange(1.0, 12.0))


def test_read_shapefile_headers(spark, join_fixture_dir):
    """Per-file header metadata rows (Header public API, src/header.rs:42-73)
    without decoding records: shape_type + file length + 8-value bbox."""
    from shapefile_rs_spark.shapelib.shp import read_header
    from shapefile_rs_spark.sources.shapefile_source import read_shapefile_headers

    hdrs = {
        r.source_file.rsplit("/", 1)[-1]: r
        for r in read_shapefile_headers(spark, join_fixture_dir).collect()
    }
    assert set(hdrs) == {"points", "polygons"}
    import os

    for stem, row in hdrs.items():
        with open(os.path.join(join_fixture_dir, stem + ".shp"), "rb") as fh:
            h = read_header(fh.read())
        assert row.shape_type == h.shape_type
        assert row.file_length_words == h.file_length_words
        assert (row.xmin, row.ymin, row.xmax, row.ymax) == h.bbox[:4]
        assert (row.zmin, row.zmax, row.mmin, row.mmax) == h.bbox[4:]


def test_memo_roundtrip_through_sink(spark, tmp_path):
    """DataFrame-level memo round trip: a text column written as an 'M'
    field resolves through the sink-emitted .dbt sidecar and reads back as
    the same text in attrs_json (dbase-crate memo surface, src/lib.rs:60;
    version byte 0x83 advertises the sidecar)."""
    import json

    from shapefile_rs_spark.geom.wkb import point_wkb
    from shapefile_rs_spark.shapelib.dbf import DbfField
    from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

    df = spark.createDataFrame(
        [
            ("m", 1, bytearray(point_wkb(1.0, 2.0)), "first parcel memo", 7),
            ("m", 2, bytearray(point_wkb(3.0, 4.0)), None, 8),
            ("m", 3, bytearray(point_wkb(5.0, 6.0)), "third memo " * 60, 9),
        ],
        "output_stem string, record_number int, wkb binary, NOTE string, ID int",
    )
    write_shapefiles(
        df,
        str(tmp_path),
        dbf_fields=[DbfField("ID", "N", 4, 0), DbfField("NOTE", "M", 10, 0)],
        attr_cols=["ID", "NOTE"],
    )
    assert (tmp_path / "m.dbt").exists()
    assert (tmp_path / "m.dbf").read_bytes()[0] == 0x83
    back = {
        r.record_number: json.loads(r.attrs_json)
        for r in read_shapefiles(spark, str(tmp_path)).collect()
    }
    assert back[1] == {"ID": 7, "NOTE": "first parcel memo"}
    assert back[2] == {"ID": 8, "NOTE": None}
    assert back[3]["NOTE"] == "third memo " * 60


def test_pip_join_carries_polygon_wkb_intact(spark):
    """polygon_cols carrying the wkb column must survive the interior-cell
    refine bypass un-nulled (the bypass feeds the UDF a TEMP column)."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join

    polys = demo.oracle_polygons_df(spark)
    pts = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 100) * 0.1).alias("lon"),
        ((F.col("id") % 50) * 0.2).alias("lat"),
    )
    out = point_in_polygon_join(
        pts, polys,
        point_cols=["doc_id"],
        polygon_cols=["polygon_id", "wkb"],
    )
    rows = out.collect()
    assert rows, "grid must intersect the demo polygons"
    assert all(r.wkb is not None for r in rows)


def _demo_points(spark):
    return spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 100) * 0.1).alias("lon"),
        ((F.col("id") % 50) * 0.2).alias("lat"),
    )


@pytest.mark.parametrize("broadcast", [None, False])
def test_pip_join_empty_polygon_layer(spark, broadcast):
    """No polygons → no rows, with the join's output columns (both paths)."""
    empty = spark.createDataFrame([], "polygon_id bigint, wkb binary")
    out = point_in_polygon_join(
        _demo_points(spark), empty, point_cols=["doc_id"], broadcast_polygons=broadcast
    )
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<doc_id:bigint,polygon_id:bigint>"


@pytest.mark.parametrize("broadcast", [None, False])
def test_pip_join_null_wkb_polygon_contains_nothing(spark, broadcast):
    """A polygon row with null wkb contains no point: the other polygons'
    rows come back unchanged and the null one joins nothing (both paths)."""
    from shapefile_rs_spark import demo

    polys = demo.oracle_polygons_df(spark)
    with_null = polys.unionByName(
        spark.sql("SELECT CAST(3 AS BIGINT) AS polygon_id, CAST(NULL AS BINARY) AS wkb")
    )
    kwargs = dict(point_cols=["doc_id"], broadcast_polygons=broadcast)
    pts = _demo_points(spark)
    want = {tuple(r) for r in point_in_polygon_join(pts, polys, **kwargs).collect()}
    got = {tuple(r) for r in point_in_polygon_join(pts, with_null, **kwargs).collect()}
    assert got == want and len(want) > 0


def test_broadcast_join_evaluates_polygon_side_once(spark, join_fixture_dir, monkeypatch):
    """The auto-broadcast join reads a shapefile-sourced polygon layer at
    most once.  A small local layer is decoded on the driver when it is
    read, so the join scans no file at all; a layer read distributed
    (``DRIVER_ROWS = 0`` at read time) is scanned by exactly the file-scan
    stages of ONE collect() of the polygon side (not a count, a collect and
    a broadcast re-read).  Stages are counted from Spark's status store;
    the point side reads no file."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext

    def polygon_side():
        return shapes_with_typed_attrs(
            read_shapefiles(spark, join_fixture_dir, pattern="polygons"), {"id": "bigint"}
        ).select(F.col("id").alias("polygon_id"), "wkb")

    def file_scan_stages(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setJobGroup("", "")
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        n = 0
        for job in conv.asJava(store.jobsList(None)):
            if not (job.jobGroup().isDefined() and job.jobGroup().get() == group):
                continue
            for sid in conv.asJava(job.stageIds()):
                try:
                    attempts = conv.asJava(store.stageData(sid, False, None, False, None))
                except Py4JJavaError:
                    continue  # skipped stage, never submitted
                n += sum(1 for st in attempts if st.numCompleteTasks() and st.inputBytes() > 0)
        return out, n

    def join(polygons):
        return point_in_polygon_join(_demo_points(spark), polygons, point_cols=["doc_id"]).collect()

    small = polygon_side()
    rows, in_join = file_scan_stages("poly-side-local-join", lambda: join(small))
    assert rows and in_join == 0, f"a driver-decoded layer scanned in {in_join} stages"

    with monkeypatch.context() as m:
        m.setattr("shapefile_rs_spark.local.DRIVER_ROWS", 0)
        polygons = polygon_side()
    _, once = file_scan_stages("poly-side-collect", lambda: polygons.collect())
    rows_dist, in_join = file_scan_stages("poly-side-join", lambda: join(polygons))
    assert once >= 1
    assert in_join == once, f"polygon side scanned in {in_join} stages, one collect takes {once}"
    assert sorted(rows_dist) == sorted(rows)
