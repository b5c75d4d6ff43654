"""The shapefile source's two read paths give the same frame: a small
local layer decoded on the driver into a local relation, and the
distributed binaryFile scan + ``mapInArrow`` decode (forced with
``local.DRIVER_ROWS = 0``)."""

import math
import os

import numpy as np
import pytest

from shapefile_rs_spark import fixtures as FX
from shapefile_rs_spark.shapelib.dbf import DbfField, write_dbf, write_dbt
from shapefile_rs_spark.shapelib.shp import ShapeRec, write_shp
from shapefile_rs_spark.shapelib.shptypes import NULL_SHAPE, POINT, POLYGON, POLYLINE_Z
from shapefile_rs_spark.sources.shapefile_source import (
    read_shapefile_headers,
    read_shapefiles,
)


def _canon(v):
    """A value as a comparable key: floats by their bits (NaN equals NaN,
    -0.0 differs from 0.0), sequences element by element."""
    if isinstance(v, float):
        return ("f", v.hex() if not math.isnan(v) else "nan")
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return (type(v).__name__, v)


def _rows(df):
    return sorted(tuple(_canon(v) for v in r) for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _both_paths(spark, monkeypatch, path, **kw):
    """``(driver frame, distributed frame)`` of one read, each checked to
    have taken its path."""
    driver = read_shapefiles(spark, path, **kw)
    assert "LocalTableScan" in _plan(driver) and "MapInArrow" not in _plan(driver)
    with monkeypatch.context() as m:
        m.setattr("shapefile_rs_spark.local.DRIVER_ROWS", 0)
        dist = read_shapefiles(spark, path, **kw)
    assert "MapInArrow" in _plan(dist)
    return driver, dist


def _write(directory, stem, files):
    os.makedirs(directory, exist_ok=True)
    for ext, blob in files.items():
        with open(os.path.join(directory, f"{stem}.{ext}"), "wb") as fh:
            fh.write(blob)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    """Every fixture family, the join fixture, sidecars of every kind and
    non-finite coordinates, in a directory whose name needs URI escaping."""
    d = str(tmp_path_factory.mktemp("paths") / "a b%20c é")
    for name in FX.FIXTURE_BUILDERS:
        shp, shx = FX.build_fixture(name)
        _write(d, name, {"shp": shp, "shx": shx})
    FX.write_join_fixture(d)
    # .cpg (GBK attributes) and .prj next to one stem
    shp, shx = write_shp(FX.fx_point())
    dbf = write_dbf([DbfField("TEST", "C", 50, 0)], [{"TEST": "测试中文"}], encoding="cp936")
    _write(d, "gbk", {"shp": shp, "shx": shx, "dbf": dbf, "cpg": b"936", "prj": b'GEOGCS["x"]'})
    # .dbt memo sidecar
    dbt, blocks = write_dbt(["parcel notes: corner lot"])
    dbf = write_dbf(
        [DbfField("ID", "N", 4, 0), DbfField("NOTE", "M", 10, 0)], [{"ID": 7, "NOTE": blocks[0]}]
    )
    _write(d, "memo", {"shp": shp, "shx": shx, "dbf": dbf, "dbt": dbt})
    # NaN / ±inf coordinates and a NaN z and m
    ring = np.array([[0.0, 0.0], [0.0, np.nan], [np.inf, 1.0], [0.0, 0.0]])
    line = ShapeRec(POLYLINE_Z, [[0.0, 0.0], [1.0, 1.0]], z=[np.nan, 2.0], m=[np.nan, 1.0])
    _write(d, "nanpoly", dict(zip(("shp", "shx"), write_shp([ShapeRec(POLYGON, ring)]))))
    _write(d, "nanline", dict(zip(("shp", "shx"), write_shp([line]))))
    # no .shx: the sequential reader
    _write(d, "noindex", {"shp": write_shp(FX.fx_line())[0]})
    return d


@pytest.mark.parametrize("raw_geometry", [False, True])
def test_read_paths_identical_frames(spark, monkeypatch, corpus_dir, raw_geometry):
    """Every column of every record, ``source_file`` byte for byte (the
    scan's ``file:/abs/stem`` spelling, not the listing's URI)."""
    driver, dist = _both_paths(
        spark, monkeypatch, corpus_dir, on_invalid="null", raw_geometry=raw_geometry
    )
    assert driver.schema == dist.schema
    got, want = _rows(driver), _rows(dist)
    assert got == want
    corpus = sum(len(b()) for b in FX.FIXTURE_BUILDERS.values())
    assert len(got) == corpus + 9 + 2 * len(FX.fx_point()) + 2 + len(FX.fx_line())
    assert {r.source_file for r in driver.collect()} >= {"file:" + os.path.join(corpus_dir, "memo")}


def test_read_paths_identical_typed_scan(spark, monkeypatch, join_fixture_dir):
    driver, dist = _both_paths(
        spark, monkeypatch, join_fixture_dir, pattern="points", expected_type=POINT
    )
    assert _rows(driver) == _rows(dist) and len(_rows(driver)) == 7


@pytest.mark.parametrize("driver_rows", [None, 0])
def test_error_surfaces_on_both_paths(spark, monkeypatch, join_fixture_dir, tmp_path, driver_rows):
    """A layer the driver cannot decode falls through to the distributed
    plan, which raises at action time as it always has."""
    from tests.test_spark_spatial import test_source_error_surface, test_typed_scan_mismatch_fails

    if driver_rows is not None:
        monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", driver_rows)
    test_typed_scan_mismatch_fails(spark, join_fixture_dir)
    test_source_error_surface(spark, tmp_path)


def test_record_bound_picks_the_path(spark, monkeypatch, join_fixture_dir):
    """The driver path holds at most DRIVER_ROWS records, bounded from the
    sidecar sizes: the 2-record polygon layer stays on the driver at 2 and
    goes distributed at 1."""
    for rows, local_scan in ((2, True), (1, False)):
        monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", rows)
        df = read_shapefiles(spark, join_fixture_dir, pattern="polygons")
        assert ("MapInArrow" not in _plan(df)) is local_scan
        assert df.count() == 2


def test_byte_bound_picks_the_path(spark, monkeypatch, join_fixture_dir):
    """The driver path holds at most DRIVER_BYTES bytes of files: the
    polygon layer stays on the driver at its own size and goes
    distributed one byte below."""
    size = sum(
        os.path.getsize(os.path.join(join_fixture_dir, n))
        for n in os.listdir(join_fixture_dir)
        if n.startswith("polygons.")
    )
    for limit, local_scan in ((size, True), (size - 1, False)):
        monkeypatch.setattr("shapefile_rs_spark.sources.shapefile_source.DRIVER_BYTES", limit)
        df = read_shapefiles(spark, join_fixture_dir, pattern="polygons")
        assert ("MapInArrow" not in _plan(df)) is local_scan
        assert df.count() == 2


def test_few_records_many_bytes_read_distributed(spark, tmp_path):
    """One polygon of 220k vertices (3.5 MB) is far under the record bound
    but over the byte bound: the layer is not held on the driver."""
    from shapefile_rs_spark.sources.shapefile_source import DRIVER_BYTES

    t = np.linspace(0.0, 2 * np.pi, 220_000)
    ring = np.column_stack([np.cos(t), -np.sin(t)])
    ring[-1] = ring[0]
    shp, shx = write_shp([ShapeRec(POLYGON, ring)])
    assert len(shp) > DRIVER_BYTES
    _write(str(tmp_path), "coast", {"shp": shp, "shx": shx})
    df = read_shapefiles(spark, str(tmp_path))
    assert "MapInArrow" in _plan(df)
    (row,) = df.select("num_points", "num_parts").collect()
    assert (row.num_points, row.num_parts) == (220_000, 1)


@pytest.mark.parametrize("driver_rows", [None, 0])
def test_case_twin_extensions_raise(spark, monkeypatch, tmp_path, driver_rows):
    """``zones.shp`` next to ``zones.SHP`` names no one layer: both read
    paths and the header reader raise instead of picking one of them."""
    if driver_rows is not None:
        monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", driver_rows)
    FX.write_join_fixture(str(tmp_path))
    with open(tmp_path / "polygons.shp", "rb") as fh:
        _write(str(tmp_path), "polygons", {"SHP": fh.read()})
    with pytest.raises(ValueError, match="differ only in case"):
        read_shapefiles(spark, str(tmp_path))
    with pytest.raises(ValueError, match="differ only in case"):
        read_shapefile_headers(spark, str(tmp_path))
    assert read_shapefiles(spark, str(tmp_path), pattern="points").count() == 7


@pytest.mark.parametrize("driver_rows", [None, 0])
def test_upper_case_extensions_read(spark, monkeypatch, tmp_path, driver_rows):
    """``.SHP/.SHX/.DBF`` sidecars read like lower-case ones, on both read
    paths and in the header reader."""
    if driver_rows is not None:
        monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", driver_rows)
    lower, upper = str(tmp_path / "lower"), str(tmp_path / "upper")
    FX.write_join_fixture(lower)
    os.makedirs(upper)
    for name in os.listdir(lower):
        stem, ext = os.path.splitext(name)
        os.replace(os.path.join(lower, name), os.path.join(upper, stem + ext.upper()))
    FX.write_join_fixture(lower)
    rows = read_shapefiles(spark, upper).collect()
    assert len(rows) == 9
    want = {
        (r.source_file.rsplit("/", 1)[-1], r.record_number, r.wkb, r.attrs_json)
        for r in read_shapefiles(spark, lower).collect()
    }
    assert {(r.source_file.rsplit("/", 1)[-1], r.record_number, r.wkb, r.attrs_json) for r in rows} == want
    assert read_shapefile_headers(spark, upper).count() == 2


@pytest.mark.parametrize("driver_rows", [None, 0])
def test_stored_nan_reads_as_nan_and_absent_as_null(spark, monkeypatch, tmp_path, driver_rows):
    """A NaN stored in a shapefile reads back as NaN on both read paths and
    through both decoders — in a ``z`` element and in a bbox column —
    while a value the record does not hold stays NULL: a null shape's
    ``wkb`` and ``z`` (its bbox is the codec's stored zeros)."""
    if driver_rows is not None:
        monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", driver_rows)
    line = ShapeRec(POLYLINE_Z, [[0.0, 0.0], [1.0, 1.0]], z=[np.nan, 2.0])
    ring = np.array([[0.0, 0.0], [0.0, 1.0], [1.0, np.nan], [0.0, 0.0]])
    null = ShapeRec(NULL_SHAPE, [])
    d = str(tmp_path)
    _write(d, "nanz", dict(zip(("shp", "shx"), write_shp([line]))))
    _write(d, "nanpoly", dict(zip(("shp", "shx"), write_shp([ShapeRec(POLYGON, ring)]))))
    # a null shape makes the file mixed: the per-record decoder reads it
    _write(d, "mixed", dict(zip(("shp", "shx"), write_shp([null, line]))))
    df = read_shapefiles(spark, d)
    assert ("MapInArrow" in _plan(df)) is (driver_rows == 0)
    rows = {(r.source_file.rsplit("/", 1)[-1], r.record_number): r for r in df.collect()}
    for stem, num in (("nanz", 1), ("mixed", 2)):
        z0, z1 = rows[stem, num].z
        assert math.isnan(z0) and z1 == 2.0
    poly = rows["nanpoly", 1]
    assert math.isnan(poly.ymin) and math.isnan(poly.ymax) and poly.xmax == 1.0
    absent = rows["mixed", 1]
    assert (absent.shape_type, absent.wkb, absent.z) == (NULL_SHAPE, None, None)
    assert (absent.xmin, absent.ymin, absent.xmax, absent.ymax) == (0.0,) * 4
