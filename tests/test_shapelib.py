"""Golden decode + round-trip tests for the pure-numpy SHP/SHX/DBF codec.

Ports the reference's test strategy (SURVEY §5): golden value asserts per
shape family (tests/read_tests.rs:617-687 analog), read→write→read
round-trips (read_write_read_test!, :627-653), byte-identical re-writes
(tests/write_tests.rs:18-151), oversized-record tolerance (:821-830), and
cpg-driven DBF encoding (:832-845).
"""

import numpy as np
import pytest

from shapefile_rs_spark import fixtures as FX
from shapefile_rs_spark.shapelib import shp as S
from shapefile_rs_spark.shapelib.dbf import DbfField, read_dbf, resolve_encoding, write_dbf
from shapefile_rs_spark.shapelib.shptypes import (
    MULTIPATCH,
    NO_DATA,
    POINT,
    POINT_Z,
    POLYGON,
    POLYLINE,
    POLYLINE_Z,
    InvalidFileCode,
    InvalidShapeRecordSize,
    MismatchShapeType,
)


def roundtrip(records):
    shp, shx = S.write_shp(records)
    header, recs, nums = S.read_shp(shp, shx=shx)
    return shp, shx, header, recs, nums


def test_point_golden():
    shp, shx, header, recs, nums = roundtrip(FX.fx_point())
    assert header.shape_type == POINT
    assert nums == [1]
    assert recs[0].xy.tolist() == [[122.0, 37.0]]
    # header bbox min=max=(122,37); z/m ranges zeroed at finalize
    assert header.bbox == (122.0, 37.0, 122.0, 37.0, 0.0, 0.0, 0.0, 0.0)
    # file length math: 100-byte header + 8 rec header + 4 type + 16 coords
    assert header.file_length_bytes == 100 + 8 + 4 + 16 == len(shp)


def test_pointm_golden():
    _, _, header, recs, _ = roundtrip(FX.fx_pointm())
    assert [r.xy[0].tolist() for r in recs] == [
        [160477.9000324604, 5403959.561417906],
        [160467.63787299366, 5403971.985031904],
    ]
    assert all(r.m[0] == 0.0 for r in recs)


def test_pointz_golden_sentinel():
    _, _, header, recs, _ = roundtrip(FX.fx_pointz())
    assert recs[0].z[0] == 72.40956470558095
    assert recs[0].m[0] == NO_DATA
    # header m-range folds the sentinel (plain min/max, no filtering)
    assert header.bbox[6] == NO_DATA and header.bbox[7] == NO_DATA


def test_pointz_without_m_block():
    """Optional M scalar: a 24-byte PointZ body must decode with m=NO_DATA
    (src/record/point.rs:324-344)."""
    import struct

    body = struct.pack("<3d", 1.0, 2.0, 3.0)
    rec = S.decode_record_body(POINT_Z, memoryview(body), 24)
    assert rec.z[0] == 3.0 and rec.m[0] == NO_DATA


def test_line_golden():
    _, _, header, recs, _ = roundtrip(FX.fx_line())
    rec = recs[0]
    assert rec.num_parts == 2 and rec.num_points == 7
    assert rec.part_slices() == [(0, 5), (5, 7)]
    assert rec.bbox_xy == (1.0, 1.0, 5.0, 6.0)
    assert rec.xy[:5].tolist() == [[1, 5], [5, 5], [5, 1], [3, 3], [1, 1]]


def test_linem_optional_m_present_and_clamped():
    shp, shx, header, recs, _ = roundtrip(FX.fx_linem())
    m = recs[0].m
    assert m.tolist() == [0.0, NO_DATA, 3.0, NO_DATA, 0.0, NO_DATA, NO_DATA]
    # values below the sentinel are clamped up to NO_DATA on read
    raw = bytearray(shp)
    # find the first m value (0.0) and poke a deeper-than-sentinel value in
    # its place: last 7*8 bytes of the record are the m array
    m_off = len(shp) - 7 * 8
    import struct

    raw[m_off : m_off + 8] = struct.pack("<d", -1e40)
    _, recs2, _ = S.read_shp(bytes(raw), shx=shx)
    assert recs2[0].m[0] == NO_DATA


def test_linem_without_m_block():
    """Drop the M block entirely: size probe must fill NO_DATA
    (src/record/polyline.rs:264-282)."""
    rec = FX.fx_linem()[0]
    full = S._encode_body(rec)
    no_m = full[: -(16 + 8 * rec.num_points)]
    out = S.decode_record_body(rec.shape_type, memoryview(no_m), len(no_m))
    assert out.m.tolist() == [NO_DATA] * 7
    assert out.xy.tolist() == rec.xy.tolist()


def test_linez_golden():
    _, _, _, recs, _ = roundtrip(FX.fx_linez())
    rec = recs[0]
    assert rec.num_parts == 3
    s, e = rec.part_slices()[2]
    part3 = np.column_stack([rec.xy[s:e], rec.z[s:e], rec.m[s:e]])
    assert part3.tolist() == [[3, 2, 15, 0], [2, 6, 13, 3], [1, 9, 14, 2]]
    assert rec.m[:7].tolist() == [NO_DATA] * 7


def test_polygon_ring_classification():
    from shapefile_rs_spark.geom import rings as R

    _, _, _, recs, _ = roundtrip(FX.fx_polygon())
    rec = recs[0]
    roles = [R.ring_role(rec.xy[s:e]) for s, e in rec.part_slices()]
    assert roles == [R.INNER, R.OUTER, R.INNER]


def test_polygon_hole_byte_identity():
    """Write → read → write must be byte-identical (write_tests.rs pattern)."""
    shp1, shx1 = S.write_shp(FX.fx_polygon_hole())
    _, recs, _ = S.read_shp(shp1, shx=shx1)
    shp2, shx2 = S.write_shp(recs)
    assert shp1 == shp2 and shx1 == shx2


@pytest.mark.parametrize("name", sorted(FX.FIXTURE_BUILDERS))
def test_roundtrip_byte_identity_all_families(name):
    shp1, shx1 = FX.build_fixture(name)
    header, recs, nums = S.read_shp(shp1, shx=shx1)
    shp2, shx2 = S.write_shp(recs)
    assert shp1 == shp2, f"{name}: shp bytes differ after round-trip"
    assert shx1 == shx2, f"{name}: shx bytes differ after round-trip"
    assert nums == list(range(1, len(recs) + 1))


def test_multipatch_golden():
    _, _, header, recs, _ = roundtrip(FX.fx_multipatch())
    rec = recs[0]
    assert rec.shape_type == MULTIPATCH
    assert rec.patch_types.tolist() == [0, 1]
    assert rec.part_slices() == [(0, 10), (10, 16)]
    assert rec.z[:2].tolist() == [0.0, 3.0]
    assert rec.m.tolist() == [NO_DATA] * 16
    # multipatch counts as Z: z-range folded into the header
    assert header.bbox[4] == 0.0 and header.bbox[5] == 5.0


def test_oversized_records_tolerated():
    """Records with inflated declared sizes must decode, skipping pad bytes
    (the ne_10m_lakes regression analog, tests/read_tests.rs:821-830)."""
    records = FX.fx_polygon() + FX.fx_polygon_hole()
    shp, shx = S.write_shp(records, pad_records=16)
    header, recs, _ = S.read_shp(shp, shx=shx)
    assert len(recs) == 2
    ref = FX.fx_polygon()[0]
    assert recs[0].xy.tolist() == ref.xy.tolist()
    # and without the index too (sequential walk must honor record_size)
    header2, recs2, _ = S.read_shp(shp)
    assert len(recs2) == 2


def test_undersized_record_rejected():
    shp, shx = FX.build_fixture("line")
    # shrink the declared record size below the minimum
    raw = bytearray(shp)
    import struct

    raw[100 + 4 : 100 + 8] = struct.pack(">i", 10)  # 20 bytes << required
    with pytest.raises(InvalidShapeRecordSize):
        S.read_shp(bytes(raw))


def test_wrong_file_code():
    shp, _ = FX.build_fixture("point")
    raw = b"\x00\x00\x00\x2a" + shp[4:]
    with pytest.raises(InvalidFileCode):
        S.read_shp(raw)


def test_mismatch_shape_type():
    shp, shx = FX.build_fixture("line")
    with pytest.raises(MismatchShapeType):
        S.read_shp(shp, shx=shx, expected_type=POINT)


def test_mixing_shape_types_rejected_on_write():
    with pytest.raises(MismatchShapeType):
        S.write_shp(FX.fx_point() + FX.fx_line())


def test_nth_shape_and_count():
    shp, shx = S.write_shp(FX.fx_pointm())
    assert len(S.read_shx(shx)) == 2
    rec = S.read_nth_shape(shp, shx, 1)
    assert rec.xy[0].tolist() == [160467.63787299366, 5403971.985031904]


def test_shx_guided_seek_skips_garbage():
    """Records separated by garbage bytes decode correctly via the index
    (src/reader.rs:134-145)."""
    import struct

    shp, shx = S.write_shp(FX.fx_pointm())
    # rebuild with 13 junk bytes between the two records
    hdr = shp[:100]
    r1 = shp[100 : 100 + 8 + 4 + 24]
    r2 = shp[100 + 8 + 4 + 24 :]
    junk = b"\xde\xad\xbe\xef" * 3 + b"\x00\x00"  # even length: offsets are in 16-bit words
    new_shp = hdr + r1 + junk + r2
    # fix shx offset of record 2
    off2_words = (100 + len(r1) + len(junk)) // 2
    new_shx = bytearray(shx)
    new_shx[100 + 8 : 100 + 12] = struct.pack(">i", off2_words)
    _, recs, _ = S.read_shp(new_shp, shx=bytes(new_shx))
    assert len(recs) == 2
    assert recs[1].xy[0].tolist() == [160467.63787299366, 5403971.985031904]


def test_dbf_roundtrip_and_encoding():
    fields = [DbfField("id", "N", 10, 0), DbfField("value", "N", 11, 3), DbfField("name", "C", 50, 0)]
    rows = [
        {"id": 1, "value": 1.5, "name": "alpha"},
        {"id": 2, "value": None, "name": ""},
    ]
    blob = write_dbf(fields, rows)
    fields2, rows2 = read_dbf(blob)
    assert [f.name for f in fields2] == ["id", "value", "name"]
    assert rows2[0] == {"id": 1, "value": 1.5, "name": "alpha"}
    assert rows2[1]["value"] is None


def test_dbf_cp936():
    """GBK text via .cpg label '936' (tests/read_tests.rs:832-845 analog)."""
    fields = [DbfField("TEST", "C", 50, 0)]
    blob = write_dbf(fields, [{"TEST": "测试中文"}], encoding="cp936")
    enc = resolve_encoding("936\n")
    assert enc == "cp936"
    _, rows = read_dbf(blob, encoding=enc)
    assert rows[0]["TEST"] == "测试中文"


def test_shx_header_length_math():
    shp, shx = S.write_shp(FX.fx_pointm())
    h = S.read_header(shx)
    assert h.file_length_words == 50 + 4 * 2  # 100-byte header + 8 bytes/record


def test_header_bbox_zeroes_an_all_nan_axis():
    """An axis whose every value is NaN never grows the header bbox, so
    it is zeroed like a never-grown z or m range instead of keeping the
    fold's sentinels (ymin 1.8e308 > ymax -1.8e308)."""
    rec = S.ShapeRec(POLYGON, np.array([[1.0, np.nan]]), parts=[0])
    shp, shx = S.write_shp([rec])
    for data in (shp, shx):
        assert S.read_header(data).bbox == (1.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0)


@pytest.mark.parametrize("name", sorted(FX.FIXTURE_BUILDERS))
def test_bulk_decode_equals_sequential(name):
    """read_shp_bulk (vectorized SoA) must reproduce every field the
    sequential decoder produces, for every shape family."""
    shp1, shx1 = FX.build_fixture(name)
    _, seq, nums_seq = S.read_shp(shp1, shx=None)  # force sequential
    try:
        bulk = S.read_shp_bulk(shp1, shx1)
    except S._BulkUnsupported:
        pytest.skip("fixture not bulk-decodable (mixed/null types)")
    recs, nums = S.bulk_to_records(bulk)
    assert nums == nums_seq
    assert len(recs) == len(seq)
    for a, b in zip(recs, seq):
        assert a.shape_type == b.shape_type
        assert np.array_equal(a.xy, b.xy)
        assert a.bbox_xy == b.bbox_xy
        assert a.z_range == b.z_range and a.m_range == b.m_range
        for attr in ("z", "m", "parts", "patch_types"):
            av, bv = getattr(a, attr), getattr(b, attr)
            assert (av is None) == (bv is None)
            assert av is None or np.array_equal(av, bv)


def test_bulk_wkb_equals_per_record():
    """Vectorized WKB assembly == per-record encoder for polyline/multipoint."""
    from shapefile_rs_spark.geom.wkb import (
        multilinestrings_wkb_bulk,
        multipoints_wkb_bulk,
        shape_to_wkb,
    )
    from shapefile_rs_spark.shapelib.shptypes import MULTIPOINT_Z, POLYLINE_M

    rng = np.random.default_rng(7)
    lines = [
        S.ShapeRec(POLYLINE_M, rng.uniform(-90, 90, (k, 2)), parts=p, m=rng.uniform(0, 9, k))
        for k, p in [(5, [0]), (9, [0, 4]), (12, [0, 3, 8]), (2, [0])]
    ]
    shp, shx = S.write_shp(lines)
    b = S.read_shp_bulk(shp, shx)
    assert multilinestrings_wkb_bulk(
        b.xy, b.point_offsets, b.parts, b.part_offsets
    ) == [shape_to_wkb(r) for r in S.bulk_to_records(b)[0]]

    mpts = [
        S.ShapeRec(MULTIPOINT_Z, rng.uniform(-90, 90, (k, 2)), z=rng.uniform(0, 4, k), m=rng.uniform(0, 4, k))
        for k in (1, 6, 3)
    ]
    shp, shx = S.write_shp(mpts)
    b = S.read_shp_bulk(shp, shx)
    assert multipoints_wkb_bulk(b.xy, b.point_offsets) == [
        shape_to_wkb(r) for r in S.bulk_to_records(b)[0]
    ]


def test_bulk_oversized_records_and_odd_pad_guard():
    """Oversized (padded) records decode through the bulk path too; odd pads
    are rejected at write time (16-bit-word sizes)."""
    shp, shx = S.write_shp(FX.fx_linem(), pad_records=8)
    bulk = S.read_shp_bulk(shp, shx)
    _, seq, _ = S.read_shp(shp, shx=None)
    recs, _ = S.bulk_to_records(bulk)
    for a, b in zip(recs, seq):
        assert np.array_equal(a.xy, b.xy) and np.array_equal(a.m, b.m)
    with pytest.raises(ValueError):
        S.write_shp(FX.fx_linem(), pad_records=3)


def test_dbf_memo_field_tolerated():
    """'M' memo fields (block pointers into .dbt) read as None instead of
    crashing — real-world .dbf tolerance, reference reads them via dbase."""
    import struct

    fields = [DbfField("NOTE", "M", 10, 0), DbfField("ID", "N", 4, 0)]
    # hand-build: header + one record with a memo block number + id
    blob = bytearray()
    record_size = 1 + 10 + 4
    header_size = 32 + 32 * 2 + 1
    blob += struct.pack("<BBBBIHH", 0x03, 126, 1, 1, 1, header_size, record_size)
    blob += b"\x00" * 20
    for f in fields:
        blob += f.name.encode().ljust(11, b"\x00") + f.ftype.encode()
        blob += b"\x00" * 4 + struct.pack("<BB", f.length, f.decimals) + b"\x00" * 14
    blob += b"\x0d" + b" " + b"0000000042" + b"  17" + b"\x1a"
    fields2, rows = read_dbf(bytes(blob))
    assert rows == [{"NOTE": None, "ID": 17}]


def test_dbf_binary_field_types_roundtrip():
    """FoxPro/dBASE-7 binary fields (I/O/B/Y/T) — the rest of the
    dbase-crate surface (src/lib.rs:60): i32/f64/currency-i64/JDN+ms
    little-endian payloads round-trip through the writer and reader."""
    import datetime

    fields = [
        DbfField("N_INT", "I", 4, 0),
        DbfField("N_DBL", "O", 8, 0),
        DbfField("N_CUR", "Y", 8, 4),
        DbfField("N_TS", "T", 8, 0),
    ]
    ts = datetime.datetime(2020, 6, 15, 13, 45, 30, 250000)
    rows = [
        {"N_INT": -42, "N_DBL": 3.25, "N_CUR": 19.99, "N_TS": ts},
        {"N_INT": None, "N_DBL": None, "N_CUR": None, "N_TS": None},
    ]
    blob = write_dbf(fields, rows)
    _, got = read_dbf(blob)
    assert got[0]["N_INT"] == -42
    assert got[0]["N_DBL"] == 3.25
    assert got[0]["N_CUR"] == 19.99
    assert got[0]["N_TS"] == ts
    # binary fields have no null encoding: None writes zeros (JDN 0 -> None)
    assert got[1] == {"N_INT": 0, "N_DBL": 0.0, "N_CUR": 0.0, "N_TS": None}


# ---------------------------------------------------------------------------
# property-based round trips (hypothesis): any well-formed shape survives
# write->read->write byte-identically — the generalization of the
# reference's fixed read_write_read_test! fixtures
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    finite = st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )

    @st.composite
    def point_records(draw):
        n = draw(st.integers(1, 8))
        return [
            S.ShapeRec(POINT, np.array([[draw(finite), draw(finite)]]))
            for _ in range(n)
        ]

    @st.composite
    def polyline_z_records(draw):
        recs = []
        for _ in range(draw(st.integers(1, 4))):
            n_parts = draw(st.integers(1, 3))
            counts = [draw(st.integers(2, 6)) for _ in range(n_parts)]
            total = sum(counts)
            xy = np.array(
                [[draw(finite), draw(finite)] for _ in range(total)]
            )
            z = np.array([draw(finite) for _ in range(total)])
            m = np.array([draw(finite) for _ in range(total)])
            parts = np.cumsum([0] + counts[:-1])
            recs.append(S.ShapeRec(13, xy, z=z, m=m, parts=parts))
        return recs

    @settings(max_examples=25, deadline=None)
    @given(point_records())
    def test_hypothesis_point_roundtrip(recs):
        shp, shx = S.write_shp(recs)
        _, got, nums = S.read_shp(shp, shx=shx)
        shp2, shx2 = S.write_shp(got)
        assert (shp, shx) == (shp2, shx2)  # byte-identical re-write
        assert nums == list(range(1, len(recs) + 1))
        for a, b in zip(recs, got):
            assert np.array_equal(a.xy, b.xy)

    @settings(max_examples=25, deadline=None)
    @given(polyline_z_records())
    def test_hypothesis_polyline_z_roundtrip(recs):
        shp, shx = S.write_shp(recs)
        _, got, nums = S.read_shp(shp, shx=shx)
        shp2, _ = S.write_shp(got)
        assert shp == shp2
        for a, b in zip(recs, got):
            assert np.array_equal(a.xy, b.xy)
            assert np.array_equal(a.z, b.z)
            assert np.array_equal(a.m, b.m)
            assert np.array_equal(np.asarray(a.parts), np.asarray(b.parts))


def test_bulk_nonmonotonic_parts_fall_back_and_nan_mrange_roundtrip():
    """Review regressions: (a) non-monotonic part offsets send the file to
    the sequential reader instead of failing the scan; (b) a genuinely
    stored NaN m_range round-trips byte-identically through the bulk path
    (per-record with_m flag, not a NaN marker)."""
    from shapefile_rs_spark.shapelib.shptypes import POLYLINE_M

    rec = S.ShapeRec(POLYLINE, np.arange(16, dtype=float).reshape(8, 2), parts=[0, 5, 3])
    shp, shx = roundtrip([rec])[0:2]
    with pytest.raises(S._BulkUnsupported):
        S.read_shp_bulk(shp, shx)
    _, recs, _ = S.read_shp(shp, shx=shx)  # index-guided sequential fallback
    assert recs[0].xy.shape == (8, 2)

    mrec = S.ShapeRec(
        POLYLINE_M,
        np.arange(8, dtype=float).reshape(4, 2),
        parts=[0],
        m=np.array([1.0, 2.0, 3.0, 4.0]),
        m_range=(float("nan"), 4.0),
    )
    shp2, shx2 = S.write_shp([mrec])
    r_bulk, _ = S.bulk_to_records(S.read_shp_bulk(shp2, shx2))
    assert np.isnan(r_bulk[0].m_range[0]) and r_bulk[0].m_range[1] == 4.0
    assert S.write_shp(r_bulk)[0] == shp2  # byte-identical rewrite


def test_wkt_from_wkb_all_families():
    """Canonical WKT for point/multipoint/line/polygon WKB."""
    from shapefile_rs_spark.geom.wkb import (
        multilinestring_wkb,
        multipoint_wkb,
        multipolygon_wkb,
        point_wkb,
        wkt_from_wkb,
    )

    assert wkt_from_wkb(point_wkb(1.5, -2.0)) == "POINT (1.5 -2)"
    assert (
        wkt_from_wkb(multipoint_wkb(np.array([[1.0, 2.0], [3.25, 4.0]])))
        == "MULTIPOINT ((1 2), (3.25 4))"
    )
    assert (
        wkt_from_wkb(multilinestring_wkb([np.array([[0.0, 0.0], [1.0, 1.0]])]))
        == "MULTILINESTRING ((0 0, 1 1))"
    )
    sq = np.array([[0, 0], [0, 1], [1, 1], [0, 0]], float)
    assert wkt_from_wkb(multipolygon_wkb([[sq]])) == (
        "MULTIPOLYGON (((0 0, 0 1, 1 1, 0 0)))"
    )


def test_bulk_orphan_points_empty_multilinestring():
    """A polyline record with points but ZERO parts decodes as an EMPTY
    MultiLineString through the bulk path, matching the sequential decoder
    and the reference's geo-types export (ADVICE r2: the bulk path used to
    fail the whole scan task on such a file)."""
    from shapefile_rs_spark.geom.wkb import (
        multilinestrings_wkb_bulk,
        shape_to_wkb,
        wkt_from_wkb,
    )

    ok = S.ShapeRec(POLYLINE, np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]]), parts=[0])
    orphan = S.ShapeRec(POLYLINE, np.array([[5.0, 5.0], [6.0, 6.0]]), parts=[])
    shp, shx = S.write_shp([ok, orphan, ok])
    b = S.read_shp_bulk(shp, shx)
    bulk_wkb = multilinestrings_wkb_bulk(b.xy, b.point_offsets, b.parts, b.part_offsets)
    _, seq, _ = S.read_shp(shp, shx=shx)
    assert bulk_wkb == [shape_to_wkb(r) for r in seq]
    assert wkt_from_wkb(bulk_wkb[1]) == "MULTILINESTRING ()"


@pytest.mark.parametrize("shape_type", [POLYGON, POLYLINE_Z])
def test_empty_multipart_record_roundtrips(shape_type):
    """A multipart record with 0 parts and 0 points (a 40-byte body, or
    56 with the Z block) reads back on both decoders: write → read →
    write is byte-identical, bulk == sequential, and the bulk WKB is the
    per-record encoder's (an empty MULTIPOLYGON / MULTILINESTRING)."""
    from shapefile_rs_spark.geom.wkb import (
        multilinestrings_wkb_bulk,
        multipolygons_wkb_bulk,
        shape_to_wkb,
        wkt_from_wkb,
    )

    z = {} if shape_type == POLYGON else {"z": [1.0, 2.0, 3.0, 1.0]}
    square = S.ShapeRec(
        shape_type, [[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]], parts=[0], **z
    )
    empty_z = {} if shape_type == POLYGON else {"z": []}
    empty = S.ShapeRec(shape_type, np.empty((0, 2)), parts=[], **empty_z)
    shp, shx = S.write_shp([square, empty, square])
    _, seq, nums_seq = S.read_shp(shp, shx=None)
    assert seq[1].num_points == 0 and seq[1].num_parts == 0
    assert S.write_shp(seq) == (shp, shx)

    b = S.read_shp_bulk(shp, shx)
    recs, nums = S.bulk_to_records(b)
    assert nums == nums_seq
    for a, c in zip(recs, seq):
        assert np.array_equal(a.xy, c.xy) and np.array_equal(a.parts, c.parts)
        assert a.bbox_xy == c.bbox_xy and a.z_range == c.z_range
        assert (a.z is None) == (c.z is None) and (a.z is None or np.array_equal(a.z, c.z))
    assert S.write_shp(recs) == (shp, shx)

    if shape_type == POLYGON:
        bulk_wkb, orphan = multipolygons_wkb_bulk(b.xy, b.point_offsets, b.parts, b.part_offsets)
        assert not orphan.any()
    else:
        bulk_wkb = multilinestrings_wkb_bulk(b.xy, b.point_offsets, b.parts, b.part_offsets)
    assert bulk_wkb == [shape_to_wkb(r) for r in seq]
    kind = "MULTIPOLYGON" if shape_type == POLYGON else "MULTILINESTRING"
    assert wkt_from_wkb(bulk_wkb[1]) == f"{kind} ()"


def test_wkt_num_nonfinite_coordinates():
    """NaN/Inf coordinates export deliberately as repr() text instead of
    raising ValueError/OverflowError (ADVICE r2)."""
    from shapefile_rs_spark.geom.wkb import point_wkb, wkt_from_wkb

    assert wkt_from_wkb(point_wkb(float("nan"), float("inf"))) == "POINT (nan inf)"
    assert wkt_from_wkb(point_wkb(-float("inf"), 2.0)) == "POINT (-inf 2)"


def test_dbf_memo_dbt_resolution():
    """'M' fields resolve block pointers through the .dbt sidecar to memo
    text (dbase-crate surface the reference re-exports, src/lib.rs:60);
    dangling/zero pointers and absent sidecars stay None."""
    from shapefile_rs_spark.shapelib.dbf import read_memo, write_dbt

    memos = ["first memo", None, "third memo, longer than a few words " * 20]
    dbt, blocks = write_dbt(memos)
    assert blocks[1] is None and blocks[0] == 1 and blocks[2] >= 2
    assert len(dbt) % 512 == 0
    assert read_memo(dbt, blocks[0]) == memos[0]
    assert read_memo(dbt, blocks[2]) == memos[2]
    assert read_memo(dbt, 10_000) is None  # dangling pointer tolerated

    fields = [DbfField("ID", "N", 4, 0), DbfField("NOTE", "M", 10, 0)]
    rows = [{"ID": i + 1, "NOTE": b} for i, b in enumerate(blocks)]
    dbf = write_dbf(fields, rows)
    _, back = read_dbf(dbf, dbt=dbt)
    assert [r["NOTE"] for r in back] == [memos[0], None, memos[2]]
    # without the sidecar the pointer is meaningless -> None (old behavior)
    _, no_sidecar = read_dbf(dbf)
    assert [r["NOTE"] for r in no_sidecar] == [None, None, None]
    # FoxPro-width memo field: 4-byte LE block int
    fields4 = [DbfField("NOTE", "M", 4, 0)]
    dbf4 = write_dbf(fields4, [{"NOTE": blocks[0]}])
    _, back4 = read_dbf(dbf4, dbt=dbt)
    assert back4[0]["NOTE"] == memos[0]


def test_read_memo_interior_terminator_byte():
    """Memo text containing an interior lone chr(26) round-trips: the
    reader scans for the 0x1A 0x1A PAIR terminator first."""
    from shapefile_rs_spark.shapelib.dbf import read_memo, write_dbt

    text = "before\x1aafter"
    dbt, blocks = write_dbt([text])
    assert read_memo(dbt, blocks[0]) == text
