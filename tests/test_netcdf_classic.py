"""Real-file NetCDF branch: the pure classic-format (CDF-1) reader/writer
round trip, and file:// imports matching the synthetic:// oracle bit for bit
(the fixture contains the synthetic backend's flat-index values, so every
dim-algebra path — explicit/implicit split, levels, subsets, transpose —
must agree exactly with the already-oracled synthetic import)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ophidia_io_server_spark.sources.netcdf_classic import ClassicReader, write_classic
from ophidia_io_server_spark.sources.netcdf_import import import_variable


@pytest.fixture(scope="module")
def nc_fixture(tmp_path_factory):
    """(time=16, lat=12, lon=10) double cube, cell = file-order flat index —
    identical to synthetic://cube?dims=time:16,lat:12,lon:10."""
    shape = (16, 12, 10)
    path = str(tmp_path_factory.mktemp("nc") / "cube.nc")
    data = np.arange(math.prod(shape), dtype=np.float64).reshape(shape)
    write_classic(
        path,
        dims=[("time", 16), ("lat", 12), ("lon", 10)],
        variables={"m": (["time", "lat", "lon"], data)},
    )
    return path, shape, data


def test_classic_reader_header_and_full_read(nc_fixture):
    path, shape, data = nc_fixture
    r = ClassicReader(path)
    assert r.var_dims("m") == [("time", 16), ("lat", 12), ("lon", 10)]
    got = r.read("m", (0, 0, 0), shape)
    np.testing.assert_array_equal(got, data)


def test_classic_reader_hyperslabs(nc_fixture):
    path, _, data = nc_fixture
    r = ClassicReader(path)
    for start, count in [((3, 2, 1), (5, 4, 3)), ((0, 0, 0), (1, 1, 1)),
                         ((15, 11, 9), (1, 1, 1)), ((2, 0, 5), (10, 12, 5))]:
        sl = tuple(slice(s, s + c) for s, c in zip(start, count))
        np.testing.assert_array_equal(r.read("m", start, count), data[sl])


def test_classic_int_and_float_types(tmp_path):
    path = str(tmp_path / "typed.nc")
    ints = np.arange(24, dtype=np.int32).reshape(4, 6)
    flts = (np.arange(24, dtype=np.float32) / 3).reshape(4, 6)
    write_classic(path, dims=[("y", 4), ("x", 6)],
                  variables={"i": (["y", "x"], ints), "f": (["y", "x"], flts)})
    r = ClassicReader(path)
    np.testing.assert_array_equal(r.read("i", (1, 2), (2, 3)), ints[1:3, 2:5])
    np.testing.assert_array_equal(r.read("f", (0, 0), (4, 6)),
                                  flts.astype(np.float64))


def test_classic_record_variables_roundtrip(tmp_path):
    """Unlimited-dim (record) variables: interleaved record layout with
    multiple record vars + a fixed var; strided hyperslab reads (reference
    unlimited-dim handling, oph_io_server_nc.c:846-921)."""
    path = str(tmp_path / "rec.nc")
    t, lat, lon = 7, 3, 4
    a = np.arange(t * lat * lon, dtype=np.float64).reshape(t, lat, lon)
    b = (np.arange(t * lat, dtype=np.float32) / 2).reshape(t, lat)
    fixed = np.arange(lat * lon, dtype=np.int32).reshape(lat, lon)
    write_classic(
        path,
        dims=[("time", 0), ("lat", lat), ("lon", lon)],
        variables={"a": (["time", "lat", "lon"], a),
                   "b": (["time", "lat"], b),
                   "base": (["lat", "lon"], fixed)},
    )
    r = ClassicReader(path)
    assert r.numrecs == t
    assert r.var_dims("a") == [("time", t), ("lat", lat), ("lon", lon)]
    np.testing.assert_array_equal(r.read("a", (0, 0, 0), (t, lat, lon)), a)
    np.testing.assert_array_equal(r.read("b", (0, 0), (t, lat)),
                                  b.astype(np.float64))
    np.testing.assert_array_equal(r.read("base", (0, 0), (lat, lon)), fixed)
    for start, count in [((2, 1, 1), (3, 2, 2)), ((6, 0, 0), (1, 3, 4)),
                         ((0, 2, 3), (7, 1, 1))]:
        sl = tuple(slice(s, s + c) for s, c in zip(start, count))
        np.testing.assert_array_equal(r.read("a", start, count), a[sl])


def test_classic_single_record_var_unpadded(tmp_path):
    """Odd per-record byte size (int8, 3 B/record) exercises the spec's
    single-record-variable no-padding rule."""
    path = str(tmp_path / "rec1.nc")
    d = np.arange(15, dtype=np.int8).reshape(5, 3)
    write_classic(path, dims=[("time", 0), ("x", 3)],
                  variables={"v": (["time", "x"], d)})
    r = ClassicReader(path)
    assert r.numrecs == 5
    np.testing.assert_array_equal(r.read("v", (1, 0), (3, 3)), d[1:4])


def test_multifile_concat_record_dim_real_files(spark, tmp_path):
    """Multi-file import concatenated along the record dim against REAL
    classic .nc bytes (reference multi-file unlimited-dim offsets,
    oph_io_server_nc.c:846-921): ids are sequential across files, values
    match the concatenated numpy cube."""
    import pytest as _pytest

    from ophidia_io_server_spark.sources.netcdf_import import import_variable_multifile

    lat, lon = 3, 4
    paths, chunks, off = [], [], 0
    for k, t in enumerate((4, 2, 5)):
        data = (np.arange(t * lat * lon, dtype=np.float64) + off).reshape(t, lat, lon)
        off += t * lat * lon
        p = str(tmp_path / f"part{k}.nc")
        write_classic(p, dims=[("time", 0), ("lat", lat), ("lon", lon)],
                      variables={"m": (["time", "lat", "lon"], data)})
        paths.append(p)
        chunks.append(data)
    df = import_variable_multifile(
        spark, paths, "m",
        dim_names=["time", "lat", "lon"],
        dim_types=["explicit", "explicit", "implicit"],
    )
    rows = {r.id_dim: list(r.measure) for r in df.collect()}
    want = np.concatenate(chunks).reshape(-1, lon)  # explicit (time,lat) → rows
    assert len(rows) == want.shape[0]
    for i in range(want.shape[0]):
        assert rows[i + 1] == _pytest.approx(list(want[i]))


def test_file_import_matches_synthetic(spark, nc_fixture):
    path, _, _ = nc_fixture
    kwargs = dict(
        measure="m",
        dim_names=["time", "lat", "lon"], dim_types=["0", "1", "1"],
        dim_indexes=["0", "0", "1"], dim_starts=["3", "2", "1"],
        dim_ends=["14", "11", "10"],
    )
    via_file = import_variable(spark, f"file://{path}", **kwargs)
    via_synth = import_variable(
        spark, "synthetic://cube?dims=time:16,lat:12,lon:10", **kwargs)
    a = sorted((r.id_dim, tuple(r.measure)) for r in via_file.collect())
    b = sorted((r.id_dim, tuple(r.measure)) for r in via_synth.collect())
    assert a == b and len(a) > 0


def test_file_import_pushdown_kernel_matches_synthetic(spark, nc_fixture):
    path, _, _ = nc_fixture
    kwargs = dict(
        measure="m",
        dim_names=["time", "lat", "lon"], dim_types=["1", "1", "0"],
        sub_operation="avg",
    )
    via_file = import_variable(spark, f"file://{path}", **kwargs)
    via_synth = import_variable(
        spark, "synthetic://cube?dims=time:16,lat:12,lon:10", **kwargs)
    a = sorted((r.id_dim, tuple(r.measure)) for r in via_file.collect())
    b = sorted((r.id_dim, tuple(r.measure)) for r in via_synth.collect())
    assert a == b and len(a) > 0


def test_engine_file_import_real_file(spark, nc_fixture):
    from ophidia_io_server_spark.operators.engine import IOServer

    path, _, _ = nc_fixture
    srv = IOServer(spark)
    srv.execute(
        f"operation=file_import;frag_name=real_cube;src_path=file://{path};"
        "measure=m;dim=time|lat|lon;dim_type=0|1|1;dim_index=0|0|1;"
        "dim_start=3|2|1;dim_end=14|11|10"
    )
    out = srv.execute("operation=function;function=oph_export;arg='real_cube'")
    assert out.count() == 100  # 10 lat-rows (2..11) × 10 lon-rows


def test_export_roundtrip_single_file(spark, tmp_path):
    from ophidia_io_server_spark.sources.netcdf_classic import ClassicReader, export_fragment_nc

    df = spark.createDataFrame(
        [(3, [1.0, 2.0]), (1, [5.0]), (2, [7.0, 8.0])],
        "id_dim long, measure array<double>")
    path = str(tmp_path / "frag.nc")
    assert export_fragment_nc(df, path) == 3
    r = ClassicReader(path)
    assert r.var_dims("m") == [("id_dim", 3), ("array", 2)]
    data = r.read("m", (0, 0), (3, 2))
    ids = r.read("id_dim", (0,), (3,))
    assert ids.tolist() == [1.0, 2.0, 3.0]
    assert data[0][0] == 5.0 and np.isnan(data[0][1])  # short row NaN-padded
    assert data[2].tolist() == [1.0, 2.0]


def test_export_sharded_reimports_to_same_fragment(spark, tmp_path):
    import glob

    from ophidia_io_server_spark.sources.netcdf_classic import (
        ClassicReader,
        export_fragment_nc_sharded,
    )

    rows = [(i, [float(i), float(i * 2)]) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "id_dim long, measure array<double>")
    out = str(tmp_path / "shards")
    n = export_fragment_nc_sharded(df, out)
    files = sorted(glob.glob(f"{out}/part-*.nc"))
    assert n == len(files) and n >= 2  # actually parallel
    got = []
    for fp in files:
        r = ClassicReader(fp)
        nrows = dict(r.var_dims("m"))["id_dim"]
        ids = r.read("id_dim", (0,), (nrows,))
        data = r.read("m", (0, 0), (nrows, 2))
        got += [(int(i), list(map(float, d))) for i, d in zip(ids, data)]
    assert sorted(got) == [(i, m) for i, m in rows]


@pytest.mark.parametrize("sharded", [False, True])
def test_export_rejects_id_outside_int32(spark, tmp_path, sharded):
    """The file stores id_dim as int32: an id of 2**31 must raise, naming
    the id, instead of being written as -2**31 (numpy only warns on the
    out-of-range assignment and wraps it)."""
    import os

    from ophidia_io_server_spark.sources.netcdf_classic import (
        export_fragment_nc,
        export_fragment_nc_sharded,
    )

    df = spark.createDataFrame(
        [(1, [1.0]), (2**31, [2.0]), (2**31 + 5, [3.0])],
        "id_dim long, measure array<double>")
    out = str(tmp_path / "big")
    if sharded:
        # the two large ids may land in different shards; either task's
        # error may surface first
        with pytest.raises(Exception, match=r"id_dim 21474836(48|53) does not fit"):
            export_fragment_nc_sharded(df, out)
    else:
        # the first out-of-range id in id order is named
        with pytest.raises(ValueError, match="id_dim 2147483648 does not fit"):
            export_fragment_nc(df, out)
        assert not os.path.exists(out)


def test_engine_export_nc_procedure(spark, tmp_path):
    from ophidia_io_server_spark.operators.engine import IOServer
    from ophidia_io_server_spark.sources.netcdf_classic import ClassicReader

    srv = IOServer(spark)
    srv.execute("operation=create_frag;frag_name=ex")
    srv.execute("operation=multi_insert;frag_name=ex;value=(?,?),(?,?);final_statement=yes",
                params={1: 1, 2: [1.5, 2.5], 3: 2, 4: [3.5, 4.5]})
    path = str(tmp_path / "ex.nc")
    out = srv.execute(f"operation=function;function=oph_export_nc;arg='ex'|'{path}'")
    assert out.collect()[0].written == 2
    assert ClassicReader(path).read("m", (0, 0), (2, 2)).tolist() == [[1.5, 2.5], [3.5, 4.5]]


def test_classic_record_roundtrip_property(tmp_path):
    """Property sweep over shapes/dtypes/var-counts for the record layout:
    write → parse → full read and a random hyperslab must equal the numpy
    source for every combination (incl. the 1-record-var unpadded case and
    odd per-record byte sizes)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    dtypes = [np.float64, np.float32, np.int32, np.int16, np.int8]

    @settings(max_examples=30, deadline=None)
    @given(
        t=st.integers(1, 6), lat=st.integers(1, 4), lon=st.integers(1, 3),
        nvars=st.integers(1, 3), dt_idx=st.integers(0, len(dtypes) - 1),
        seed=st.integers(0, 10_000),
    )
    def check(t, lat, lon, nvars, dt_idx, seed):
        rng = np.random.default_rng(seed)
        dt = dtypes[dt_idx]
        path = str(tmp_path / f"prop-{t}-{lat}-{lon}-{nvars}-{dt_idx}-{seed}.nc")
        arrs = {
            f"v{i}": (["time", "lat", "lon"],
                      rng.integers(-100, 100, size=(t, lat, lon)).astype(dt))
            for i in range(nvars)
        }
        write_classic(path, dims=[("time", 0), ("lat", lat), ("lon", lon)],
                      variables=arrs)
        r = ClassicReader(path)
        assert r.numrecs == t
        for name, (_, a) in arrs.items():
            np.testing.assert_array_equal(
                r.read(name, (0, 0, 0), (t, lat, lon)), a.astype(np.float64))
        # one random hyperslab per example
        s = (int(rng.integers(0, t)), int(rng.integers(0, lat)), int(rng.integers(0, lon)))
        c = (int(rng.integers(1, t - s[0] + 1)), int(rng.integers(1, lat - s[1] + 1)),
             int(rng.integers(1, lon - s[2] + 1)))
        sl = tuple(slice(x, x + n) for x, n in zip(s, c))
        a0 = next(iter(arrs.values()))[1]
        np.testing.assert_array_equal(r.read("v0", s, c), a0[sl].astype(np.float64))

    check()


# -- CDF-5 (64-bit data classic format) ---------------------------------------


def test_cdf5_magic_and_roundtrip_all_types(tmp_path):
    """CDF-5: 64-bit header entities, all 11 numeric nc_types including the
    CDF-5-only unsigned/64-bit integers — write → parse → read equals
    source (public pnetcdf/netcdf-c '64-bit data' spec)."""
    path = str(tmp_path / "c5.nc")
    mk = lambda dt: np.arange(12, dtype=dt).reshape(3, 4)  # noqa: E731
    arrs = {
        "f8": mk(np.float64), "f4": mk(np.float32),
        "i4": mk(np.int32), "i2": mk(np.int16), "i1": mk(np.int8),
        "u1": mk(np.uint8), "u2": mk(np.uint16), "u4": mk(np.uint32),
        "i8": mk(np.int64), "u8": mk(np.uint64),
    }
    write_classic(path, dims=[("y", 3), ("x", 4)],
                  variables={n: (["y", "x"], a) for n, a in arrs.items()},
                  version=5)
    with open(path, "rb") as f:
        assert f.read(4) == b"CDF\x05"
    r = ClassicReader(path)
    for n, a in arrs.items():
        np.testing.assert_array_equal(r.read(n, (0, 0), (3, 4)),
                                      a.astype(np.float64))
        np.testing.assert_array_equal(r.read(n, (1, 1), (2, 2)),
                                      a[1:3, 1:3].astype(np.float64))


def test_cdf5_record_variables_and_streaming_numrecs(tmp_path):
    """Record variables in CDF-5 use the same interleaved layout; the
    STREAMING sentinel is the all-ones INT64 at offset 4 and numrecs must be
    rederived from the file size."""
    path = str(tmp_path / "c5rec.nc")
    t, x = 6, 5
    a = np.arange(t * x, dtype=np.int64).reshape(t, x)
    b = (np.arange(t * x, dtype=np.float32) / 4).reshape(t, x)
    write_classic(path, dims=[("time", 0), ("x", x)],
                  variables={"a": (["time", "x"], a), "b": (["time", "x"], b)},
                  version=5)
    r = ClassicReader(path)
    assert r.numrecs == t
    np.testing.assert_array_equal(r.read("a", (0, 0), (t, x)), a)
    np.testing.assert_array_equal(r.read("b", (2, 1), (3, 3)),
                                  b[2:5, 1:4].astype(np.float64))
    # patch numrecs to the 8-byte STREAMING sentinel
    with open(path, "r+b") as f:
        f.seek(4)
        f.write(b"\xff" * 8)
    r2 = ClassicReader(path)
    assert r2.numrecs == t
    np.testing.assert_array_equal(r2.read("a", (0, 0), (t, x)), a)


def test_cdf5_only_types_rejected_in_cdf1(tmp_path):
    import pytest

    path = str(tmp_path / "bad.nc")
    u = np.arange(6, dtype=np.uint32).reshape(2, 3)
    with pytest.raises(ValueError, match="requires version=5"):
        write_classic(path, dims=[("y", 2), ("x", 3)],
                      variables={"u": (["y", "x"], u)})
    with pytest.raises(ValueError, match="version must be"):
        write_classic(path, dims=[("y", 2), ("x", 3)],
                      variables={"u": (["y", "x"], u)}, version=2)


def test_cdf5_cross_version_same_data(tmp_path):
    """The same dataset written as CDF-1 and CDF-5 must read identically —
    the format variant changes only header field widths, never values."""
    d = (np.arange(24, dtype=np.float64) / 7).reshape(4, 6)
    ids = np.arange(4, dtype=np.int32)
    paths = {}
    for v in (1, 5):
        p = str(tmp_path / f"v{v}.nc")
        write_classic(p, dims=[("id_dim", 4), ("array", 6)],
                      variables={"m": (["id_dim", "array"], d),
                                 "id_dim": (["id_dim"], ids)}, version=v)
        paths[v] = p
    r1, r5 = ClassicReader(paths[1]), ClassicReader(paths[5])
    assert r1.var_dims("m") == r5.var_dims("m")
    np.testing.assert_array_equal(r1.read("m", (0, 0), (4, 6)),
                                  r5.read("m", (0, 0), (4, 6)))
    np.testing.assert_array_equal(r1.read("id_dim", (0,), (4,)),
                                  r5.read("id_dim", (0,), (4,)))


def test_cdf5_record_roundtrip_property(tmp_path):
    """Property sweep for the CDF-5 record layout across shapes, dtypes
    (incl. CDF-5-only ones) and var counts — mirrors the CDF-1 sweep."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    dtypes = [np.float64, np.int64, np.uint16, np.uint8, np.int16]

    @settings(max_examples=25, deadline=None)
    @given(
        t=st.integers(1, 6), lat=st.integers(1, 4), lon=st.integers(1, 3),
        nvars=st.integers(1, 3), dt_idx=st.integers(0, len(dtypes) - 1),
        seed=st.integers(0, 10_000),
    )
    def check(t, lat, lon, nvars, dt_idx, seed):
        rng = np.random.default_rng(seed)
        dt = dtypes[dt_idx]
        lo = 0 if np.dtype(dt).kind == "u" else -100
        path = str(tmp_path / f"c5p-{t}-{lat}-{lon}-{nvars}-{dt_idx}-{seed}.nc")
        arrs = {
            f"v{i}": (["time", "lat", "lon"],
                      rng.integers(lo, 100, size=(t, lat, lon)).astype(dt))
            for i in range(nvars)
        }
        write_classic(path, dims=[("time", 0), ("lat", lat), ("lon", lon)],
                      variables=arrs, version=5)
        r = ClassicReader(path)
        assert r.numrecs == t
        for name, (_, a) in arrs.items():
            np.testing.assert_array_equal(
                r.read(name, (0, 0, 0), (t, lat, lon)), a.astype(np.float64))
        s = (int(rng.integers(0, t)), int(rng.integers(0, lat)), int(rng.integers(0, lon)))
        c = (int(rng.integers(1, t - s[0] + 1)), int(rng.integers(1, lat - s[1] + 1)),
             int(rng.integers(1, lon - s[2] + 1)))
        sl = tuple(slice(x, x + n) for x, n in zip(s, c))
        a0 = next(iter(arrs.values()))[1]
        np.testing.assert_array_equal(r.read("v0", s, c), a0[sl].astype(np.float64))

    check()
