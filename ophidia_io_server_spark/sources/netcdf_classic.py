"""Minimal pure-Python NetCDF *classic* (CDF-1/CDF-2/CDF-5) reader + writer.

The classic file layout is a public Unidata specification (the "NetCDF
Classic Format Spec"): a header — magic ``CDF\\x01``/``CDF\\x02``/
``CDF\\x05``, numrecs, dim list, global attributes, variable list (name,
dimids, attributes, nc_type, vsize, begin offset) — followed by fixed-size
variable data stored contiguously, row-major, big-endian.  That simplicity
makes a dependency-free fallback practical: ``NetCDF4Backend``
(sources/netcdf_import.py) uses the ``netCDF4`` library when installed and
this module otherwise, so the real file-import branch (reference
``oph_io_server_nc.c:755-1190``) is exercised end to end even in containers
without the C library stack.

Format variants (all public specs):
- **CDF-1**: 32-bit sizes/counts, 32-bit begin offsets.
- **CDF-2** (64-bit *offset*): as CDF-1 but 64-bit begin offsets.
- **CDF-5** (64-bit *data*, the pnetcdf extension adopted by netcdf-c): every
  NON_NEG header entity (numrecs, list counts, name lengths, dim sizes,
  ndims, dimids, vsize) widens to INT64, offsets are 64-bit, and five
  integer types join the classic set: NC_UBYTE(7), NC_USHORT(8), NC_UINT(9),
  NC_INT64(10), NC_UINT64(11).  Tags and nc_type stay 32-bit; 4-byte
  alignment rules are unchanged; the STREAMING numrecs sentinel is the
  all-ones INT64 (reads as −1 signed, same test as CDF-1/2).

NetCDF-4/HDF5 is NOT covered (see README "Format support"): it is an HDF5
container, and a hand-rolled HDF5 reader could not be independently
verified in this environment (no h5py/netCDF4) — the ``netCDF4`` branch
picks it up transparently where that library exists, exactly like the
reference's libnetcdf does.

Scope: all numeric nc_types, fixed-size AND record (unlimited-dimension)
variables.  Record data follows the classic interleaved layout: per record
``r``, every record variable contributes one record's slab at
``begin + r * recsize`` where ``recsize`` is the sum of all record vars'
4-byte-padded per-record sizes (single-record-variable files skip the
padding, per the spec) — the same offset algebra the reference implements
for unlimited dims incl. multi-file concat
(``oph_io_server_nc.c:846-921``).  Reads of record variables go through a
strided ``np.ndarray`` view over the memmap, so a hyperslab still touches
only its own bytes.

The writer exists for tests/fixtures and as the `oph_export`-to-file
counterpart; hyperslab reads go through ``np.memmap`` so a task reading a
slab touches only that slab's bytes (same contract as the netCDF4 branch).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

_MAGIC1 = b"CDF\x01"
_MAGIC2 = b"CDF\x02"
_MAGIC5 = b"CDF\x05"
_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C

# nc_type → (numpy big-endian dtype, element size); 7-11 are CDF-5-only
_TYPES = {
    1: (">i1", 1),  # NC_BYTE
    2: ("S1", 1),   # NC_CHAR
    3: (">i2", 2),  # NC_SHORT
    4: (">i4", 4),  # NC_INT
    5: (">f4", 4),  # NC_FLOAT
    6: (">f8", 8),  # NC_DOUBLE
    7: (">u1", 1),  # NC_UBYTE
    8: (">u2", 2),  # NC_USHORT
    9: (">u4", 4),  # NC_UINT
    10: (">i8", 8),  # NC_INT64
    11: (">u8", 8),  # NC_UINT64
}
_CDF5_ONLY_TYPES = frozenset({7, 8, 9, 10, 11})
_REV_TYPES = {np.dtype(np.float64): 6, np.dtype(np.float32): 5,
              np.dtype(np.int32): 4, np.dtype(np.int16): 3, np.dtype(np.int8): 1,
              np.dtype(np.uint8): 7, np.dtype(np.uint16): 8,
              np.dtype(np.uint32): 9, np.dtype(np.int64): 10,
              np.dtype(np.uint64): 11}


def _pad4(n: int) -> int:
    return (4 - n % 4) % 4


@dataclass
class ClassicVar:
    name: str
    dim_names: list[str]
    shape: tuple[int, ...]
    nc_type: int
    begin: int
    record: bool = False

    def rec_bytes(self) -> int:
        """Unpadded byte size of one record's worth of data."""
        n = 1
        for s in self.shape[1:]:
            n *= s
        return n * _TYPES[self.nc_type][1]


class ClassicReader:
    """Header parse + memmap hyperslab reads for classic NetCDF files."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            self._parse(f)

    # -- header ---------------------------------------------------------

    def _i4(self, f) -> int:
        return struct.unpack(">i", f.read(4))[0]

    def _nn(self, f) -> int:
        """NON_NEG header entity: INT in CDF-1/2, INT64 in CDF-5."""
        if self._fmt == 5:
            return struct.unpack(">q", f.read(8))[0]
        return self._i4(f)

    def _name(self, f) -> str:
        n = self._nn(f)
        s = f.read(n).decode()
        f.read(_pad4(n))
        return s

    def _skip_attrs(self, f) -> None:
        tag = self._i4(f)
        count = self._nn(f)
        if tag == 0 and count == 0:
            return
        if tag != _NC_ATTRIBUTE:
            raise ValueError(f"bad attribute list tag {tag}")
        for _ in range(count):
            self._name(f)
            t = self._i4(f)
            n = self._nn(f)
            size = n * _TYPES[t][1]
            f.read(size + _pad4(size))

    def _parse(self, f) -> None:
        magic = f.read(4)
        if magic == _MAGIC1:
            self._fmt, self._offsz = 1, 4
        elif magic == _MAGIC2:
            self._fmt, self._offsz = 2, 8
        elif magic == _MAGIC5:
            self._fmt, self._offsz = 5, 8
        else:
            raise ValueError(f"not a classic NetCDF file: magic {magic!r}")
        # STREAMING sentinel: all-ones, reads as −1 signed in every variant
        self.numrecs = self._nn(f)
        # dimensions
        tag, count = self._i4(f), self._nn(f)
        self.dims: list[tuple[str, int]] = []
        if tag == _NC_DIMENSION:
            for _ in range(count):
                nm = self._name(f)
                self.dims.append((nm, self._nn(f)))
        elif not (tag == 0 and count == 0):
            raise ValueError(f"bad dim list tag {tag}")
        self._skip_attrs(f)  # global attributes
        # the (at most one) unlimited dimension is the dim with size 0
        rec_dim = next((i for i, (_, sz) in enumerate(self.dims) if sz == 0), None)
        # variables
        tag, count = self._i4(f), self._nn(f)
        self.vars: dict[str, ClassicVar] = {}
        if tag == _NC_VARIABLE:
            for _ in range(count):
                nm = self._name(f)
                ndims = self._nn(f)
                dimids = [self._nn(f) for _ in range(ndims)]
                self._skip_attrs(f)
                nc_type = self._i4(f)
                if nc_type in _CDF5_ONLY_TYPES and self._fmt != 5:
                    raise ValueError(
                        f"variable {nm!r}: nc_type {nc_type} requires CDF-5")
                self._nn(f)  # vsize (padded; recomputed from shape)
                begin = (self._i4(f) if self._offsz == 4
                         else struct.unpack(">q", f.read(8))[0])
                dn = [self.dims[d][0] for d in dimids]
                record = bool(dimids) and dimids[0] == rec_dim and rec_dim is not None
                if rec_dim is not None and rec_dim in dimids[1:]:
                    raise ValueError(
                        f"variable {nm!r}: the unlimited dimension must be "
                        "outermost (classic format constraint)")
                shape = tuple(self.dims[d][1] for d in dimids)
                if record:
                    shape = (self.numrecs, *shape[1:])
                self.vars[nm] = ClassicVar(nm, dn, shape, nc_type, begin, record)
        elif not (tag == 0 and count == 0):
            raise ValueError(f"bad var list tag {tag}")
        # record stride: sum of padded per-record sizes of all record vars;
        # a single record variable is stored unpadded/contiguous (spec note)
        rec_vars = [v for v in self.vars.values() if v.record]
        if len(rec_vars) == 1:
            self._recsize = rec_vars[0].rec_bytes()
        else:
            self._recsize = sum(rb + _pad4(rb)
                                for rb in (v.rec_bytes() for v in rec_vars))
        if rec_vars and self.numrecs < 0:  # STREAMING sentinel (0xFFFFFFFF)
            import os

            first = min(v.begin for v in rec_vars)
            self.numrecs = (os.path.getsize(self.path) - first) // self._recsize
            for v in rec_vars:
                v.shape = (self.numrecs, *v.shape[1:])

    # -- data -----------------------------------------------------------

    def var_dims(self, measure: str) -> list[tuple[str, int]]:
        v = self.vars[measure]
        return list(zip(v.dim_names, v.shape))

    def read(self, measure: str, start: tuple[int, ...],
             count: tuple[int, ...]) -> np.ndarray:
        v = self.vars[measure]
        dt = np.dtype(_TYPES[v.nc_type][0])
        if v.record:
            # records are interleaved across record variables: stride the
            # outermost axis by recsize instead of the row-major default
            mm = np.memmap(self.path, dtype=np.uint8, mode="r")
            strides, acc = [], dt.itemsize
            for s in reversed(v.shape[1:]):
                strides.insert(0, acc)
                acc *= s
            arr = np.ndarray(shape=v.shape, dtype=dt, buffer=mm,
                             offset=v.begin, strides=(self._recsize, *strides))
        else:
            arr = np.memmap(self.path, dtype=dt, mode="r", offset=v.begin,
                            shape=v.shape, order="C")
        sl = tuple(slice(s, s + c) for s, c in zip(start, count))
        return np.asarray(arr[sl], dtype=np.float64)


def write_classic(path: str, dims: list[tuple[str, int]],
                  variables: dict[str, tuple[list[str], np.ndarray]],
                  version: int = 1) -> None:
    """Write a classic file: ``dims`` = ordered (name, size); ``variables``
    maps name → (dim_names, row-major ndarray).  ``version`` 1 (CDF-1,
    default) or 5 (CDF-5: 64-bit header entities + the unsigned/64-bit
    integer types).

    A dim with size 0 is the unlimited (record) dimension; variables whose
    FIRST dim is the unlimited one are written as record variables in the
    spec's interleaved record layout (numrecs taken from their arrays'
    first axis, which must agree)."""
    if version not in (1, 5):
        raise ValueError(f"version must be 1 (CDF-1) or 5 (CDF-5), got {version}")
    dim_index = {n: i for i, (n, _) in enumerate(dims)}
    unlim = next((n for n, sz in dims if sz == 0), None)

    def nn(v: int) -> bytes:
        """NON_NEG header entity: INT in CDF-1, INT64 in CDF-5."""
        return struct.pack(">q" if version == 5 else ">i", v)

    def name_bytes(s: str) -> bytes:
        b = s.encode()
        return nn(len(b)) + b + b"\x00" * _pad4(len(b))

    items = [(n, dn, np.ascontiguousarray(a)) for n, (dn, a) in variables.items()]
    rec_items = [(n, dn, a) for n, dn, a in items if dn and dn[0] == unlim]
    fix_items = [(n, dn, a) for n, dn, a in items if not (dn and dn[0] == unlim)]
    numrecs = 0
    if rec_items:
        lens = {a.shape[0] for _, _, a in rec_items}
        if len(lens) != 1:
            raise ValueError(f"record variables disagree on numrecs: {lens}")
        numrecs = lens.pop()

    def _nct(a):
        t = _REV_TYPES[np.dtype(a.dtype.newbyteorder("="))]
        if t in _CDF5_ONLY_TYPES and version != 5:
            raise ValueError(
                f"dtype {a.dtype} (nc_type {t}) requires version=5 (CDF-5)")
        return t

    def _recb(a):  # unpadded per-record byte size
        n = 1
        for s in a.shape[1:]:
            n *= s
        return n * _TYPES[_nct(a)][1]

    header = bytearray()
    header += _MAGIC5 if version == 5 else _MAGIC1
    header += nn(numrecs)
    header += struct.pack(">i", _NC_DIMENSION) + nn(len(dims))
    for n, sz in dims:
        header += name_bytes(n) + nn(sz)
    header += struct.pack(">i", 0) + nn(0)  # no global attrs
    header += struct.pack(">i", _NC_VARIABLE) + nn(len(variables))

    def var_block(name: str, dim_names: list[str], arr: np.ndarray,
                  begin: int, record: bool) -> bytes:
        nc_type = _nct(arr)
        if record:
            vsize = _recb(arr)
        else:
            vsize = arr.size * _TYPES[nc_type][1]
        vsize += _pad4(vsize)
        blk = name_bytes(name)
        blk += nn(len(dim_names))
        for dn in dim_names:
            blk += nn(dim_index[dn])
        blk += struct.pack(">i", 0) + nn(0)  # no var attrs
        blk += struct.pack(">i", nc_type) + nn(vsize)
        # begin offset: 32-bit in CDF-1, 64-bit in CDF-2/5
        blk += struct.pack(">q" if version == 5 else ">i", begin)
        return bytes(blk)

    is_rec = {n: bool(dn) and dn[0] == unlim for n, dn, _ in items}
    probe = b"".join(var_block(n, dn, a, 0, bool(is_rec[n])) for n, dn, a in items)
    data_start = len(header) + len(probe)

    # fixed variables first (contiguous), then the record section
    begins: dict[str, int] = {}
    off = data_start
    for n, _, a in fix_items:
        begins[n] = off
        sz = a.size * _TYPES[_nct(a)][1]
        off += sz + _pad4(sz)
    rec_start = off
    pad_records = len(rec_items) != 1  # sole record var: unpadded (spec note)
    for n, _, a in rec_items:
        begins[n] = off
        rb = _recb(a)
        off += rb + (_pad4(rb) if pad_records else 0)

    with open(path, "wb") as f:
        f.write(header)
        for n, dn, a in items:
            f.write(var_block(n, dn, a, begins[n], bool(is_rec[n])))
        for n, dn, a in fix_items:
            raw = a.astype(_TYPES[_nct(a)][0]).tobytes(order="C")
            f.write(raw + b"\x00" * _pad4(len(raw)))
        for r in range(numrecs):
            for n, dn, a in rec_items:
                raw = a[r].astype(_TYPES[_nct(a)][0]).tobytes(order="C")
                if pad_records:
                    raw += b"\x00" * _pad4(len(raw))
                f.write(raw)


# ---------------------------------------------------------------------------
# fragment export (the write half of the file surface)
# ---------------------------------------------------------------------------


def _write_fragment_file(path: str, rows: list, var: str) -> None:
    """Write id-sorted ``(id_dim, measure list)`` rows as one classic file:
    dims (id_dim: nrows, array: maxlen), short rows NaN-padded.  The file's
    id variable is int32, so an id outside its range raises ``ValueError``
    instead of being written wrapped."""
    lo, hi = np.iinfo(np.int32).min, np.iinfo(np.int32).max
    bad = next((rid for rid, _ in rows if not lo <= rid <= hi), None)
    if bad is not None:
        raise ValueError(f"id_dim {bad} does not fit the int32 id variable "
                         f"of a classic NetCDF export")
    n = len(rows)
    width = max((len(m) for _, m in rows), default=0)
    data = np.full((n, width), np.nan, dtype=np.float64)
    ids = np.empty((n,), dtype=np.int32)
    for i, (rid, m) in enumerate(rows):
        ids[i] = rid
        data[i, : len(m)] = m
    write_classic(
        path,
        dims=[("id_dim", n), ("array", width)],
        variables={var: (["id_dim", "array"], data),
                   "id_dim": (["id_dim"], ids)},
    )


def export_fragment_nc(df, path: str, var: str = "m") -> int:
    """Export a fragment (id_dim long, measure double[]) to ONE classic
    NetCDF file: dims (id_dim: nrows, array: maxlen), short rows NaN-padded.

    Driver-side collect — the single-file parity surface (the reference's
    export is likewise one server writing one fragment).  For cluster-scale
    exports use ``export_fragment_nc_sharded``: one file per partition,
    written BY the executors, no driver bottleneck."""
    rows = sorted((r[0], list(r[1] or [])) for r in df.select("id_dim", "measure").collect())
    _write_fragment_file(path, rows, var)
    return len(rows)


def export_fragment_nc_sharded(df, out_dir: str, var: str = "m") -> int:
    """Cluster-scale export: range-partition by id_dim and have EACH TASK
    write its own classic file ``part-<pid>.nc`` under ``out_dir`` (shared
    FS), so export bandwidth scales with executors — the Spark-native
    counterpart of Ophidia's one-fragment-per-server layout.  Returns the
    number of shards written; shards re-import and re-join on the global
    id_dim (same contract as fragment-of-cube import)."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    nparts = df.sparkSession.sparkContext.defaultParallelism

    def write_part(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows = sorted((int(r["id_dim"]), list(r["measure"] or [])) for r in it)
        if not rows:
            return iter(())
        _write_fragment_file(os.path.join(out_dir, f"part-{pid:05d}.nc"),
                             rows, var)
        return iter((1,))

    shards = (
        df.select("id_dim", "measure")
        .repartitionByRange(nparts, F.col("id_dim").asc())
        .rdd.mapPartitions(write_part)
        .sum()
    )
    return int(shards)
