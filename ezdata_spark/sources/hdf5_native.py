"""Pure-numpy HDF5 table scan + sink — no h5py required.

The reference reads/writes HDF5 via pytables/h5py (simpletable.py:
1539-1550 read, 1756-1772 write; chunked lazy scan dask/hdf5.py:
199-283). Neither library ships in this container, but the subset the
reference actually uses — one table-shaped dataset, read by row range —
is implementable directly from the public HDF5 File Format Specification
(version 0 superblock, "old-style" groups), the format libhdf5 emits by
default for simple files:

- superblock v0/v1 -> root group symbol-table entry
- old-style groups: v1 object headers, v1 B-tree ('TREE') over symbol
  nodes ('SNOD'), names in a local heap ('HEAP')
- datasets: dataspace (v1/v2), datatype (fixed-point / float / string /
  compound with scalar or small-array members), data layout v3
  contiguous (compact also read)
- object-header continuation blocks followed; unknown messages
  (attributes, fill values, modification times) skipped

Scale design matches fits_native.py: the driver parses only headers
(KBs) to plan (file, row-range) chunk tasks; each executor seeks to
``data_addr + start*itemsize`` and bulk-reads its slice with a
structured dtype, so a multi-file archive ingests with full cluster
parallelism and bounded per-task memory (dask/hdf5.py's 10M-row
chunking, scheduled by Spark).

Not supported (clear errors, not silent misreads): chunked/compressed
layouts, new-style (v2 'OHDR') object headers, variable-length types.
``write_hdf5`` is a single-file driver-side sink like ``write_fits``;
Parquet remains the scale sink.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .binary_tables import ingest_chunked, write_atomic, write_shards

SIG = b"\x89HDF\r\n\x1a\n"
UNDEF = 0xFFFFFFFFFFFFFFFF


def _u(buf: bytes, off: int, n: int) -> int:
    return int.from_bytes(buf[off : off + n], "little")


# ------------------------------------------------------------------ reader
class _H5:
    """Minimal read-only parser for one old-style HDF5 file."""

    def __init__(self, path: str):
        import mmap

        self.path = path
        # mmap, not read(): header parsing touches a few KB of pages no
        # matter how large the file is — a 20 GB archive must not be
        # slurped into every chunk task (or 32x concurrently on the
        # driver during count_rows planning)
        self._fh = open(path, "rb")
        try:
            self.buf: bytes | mmap.mmap = mmap.mmap(
                self._fh.fileno(), 0, access=mmap.ACCESS_READ
            )
        except ValueError:  # zero-length file
            self.buf = b""
        if self.buf[:8] != SIG:
            raise ValueError(f"{path}: not an HDF5 file (bad signature)")
        ver = self.buf[8]
        if ver not in (0, 1):
            raise NotImplementedError(
                f"{path}: superblock version {ver} (v2/v3 'new-style' files) "
                "is not supported by the native reader; files written with "
                "libver='earliest' (the libhdf5 default) use v0"
            )
        if self.buf[13] != 8 or self.buf[14] != 8:
            raise NotImplementedError("only 8-byte offsets/lengths supported")
        # v1 inserts 2+2 bytes (indexed-storage k) after the group ks
        base = 24 if ver == 0 else 28
        self.base_addr = _u(self.buf, base, 8)
        root_entry = base + 32  # past base/freespace/eof/driver addresses
        self.root_oh = _u(self.buf, root_entry + 8, 8)

    # ---------------- object header (v1) message iteration
    def messages(self, oh_addr: int) -> list[tuple[int, bytes]]:
        buf = self.buf
        if buf[oh_addr : oh_addr + 4] == b"OHDR":
            raise NotImplementedError(
                "new-style (v2) object headers are not supported; write the "
                "file with libver='earliest'"
            )
        if buf[oh_addr] != 1:
            raise ValueError(f"unsupported object header version {buf[oh_addr]}")
        nmsgs = _u(buf, oh_addr + 2, 2)
        hdr_size = _u(buf, oh_addr + 8, 4)
        blocks = [(oh_addr + 16, hdr_size)]
        out: list[tuple[int, bytes]] = []
        bi = 0
        pos, end = blocks[0][0], blocks[0][0] + blocks[0][1]
        while len(out) < nmsgs:
            if pos + 8 > end:
                bi += 1
                if bi >= len(blocks):
                    break  # tolerate short counts rather than crash
                pos, end = blocks[bi][0], blocks[bi][0] + blocks[bi][1]
                continue
            mtype = _u(buf, pos, 2)
            msize = _u(buf, pos + 2, 2)
            body = buf[pos + 8 : pos + 8 + msize]
            pos += 8 + msize
            pos += -pos % 8  # messages are 8-byte aligned
            if mtype == 0x0010:  # continuation: body = (offset, length)
                blocks.append((_u(body, 0, 8), _u(body, 8, 8)))
            out.append((mtype, body))
        return out

    # ---------------- group traversal (symbol-table btree + heap)
    def _heap_names_addr(self, heap_addr: int) -> int:
        buf = self.buf
        if buf[heap_addr : heap_addr + 4] != b"HEAP":
            raise ValueError("bad local heap signature")
        return _u(buf, heap_addr + 24, 8)

    def _name(self, heap_data: int, offset: int) -> str:
        # mmap has find() but not index()
        end = self.buf.find(b"\x00", heap_data + offset)
        if end < 0:
            raise ValueError(f"{self.path}: unterminated heap string")
        return self.buf[heap_data + offset : end].decode("utf-8")

    def _walk_btree(self, node_addr: int, heap_data: int, out: dict):
        buf = self.buf
        if buf[node_addr : node_addr + 4] != b"TREE":
            raise ValueError("bad B-tree signature")
        level = buf[node_addr + 5]
        used = _u(buf, node_addr + 6, 2)
        pos = node_addr + 24
        children = []
        pos += 8  # key 0
        for _ in range(used):
            children.append(_u(buf, pos, 8))
            pos += 16  # child + next key
        for child in children:
            if level > 0:
                self._walk_btree(child, heap_data, out)
            else:
                self._read_snod(child, heap_data, out)

    def _read_snod(self, addr: int, heap_data: int, out: dict):
        buf = self.buf
        if buf[addr : addr + 4] != b"SNOD":
            raise ValueError("bad symbol node signature")
        nsyms = _u(buf, addr + 6, 2)
        pos = addr + 8
        for _ in range(nsyms):
            name_off = _u(buf, pos, 8)
            oh = _u(buf, pos + 8, 8)
            out[self._name(heap_data, name_off)] = oh
            pos += 40

    def group_links(self, oh_addr: int) -> dict[str, int] | None:
        """name -> object header addr for an old-style group; None if the
        object is not a group (no symbol table message)."""
        for mtype, body in self.messages(oh_addr):
            if mtype == 0x0011:
                btree, heap = _u(body, 0, 8), _u(body, 8, 8)
                out: dict[str, int] = {}
                self._walk_btree(btree, self._heap_names_addr(heap), out)
                return out
        return None

    def resolve(self, path: str) -> int:
        """Resolve an absolute object path ('/a/b' or 'a/b') to its
        object header address."""
        oh = self.root_oh
        for part in [p for p in path.split("/") if p]:
            links = self.group_links(oh)
            if links is None or part not in links:
                raise KeyError(f"{self.path}: no object {path!r} (missing {part!r})")
            oh = links[part]
        return oh

    # ---------------- dataset metadata
    def dataset_meta(self, path: str) -> dict:
        oh = self.resolve(path)
        dims = dtype = layout = None
        for mtype, body in self.messages(oh):
            if mtype == 0x0001:
                dims = _parse_dataspace(body)
            elif mtype == 0x0003:
                dtype, _ = _parse_datatype(body, 0)
            elif mtype == 0x0008:
                layout = _parse_layout(body)
        if dims is None or dtype is None or layout is None:
            raise ValueError(f"{self.path}:{path} is not a readable dataset")
        return {"dims": dims, "dtype": dtype, **layout}


def _parse_dataspace(body: bytes) -> tuple[int, ...]:
    ver, rank = body[0], body[1]
    off = 8 if ver == 1 else 4  # v1: 1+1+1+5 reserved; v2: 1+1+1+1
    return tuple(_u(body, off + 8 * i, 8) for i in range(rank))


def _parse_datatype(body: bytes, off: int) -> tuple[np.dtype, int]:
    """Parse one datatype encoding at ``off``; return (dtype, bytes used)."""
    cls = body[off] & 0x0F
    ver = body[off] >> 4
    bits = _u(body, off + 1, 3)
    size = _u(body, off + 4, 4)
    pos = off + 8
    order = ">" if (bits & 1) else "<"
    if cls == 0:  # fixed-point: props = bit offset(2) + precision(2)
        signed = "i" if (bits & 0x08) else "u"
        return np.dtype(f"{order}{signed}{size}"), (pos + 4) - off
    if cls == 1:  # float: props = 12 bytes; size disambiguates f4/f8
        return np.dtype(f"{order}f{size}"), (pos + 12) - off
    if cls == 3:  # string (fixed-length): no props
        return np.dtype(f"S{size}"), pos - off
    if cls == 6:  # compound
        nmembers = bits & 0xFFFF
        names, formats, offsets = [], [], []
        for _ in range(nmembers):
            if ver in (1, 2):
                end = body.index(b"\x00", pos)
                name = body[pos:end].decode("utf-8")
                pos += ((end - pos) + 8) // 8 * 8  # name padded to 8
                m_off = _u(body, pos, 4)
                pos += 4
                if ver == 1:
                    ndims = body[pos]
                    pos += 1 + 3 + 4 + 4  # dims count, reserved, perm, reserved
                    dims = tuple(_u(body, pos + 4 * i, 4) for i in range(ndims))
                    pos += 16  # four dim slots regardless of ndims
                else:
                    dims = ()
            elif ver == 3:
                end = body.index(b"\x00", pos)
                name = body[pos:end].decode("utf-8")
                pos = end + 1  # no padding
                nbytes = max(1, (size.bit_length() + 7) // 8)
                m_off = _u(body, pos, nbytes)
                pos += nbytes
                dims = ()
            else:
                raise NotImplementedError(f"compound datatype version {ver}")
            m_dtype, used = _parse_datatype(body, pos)
            pos += used
            if ver in (2, 3) and m_dtype.subdtype:
                dims = ()
            names.append(name)
            formats.append((m_dtype, dims) if dims else m_dtype)
            offsets.append(m_off)
        return (
            np.dtype({"names": names, "formats": formats, "offsets": offsets, "itemsize": size}),
            pos - off,
        )
    if cls == 10:  # array datatype (wraps a base type; v2/v3 members use it)
        if ver >= 3:
            ndims = body[pos]
            pos += 1
            dims = tuple(_u(body, pos + 4 * i, 4) for i in range(ndims))
            pos += 4 * ndims
        else:
            ndims = body[pos]
            pos += 4  # ndims + 3 reserved
            dims = tuple(_u(body, pos + 4 * i, 4) for i in range(ndims))
            pos += 4 * ndims + 4 * ndims  # dims + permutation indices
        base, used = _parse_datatype(body, pos)
        pos += used
        return np.dtype((base, dims)), pos - off
    raise NotImplementedError(
        f"HDF5 datatype class {cls} (variable-length/enum/reference) is not "
        "supported by the native reader"
    )


def _parse_layout(body: bytes) -> dict:
    ver = body[0]
    if ver == 3:
        cls = body[1]
        if cls == 1:  # contiguous
            return {"data_addr": _u(body, 2, 8), "nbytes": _u(body, 10, 8)}
        if cls == 0:  # compact: data inline in the message
            sz = _u(body, 2, 2)
            return {"data_addr": None, "nbytes": sz, "inline": body[4 : 4 + sz]}
        raise NotImplementedError(
            "chunked/compressed HDF5 layouts are not supported by the native "
            "reader; write with contiguous layout (no chunks/compression)"
        )
    if ver in (1, 2):
        ndims, cls = body[1], body[2]
        if cls != 1:
            raise NotImplementedError("only contiguous layout supported (v1/v2)")
        return {"data_addr": _u(body, 8, 8), "nbytes": None}
    raise NotImplementedError(f"layout message version {ver}")


def hdf5_table_meta(path: str, dataset: str) -> dict:
    """Driver-side metadata read: nrows, numpy dtype, data address."""
    h5 = _H5(path)
    meta = h5.dataset_meta(dataset)
    dims, dtype = meta["dims"], meta["dtype"]
    if len(dims) != 1:
        raise NotImplementedError(
            f"{path}:{dataset} has rank {len(dims)}; only 1-D (table-shaped) "
            "datasets are supported"
        )
    return {"nrows": dims[0], "dtype": dtype, "data_addr": meta["data_addr"],
            "inline": meta.get("inline")}


def read_h5_rows(path: str, dataset: str, start: int, stop: int) -> pd.DataFrame:
    """Executor-side: decode rows [start, stop) into a pandas frame."""
    meta = hdf5_table_meta(path, dataset)
    dtype: np.dtype = meta["dtype"]
    if meta["data_addr"] is None:  # compact inline data
        raw = np.frombuffer(meta["inline"], dtype=dtype)[start:stop]
    else:
        with open(path, "rb") as f:
            f.seek(meta["data_addr"] + start * dtype.itemsize)
            raw = np.fromfile(f, dtype=dtype, count=stop - start)
    if dtype.names is None:
        return pd.DataFrame({"value": _np_to_pandas_col(raw)})
    return pd.DataFrame({n: _np_to_pandas_col(raw[n]) for n in dtype.names})


def _np_to_pandas_col(col: np.ndarray):
    if col.dtype.kind == "S":
        if len(col) == 0:
            # np.char.decode on an empty S-array degrades to float64,
            # mistyping a 0-row chunk against the declared StringType
            # schema (same guard as fits_native._decode_chunk)
            return np.array([], dtype=object)
        return np.char.decode(col, "utf-8")
    native = col.astype(col.dtype.newbyteorder("=")) if col.dtype.byteorder == ">" else col
    if native.ndim > 1:  # subarray member -> array column
        if len(native) == 0:
            # an empty [] list makes pandas infer float64, which Arrow
            # can't convert to the declared list<...> type — 0-row
            # chunks need an object-typed empty column
            return np.array([], dtype=object)
        return list(native)
    return native


_NP_SPARK = {
    "i1": T.ByteType(), "u1": T.ShortType(), "i2": T.ShortType(), "u2": T.IntegerType(),
    "i4": T.IntegerType(), "u4": T.LongType(), "i8": T.LongType(),
    "f4": T.FloatType(), "f8": T.DoubleType(),
}


def _np_to_spark(dt: np.dtype) -> T.DataType:
    if dt.subdtype is not None:
        return T.ArrayType(_np_to_spark(dt.subdtype[0]))
    if dt.kind == "S":
        return T.StringType()
    key = f"{dt.kind}{dt.itemsize}"
    if key not in _NP_SPARK:
        raise NotImplementedError(f"no Spark mapping for numpy dtype {dt}")
    return _NP_SPARK[key]


def hdf5_spark_schema(dtype: np.dtype) -> T.StructType:
    if dtype.names is None:
        return T.StructType([T.StructField("value", _np_to_spark(dtype), True)])
    return T.StructType(
        [T.StructField(n, _np_to_spark(dtype[n]), True) for n in dtype.names]
    )


def scan_hdf5(
    spark: SparkSession,
    files: list[str] | str,
    dataset: str,
    chunk_rows: int = 10_000_000,
):
    """Distributed HDF5 table scan (pure numpy; h5py-free parity for
    simpletable.py:1539-1550 / dask/hdf5.py:199-283). Returns an EzTable."""
    from ..table import EzTable

    if isinstance(files, str):
        files = [files]
    meta = hdf5_table_meta(files[0], dataset)
    schema = hdf5_spark_schema(meta["dtype"])

    def count_rows(path: str) -> int:
        return hdf5_table_meta(path, dataset)["nrows"]

    def read_chunk(path: str, start: int, stop: int) -> pd.DataFrame:
        return read_h5_rows(path, dataset, start, stop)

    df = ingest_chunked(spark, files, schema, count_rows, read_chunk, chunk_rows)
    return EzTable(df)


# ------------------------------------------------------------------ writer
def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _dt_fixed(np_code: str) -> bytes:
    """Fixed-point datatype encoding (little-endian)."""
    size = int(np_code[1])
    signed = np_code[0] == "i"
    bits = 0x08 if signed else 0x00
    return (
        bytes([0x10 | 0x00]) + bits.to_bytes(3, "little") + struct.pack("<I", size)
        + struct.pack("<HH", 0, size * 8)
    )


def _dt_float(size: int) -> bytes:
    if size == 4:
        props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        sign_loc = 31
    else:
        props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        sign_loc = 63
    bits = 0x20 | (sign_loc << 8)  # implied-msb mantissa norm, sign position
    return bytes([0x10 | 0x01]) + bits.to_bytes(3, "little") + struct.pack("<I", size) + props


def _dt_string(size: int) -> bytes:
    return bytes([0x10 | 0x03]) + (0).to_bytes(3, "little") + struct.pack("<I", size)


def _member_datatype(dt: np.dtype) -> bytes:
    if dt.kind in ("i", "u"):
        return _dt_fixed(f"{dt.kind}{dt.itemsize}")
    if dt.kind == "f":
        return _dt_float(dt.itemsize)
    if dt.kind == "S":
        return _dt_string(dt.itemsize)
    raise ValueError(f"write_hdf5: unsupported member dtype {dt}")


def _dt_compound(dtype: np.dtype) -> bytes:
    """Compound datatype (version 1 members: supports array dims)."""
    members = b""
    for name in dtype.names:
        field = dtype.fields[name]
        m_dt, m_off = field[0], field[1]
        if m_dt.subdtype is not None:
            base, dims = m_dt.subdtype
            ndims, dimsz = len(dims), list(dims) + [0] * (4 - len(dims))
        else:
            base, ndims, dimsz = m_dt, 0, [0, 0, 0, 0]
        members += _pad8(name.encode() + b"\x00")
        members += struct.pack("<I", m_off)
        members += bytes([ndims]) + b"\x00" * 3 + b"\x00" * 4 + b"\x00" * 4
        members += struct.pack("<4I", *dimsz)
        members += _member_datatype(base)
    head = bytes([0x10 | 0x06]) + len(dtype.names).to_bytes(3, "little")
    return head + struct.pack("<I", dtype.itemsize) + members


def _msg(mtype: int, body: bytes) -> bytes:
    body = _pad8(body)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _object_header(messages: list[bytes]) -> bytes:
    block = b"".join(messages)
    return struct.pack("<BxHII4x", 1, len(messages), 1, len(block)) + block


_SPARK_NP_H5 = {
    T.BooleanType: "u1",  # HDF5 has no native bool; u1 0/1 (documented)
    T.ByteType: "i1", T.ShortType: "i2", T.IntegerType: "i4", T.LongType: "i8",
    T.FloatType: "f4", T.DoubleType: "f8",
}


def _pdf_to_rec(pdf, schema: T.StructType) -> np.ndarray:
    """Convert a pandas frame (typed by its Spark schema) to the packed
    numpy record array the HDF5 encoder stores. Boolean columns become
    u1 0/1 (HDF5 has no portable bool); integer nulls are rejected (no
    HDF5 sentinel convention), float nulls become NaN."""
    fields, cols = [], []
    for f in schema.fields:
        name = f.name
        if isinstance(f.dataType, T.StringType):
            vals = pdf[name].fillna("").astype(str).to_numpy()
            width = max([len(v.encode("utf-8")) for v in vals] or [1]) or 1
            fields.append((name, f"S{width}"))
            cols.append(np.array([v.encode("utf-8") for v in vals], dtype=f"S{width}"))
        elif isinstance(f.dataType, T.ArrayType) and type(f.dataType.elementType) in _SPARK_NP_H5:
            el = _SPARK_NP_H5[type(f.dataType.elementType)]
            arrs = [np.asarray(v if v is not None else [], dtype=el) for v in pdf[name]]
            width = max([len(a) for a in arrs] or [1]) or 1
            mat = np.zeros((len(arrs), width), dtype=el)
            for i, a in enumerate(arrs):
                mat[i, : len(a)] = a
            fields.append((name, el, (width,)))
            cols.append(mat)
        elif type(f.dataType) in _SPARK_NP_H5:
            el = _SPARK_NP_H5[type(f.dataType)]
            ser = pdf[name]
            if type(f.dataType) is T.BooleanType:
                # the documented policy (null -> False) must run BEFORE
                # the integer-null reject: bools store as u1. fillna on
                # an object series would warn (and later raise) about
                # downcasting — build the bool array without it
                ser = ser.map(lambda v: False if pd.isna(v) else bool(v))
            elif el[0] in "iu" and ser.isna().any():
                raise ValueError(
                    f"write_hdf5: integer column {name!r} has nulls; HDF5 has "
                    "no integer-null convention — fill or cast to double first"
                )
            cols.append(ser.to_numpy(el))
            fields.append((name, el))
        else:
            raise ValueError(f"write_hdf5: unsupported Spark type {f.dataType} for {name!r}")

    rec = np.zeros(len(pdf), dtype=np.dtype(fields))
    for (name, *_), col in zip(fields, cols):
        rec[name] = col
    return rec


def encode_hdf5(rec: np.ndarray, dataset: str = "data") -> bytes:
    """Lay out one complete old-style HDF5 file (v0 superblock,
    symbol-table root group, one compound contiguous dataset) around a
    packed record array. Shared by the single-file and sharded sinks."""
    # ---- lay out the file: superblock, root group, dataset, data
    name_b = dataset.encode("utf-8")
    heap_names = b"\x00" * 8 + _pad8(name_b + b"\x00")  # offset 0 = "" (btree -inf key)
    name_off = 8
    free_off = len(heap_names)
    heap_data_bytes = heap_names + struct.pack("<QQ", 1, 16)  # terminal free block
    K_LEAF = 4
    btree_size = 24 + (2 * K_LEAF + 1) * 8 + (2 * K_LEAF) * 8
    snod_size = 8 + (2 * K_LEAF) * 40

    sb_size = 96
    root_oh_addr = sb_size
    root_oh = _object_header([_msg(0x0011, b"")])  # btree/heap addrs patched below
    # placeholder-sized root header: symbol table msg body is 16 bytes
    root_oh_size = 16 + 8 + 16
    btree_addr = root_oh_addr + root_oh_size
    heap_hdr_addr = btree_addr + btree_size
    heap_data_addr = heap_hdr_addr + 32
    snod_addr = heap_data_addr + len(heap_data_bytes)
    ds_oh_addr = snod_addr + snod_size

    dt_msg = _msg(0x0003, _dt_compound(rec.dtype))
    ds_msg = _msg(0x0001, struct.pack("<BBB5xQ", 1, 1, 0, len(rec)))
    layout_body = struct.pack("<BBQQ", 3, 1, 0, rec.dtype.itemsize * len(rec))
    layout_msg = _msg(0x0008, layout_body)
    ds_oh_size = 16 + len(ds_msg) + len(dt_msg) + len(layout_msg)
    data_addr = ds_oh_addr + ds_oh_size
    data_addr += -data_addr % 8
    layout_body = struct.pack("<BBQQ", 3, 1, data_addr, rec.dtype.itemsize * len(rec))
    layout_msg = _msg(0x0008, layout_body)

    root_oh = _object_header([_msg(0x0011, struct.pack("<QQ", btree_addr, heap_hdr_addr))])
    assert len(root_oh) == root_oh_size

    btree = b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, UNDEF, UNDEF)
    btree += struct.pack("<Q", 0)          # key 0: heap offset of ""
    btree += struct.pack("<Q", snod_addr)  # child 0
    btree += struct.pack("<Q", name_off)   # key 1: heap offset of last name
    btree = btree.ljust(btree_size, b"\x00")

    heap_hdr = b"HEAP" + struct.pack(
        "<B3xQQQ", 0, len(heap_data_bytes), free_off, heap_data_addr
    )

    snod = b"SNOD" + struct.pack("<BBH", 1, 0, 1)
    snod += struct.pack("<QQII16x", name_off, ds_oh_addr, 0, 0)
    snod = snod.ljust(snod_size, b"\x00")

    ds_oh = _object_header([ds_msg, dt_msg, layout_msg])
    assert len(ds_oh) == ds_oh_size

    payload = rec.tobytes()
    eof = data_addr + len(payload)
    superblock = SIG + struct.pack(
        "<BBBxBBBxHHI", 0, 0, 0, 0, 8, 8, K_LEAF, 16, 0
    )
    superblock += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
    superblock += struct.pack("<QQII", 0, root_oh_addr, 1, 0)
    superblock += struct.pack("<QQ", btree_addr, heap_hdr_addr)  # cached scratch
    assert len(superblock) == sb_size

    out = bytearray(eof)
    for addr, blob in (
        (0, superblock), (root_oh_addr, root_oh), (btree_addr, btree),
        (heap_hdr_addr, heap_hdr), (heap_data_addr, heap_data_bytes),
        (snod_addr, snod), (ds_oh_addr, ds_oh), (data_addr, payload),
    ):
        out[addr : addr + len(blob)] = blob
    return bytes(out)


def write_hdf5(t, path: str, dataset: str = "data") -> None:
    """Write a table as a single old-style HDF5 file with one compound
    contiguous dataset at ``/<dataset>`` (simpletable.py:1756-1772
    parity). Driver-side collect like ``write_fits``;
    ``write_hdf5_sharded`` is the distributed form, Parquet the native
    scale sink.

    Layout is the libhdf5 'earliest' format: v0 superblock, symbol-table
    root group, v1 object headers — readable by h5py and by
    ``scan_hdf5``. Boolean columns are stored as u1 0/1 (HDF5 has no
    portable bool); integer nulls are rejected (no HDF5 sentinel
    convention), float nulls become NaN.
    """
    df: DataFrame = getattr(t, "df", t)
    write_atomic(path, encode_hdf5(_pdf_to_rec(df.toPandas(), df.schema), dataset))


def write_hdf5_sharded(t, dir_path: str, dataset: str = "data") -> list[dict]:
    """Distributed HDF5 export: every partition writes its own
    self-describing file executor-side (mapInPandas — no driver
    collect); ``scan_hdf5`` reads the directory's files back as one
    multi-file archive. Size the shards with ``df.repartition(n)``
    before calling. Returns the manifest [(file, rows, n_bytes)]."""
    df: DataFrame = getattr(t, "df", t)
    schema = df.schema
    return write_shards(
        df, dir_path, ".h5", lambda pdf: encode_hdf5(_pdf_to_rec(pdf, schema), dataset)
    )
