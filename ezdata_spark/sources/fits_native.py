"""Pure-numpy FITS binary-table scan + sink — no astropy required.

The reference reads/writes FITS via astropy (simpletable.py:1523-1538,
1756-1772). astropy is not in this container, but FITS is a simple,
fully public format (FITS Standard 4.0: 2880-byte ASCII header blocks
of 80-char cards, then big-endian fixed-width binary records), so the
BINTABLE subset the reference actually uses is implemented here
directly on numpy:

- ``scan_fits`` — distributed scan: the driver parses only headers
  (a few KB per file) to plan (file, row-range) chunk tasks; each
  executor seeks to ``data_start + start*NAXIS1`` and bulk-reads its
  slice with a structured dtype. A multi-file FITS archive therefore
  ingests with full cluster parallelism and bounded per-task memory,
  exactly like the HDF5 chunk plan (dask/hdf5.py:199-283).
- ``write_fits`` — single-file sink (driver-side collect, like the
  reference's ``SimpleTable.write``; Parquet remains the scale sink).

Supported TFORM codes cover the reference's numeric/string surface:
L (bool), B (u1), I (i2), J (i4), K (i8), E (f4), D (f8), rA (fixed
ASCII), and numeric repeats r>1 as array<T> columns. TUNITn round-trips
into EzTable units metadata (the reference keeps units in FITS headers,
simpletable.py:1612-1637).
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .binary_tables import ingest_chunked, write_atomic, write_shards

BLOCK = 2880
CARD = 80

# TFORM letter -> (big-endian numpy code, Spark type)
_TFORM_NP = {
    "L": ("S1", T.BooleanType()),
    "B": ("u1", T.ShortType()),  # FITS B is unsigned; widen to short
    "I": (">i2", T.ShortType()),
    "J": (">i4", T.IntegerType()),
    "K": (">i8", T.LongType()),
    "E": (">f4", T.FloatType()),
    "D": (">f8", T.DoubleType()),
}
_NP_TFORM = {
    "b": "L",
    "u1": "B",
    "i2": "I",
    "i4": "J",
    "i8": "K",
    "f4": "E",
    "f8": "D",
}


# ---------------------------------------------------------------- header I/O
def _card(key: str, value: Any, comment: str = "") -> bytes:
    """Format one fixed-format 80-byte header card.

    Raises if the keyword or value cannot fit — silent truncation would
    corrupt the header (a clipped TFORM/NAXIS1 changes the data layout).
    Only the optional comment is trimmed to fit, which the standard
    permits."""
    if len(key) > 8:
        raise ValueError(f"FITS keyword {key!r} exceeds 8 characters")
    if value is None:
        text = f"{key:<8}"
    elif isinstance(value, bool):
        text = f"{key:<8}= {'T' if value else 'F':>20}"
    elif isinstance(value, (int, np.integer)):
        text = f"{key:<8}= {value:>20d}"
    elif isinstance(value, (float, np.floating)):
        text = f"{key:<8}= {value:>20.14G}"
    else:
        s = str(value).replace("'", "''")
        text = f"{key:<8}= '{s:<8}'"
    if len(text) > CARD:
        raise ValueError(
            f"FITS header card for {key!r} overflows 80 bytes "
            f"({len(text)}): value {value!r} is too long"
        )
    if comment:
        text = (text + f" / {comment}")[:CARD]
    return text.ljust(CARD).encode("ascii")


def _parse_value(raw: str) -> Any:
    """Parse a fixed-format card value (after the '= ')."""
    raw = raw.strip()
    if raw.startswith("'"):
        # quoted string; '' escapes a quote — find the true closing quote
        out, i = [], 1
        while i < len(raw):
            if raw[i] == "'":
                if i + 1 < len(raw) and raw[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                break
            out.append(raw[i])
            i += 1
        return "".join(out).rstrip()
    raw = raw.split("/", 1)[0].strip()
    if raw == "T":
        return True
    if raw == "F":
        return False
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw.replace("D", "E"))  # Fortran double exponent
    except ValueError:
        return raw


def _read_header(f) -> tuple[dict, int]:
    """Read one header unit from the current position; return
    (cards dict, bytes consumed). Repeated keywords keep the first."""
    cards: dict[str, Any] = {}
    consumed = 0
    while True:
        block = f.read(BLOCK)
        if len(block) < BLOCK:
            raise ValueError("truncated FITS header")
        consumed += BLOCK
        for i in range(0, BLOCK, CARD):
            card = block[i : i + CARD].decode("ascii", errors="replace")
            key = card[:8].strip()
            if key == "END":
                return cards, consumed
            if card[8:10] == "= " and key and key not in cards:
                cards[key] = _parse_value(card[10:])


def _data_size(h: dict) -> int:
    """Padded data-unit size following a header (FITS Standard §4.4.1)."""
    naxis = int(h.get("NAXIS", 0))
    if naxis == 0:
        return 0
    nbytes = abs(int(h.get("BITPIX", 8))) // 8 * int(h.get("GCOUNT", 1))
    for i in range(1, naxis + 1):
        nbytes *= int(h.get(f"NAXIS{i}", 0))
    nbytes += abs(int(h.get("BITPIX", 8))) // 8 * int(h.get("PCOUNT", 0))
    return (nbytes + BLOCK - 1) // BLOCK * BLOCK


def fits_table_meta(path: str, hdu: int = 1) -> dict:
    """Parse headers only (no data read) up to ``hdu``; return
    {'header', 'data_start', 'nrows', 'row_bytes', 'columns', 'units'}
    where columns is [(name, tform)] in table order."""
    with open(path, "rb") as f:
        offset = 0
        for i in range(hdu + 1):
            f.seek(offset)
            h, hdr_bytes = _read_header(f)
            data_start = offset + hdr_bytes
            if i == hdu:
                break
            offset = data_start + _data_size(h)
    if h.get("XTENSION", "").strip() != "BINTABLE":
        raise ValueError(f"HDU {hdu} of {path} is not a BINTABLE")
    ncols = int(h["TFIELDS"])
    columns = [
        (str(h.get(f"TTYPE{i}", f"col{i}")).strip(), str(h[f"TFORM{i}"]).strip())
        for i in range(1, ncols + 1)
    ]
    units = {
        str(h.get(f"TTYPE{i}", f"col{i}")).strip(): str(h[f"TUNIT{i}"]).strip()
        for i in range(1, ncols + 1)
        if f"TUNIT{i}" in h
    }
    nulls = {
        str(h.get(f"TTYPE{i}", f"col{i}")).strip(): int(h[f"TNULL{i}"])
        for i in range(1, ncols + 1)
        if f"TNULL{i}" in h
    }
    return {
        "header": h,
        "data_start": data_start,
        "nrows": int(h["NAXIS2"]),
        "row_bytes": int(h["NAXIS1"]),
        "columns": columns,
        "units": units,
        "nulls": nulls,
    }


def _split_tform(tform: str) -> tuple[int, str]:
    i = 0
    while i < len(tform) and tform[i].isdigit():
        i += 1
    return (int(tform[:i]) if i else 1), tform[i:i + 1].upper()


def _record_dtype(columns: list[tuple[str, str]]) -> np.dtype:
    fields = []
    for name, tform in columns:
        repeat, code = _split_tform(tform)
        if code == "A":
            fields.append((name, f"S{repeat}"))
        elif code in _TFORM_NP:
            np_code = _TFORM_NP[code][0]
            fields.append((name, np_code, (repeat,)) if repeat > 1 else (name, np_code))
        else:
            raise ValueError(f"unsupported TFORM {tform!r} for column {name!r}")
    return np.dtype(fields)


def fits_spark_schema(columns: list[tuple[str, str]]) -> T.StructType:
    out = []
    for name, tform in columns:
        repeat, code = _split_tform(tform)
        if code == "A":
            st: T.DataType = T.StringType()
        elif code in _TFORM_NP:
            st = _TFORM_NP[code][1]
            if repeat > 1:
                st = T.ArrayType(st)
        else:
            raise ValueError(f"unsupported TFORM {tform!r}")
        out.append(T.StructField(name, st, True))
    return T.StructType(out)


def _decode_chunk(path: str, hdu: int, start: int, stop: int) -> pd.DataFrame:
    """Executor-side: read rows [start, stop) of the table in ``hdu``."""
    meta = fits_table_meta(path, hdu)
    dtype = _record_dtype(meta["columns"])
    with open(path, "rb") as f:
        f.seek(meta["data_start"] + start * meta["row_bytes"])
        raw = np.fromfile(f, dtype=dtype, count=stop - start)
    data = {}
    for name, tform in meta["columns"]:
        repeat, code = _split_tform(tform)
        col = raw[name]
        if code == "A":
            # np.char.decode of an EMPTY S-array degrades to a non-string
            # dtype and rstrip then throws — 0-row chunks are legal
            # (empty tables still produce one (file, 0, 0) task)
            if len(col) == 0:
                data[name] = np.array([], dtype=object)
            else:
                data[name] = np.char.rstrip(np.char.decode(col, "ascii"))
        elif code == "L":
            bools = col == b"T"
            data[name] = list(bools) if repeat > 1 else bools
        elif code == "B":
            # FITS B is unsigned 8-bit; widen so Arrow maps to ShortType
            data[name] = list(col.astype("i2")) if repeat > 1 else col.astype("i2")
        elif repeat > 1:
            native = col.astype(col.dtype.newbyteorder("="))
            data[name] = list(native)
        else:
            native = col.astype(col.dtype.newbyteorder("="))
            tnull = meta["nulls"].get(name)
            if tnull is not None and native.dtype.kind == "i":
                # TNULLn sentinel -> real nulls via pandas nullable ints
                # (Arrow carries the mask into a nullable Spark column)
                data[name] = pd.Series(native).astype(f"Int{native.dtype.itemsize * 8}").mask(
                    native == tnull
                )
            else:
                data[name] = native
    return pd.DataFrame(data)


# ------------------------------------------------------------------- scan
def scan_fits(
    spark: SparkSession,
    files: list[str] | str,
    hdu: int = 1,
    chunk_rows: int = 10_000_000,
):
    """Distributed FITS BINTABLE scan (pure numpy; astropy-free parity
    for simpletable.py:1523-1538). Returns an EzTable with TUNITn
    carried into units metadata."""
    from ..table import EzTable

    if isinstance(files, str):
        files = [files]
    meta = fits_table_meta(files[0], hdu)
    schema = fits_spark_schema(meta["columns"])

    def count_rows(path: str) -> int:
        return fits_table_meta(path, hdu)["nrows"]

    def read_chunk(path: str, start: int, stop: int) -> pd.DataFrame:
        return _decode_chunk(path, hdu, start, stop)

    df = ingest_chunked(spark, files, schema, count_rows, read_chunk, chunk_rows)
    return EzTable(df, units=dict(meta["units"]))


# ------------------------------------------------------------------- sink
_SPARK_NP = {
    T.BooleanType: "b",
    T.ByteType: "i2",
    T.ShortType: "i2",
    T.IntegerType: "i4",
    T.LongType: "i8",
    T.FloatType: "f4",
    T.DoubleType: "f8",
}


def encode_fits(pdf, schema: T.StructType, units: dict | None = None) -> bytes:
    """Encode a pandas frame (typed by its Spark ``schema``) as a
    complete FITS byte blob (primary HDU + one BINTABLE). The encode
    core shared by the single-file sink (driver-side) and the sharded
    sink (executor-side, one call per partition)."""
    units = dict(units or {})
    fields, cols, tforms = [], [], []
    nulls: dict[str, int] = {}
    for f in schema.fields:
        name = f.name
        if isinstance(f.dataType, T.StringType):
            vals = pdf[name].fillna("").astype(str).to_numpy()
            width = max([len(v.encode("ascii", "replace")) for v in vals] or [1]) or 1
            fields.append((name, f"S{width}"))
            tforms.append(f"{width}A")
            cols.append(np.array([v.encode("ascii", "replace") for v in vals], dtype=f"S{width}"))
        elif isinstance(f.dataType, T.ArrayType) and isinstance(f.dataType.elementType, T.BooleanType):
            # FITS logical ('L') stores ASCII 'T'/'F' bytes, scalar or
            # vector alike — raw 0/1 bytes are not valid logicals
            arrs = [np.asarray(v if v is not None else [], dtype=bool) for v in pdf[name]]
            width = max([len(a) for a in arrs] or [1]) or 1
            mat = np.full((len(arrs), width), b"F", dtype="S1")
            for i, a in enumerate(arrs):
                mat[i, : len(a)] = np.where(a, b"T", b"F")
            fields.append((name, "S1", (width,)))
            tforms.append(f"{width}L")
            cols.append(mat)
        elif isinstance(f.dataType, T.ArrayType) and type(f.dataType.elementType) in _SPARK_NP:
            el = _SPARK_NP[type(f.dataType.elementType)]
            arrs = [np.asarray(v if v is not None else [], dtype=el) for v in pdf[name]]
            width = max([len(a) for a in arrs] or [1]) or 1
            mat = np.zeros((len(arrs), width), dtype=f">{el}")
            for i, a in enumerate(arrs):
                mat[i, : len(a)] = a
            fields.append((name, f">{el}", (width,)))
            tforms.append(f"{width}{_NP_TFORM[el]}")
            cols.append(mat)
        elif type(f.dataType) in _SPARK_NP:
            el = _SPARK_NP[type(f.dataType)]
            if el == "b":
                fields.append((name, "S1"))
                tforms.append("L")
                cols.append(
                    np.where(
                        # map, not fillna: fillna on an object series
                        # warns (later raises) about dtype downcasting
                        pdf[name].map(
                            lambda v: False if pd.isna(v) else bool(v)
                        ).to_numpy(bool),
                        b"T",
                        b"F",
                    ).astype("S1")
                )
            else:
                ser = pdf[name]
                if el.startswith("i") and ser.isna().any():
                    vals = ser.dropna()
                    if getattr(vals.dtype, "kind", "") == "f":
                        # a float64 intermediate (plain toPandas) has
                        # already rounded |v| >= 2^53 — refuse to write
                        # silently-corrupt integers
                        if (np.abs(vals.to_numpy("f8")) >= 2.0**53).any():
                            raise ValueError(
                                f"write_fits: integer column {name!r} with "
                                "nulls passed through a float64 intermediate "
                                "and holds |values| >= 2^53; collect with "
                                "nullable Int dtypes (write_fits does)"
                            )
                    # integer null: declare a sentinel via TNULLn (the
                    # FITS null convention); start at dtype-min and walk
                    # past any legitimate occurrences so a real INT_MIN
                    # value never reads back as null
                    tnull = int(np.iinfo(el).min)
                    present = vals.to_numpy(el)
                    while (present == tnull).any():
                        tnull += 1
                    nulls[name] = tnull
                    ser = ser.fillna(tnull)
                fields.append((name, f">{el}"))
                tforms.append(_NP_TFORM[el])
                cols.append(ser.to_numpy(el))
        else:
            raise ValueError(f"write_fits: unsupported Spark type {f.dataType} for {name!r}")

    rec = np.zeros(len(pdf), dtype=np.dtype(fields))
    for (name, *_), col in zip(fields, cols):
        rec[name] = col

    cards = [
        _card("SIMPLE", True, "conforms to FITS standard"),
        _card("BITPIX", 8),
        _card("NAXIS", 0),
        _card("EXTEND", True),
        _card("END", None),
    ]
    primary = b"".join(cards)
    primary += b" " * (-len(primary) % BLOCK)

    tbl_cards = [
        _card("XTENSION", "BINTABLE", "binary table extension"),
        _card("BITPIX", 8),
        _card("NAXIS", 2),
        _card("NAXIS1", rec.dtype.itemsize),
        _card("NAXIS2", len(rec)),
        _card("PCOUNT", 0),
        _card("GCOUNT", 1),
        _card("TFIELDS", len(fields)),
    ]
    for i, ((name, *_), tform) in enumerate(zip(fields, tforms), start=1):
        tbl_cards.append(_card(f"TTYPE{i}", name))
        tbl_cards.append(_card(f"TFORM{i}", tform))
        if name in units:
            tbl_cards.append(_card(f"TUNIT{i}", str(units[name])))
        if name in nulls:
            tbl_cards.append(_card(f"TNULL{i}", nulls[name]))
    tbl_cards.append(_card("END", None))
    table_hdr = b"".join(tbl_cards)
    table_hdr += b" " * (-len(table_hdr) % BLOCK)

    payload = rec.tobytes()
    payload += b"\x00" * (-len(payload) % BLOCK)
    return primary + table_hdr + payload


def _collect_pdf(df: DataFrame) -> "pd.DataFrame":
    """Driver-side collect that keeps nullable integers EXACT: plain
    ``toPandas()`` routes an int column containing any null through
    float64, silently rounding |v| >= 2^53 before the TNULL repack can
    see them. Arrow + pandas nullable Int dtypes carries the null mask
    without a float detour."""
    import pyarrow as pa

    int_map = {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
    }
    return df.toArrow().to_pandas(types_mapper=int_map.get)


def write_fits(t, path: str, units: dict | None = None) -> None:
    """Write a table as a single FITS file with one BINTABLE HDU
    (simpletable.py:1756-1772 parity). Driver-side collect like the
    reference's write path; ``write_fits_sharded`` is the distributed
    form, Parquet the native scale sink.

    ``t`` is an EzTable or DataFrame; units defaults to the EzTable's
    unit metadata so FITS round-trips carry units both ways.
    """
    df: DataFrame = getattr(t, "df", t)
    if units is None:
        units = dict(getattr(t, "units", {}) or {})
    write_atomic(path, encode_fits(_collect_pdf(df), df.schema, units))


def write_fits_sharded(t, dir_path: str, units: dict | None = None) -> list[dict]:
    """Distributed FITS export: every partition writes its own BINTABLE
    file executor-side (mapInPandas — Arrow batches, bounded memory, no
    driver collect), so a large table exports with full cluster
    parallelism into a directory that ``scan_fits`` reads back as one
    multi-file archive. Size the shards with ``df.repartition(n)``
    before calling. Returns the manifest [(file, rows, n_bytes)].

    Per-file headers are self-describing (string/vector widths derive
    from each shard's data), which the multi-file scan honors — chunk
    decode re-reads each file's own header.
    """
    df: DataFrame = getattr(t, "df", t)
    if units is None:
        units = dict(getattr(t, "units", {}) or {})
    schema = df.schema
    return write_shards(
        df, dir_path, ".fits", lambda pdf: encode_fits(pdf, schema, units)
    )
