"""Pure-stdlib VOTable reader/writer — no astropy required.

The reference reads VOTables via astropy (simpletable.py:1551-1565).
VOTable is a public XML format (IVOA VOTable 1.4); the TABLEDATA
serialization the reference exchanges is plain XML rows, so it parses
with ``xml.etree.ElementTree`` driver-side. VOTables are small
interchange files (catalog query results), so a driver parse +
``createDataFrame`` is the right scale posture — bulk data belongs in
Parquet/FITS/HDF5.

Supported: VOTABLE/RESOURCE/TABLE/FIELD metadata (name, datatype,
arraysize, unit, description), TABLEDATA rows, empty-cell nulls,
numeric array cells (space-separated per the standard), and the
BINARY / BINARY2 inline base64 stream serializations (IVOA VOTable
1.4 §5.2-5.3: big-endian packed cells, 32-bit-count-prefixed variable
arrays, UTF-16BE unicodeChar; BINARY2 adds one MSB-first null bitmask
per row). External FITS streams still raise.
"""

from __future__ import annotations

import base64
import math
import struct
import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .binary_tables import write_atomic

# IVOA datatype -> (Spark type, python converter)
_VO_TYPES: dict[str, tuple[T.DataType, type]] = {
    "boolean": (T.BooleanType(), bool),
    "unsignedByte": (T.ShortType(), int),
    "short": (T.ShortType(), int),
    "int": (T.IntegerType(), int),
    "long": (T.LongType(), int),
    "float": (T.FloatType(), float),
    "double": (T.DoubleType(), float),
    "char": (T.StringType(), str),
    "unicodeChar": (T.StringType(), str),
}

_SPARK_VO = {
    T.BooleanType: "boolean", T.ByteType: "short", T.ShortType: "short",
    T.IntegerType: "int", T.LongType: "long",
    T.FloatType: "float", T.DoubleType: "double", T.StringType: "char",
}


# IVOA BINARY cell packing (big-endian), VOTable 1.4 §5.2
_BIN_FMT = {
    "unsignedByte": ">B",
    "short": ">h",
    "int": ">i",
    "long": ">q",
    "float": ">f",
    "double": ">d",
}


def _read_bin_cell(buf: bytes, off: int, f: dict):
    """Decode one cell at ``off``; returns (value, new_offset)."""
    dt, arraysize = f["dt"], f["arraysize"]
    if dt in ("char", "unicodeChar"):
        w = 2 if dt == "unicodeChar" else 1
        if arraysize is None:
            n = 1
        elif arraysize.endswith("*"):
            (n,) = struct.unpack_from(">i", buf, off)
            off += 4
        else:
            n = int(arraysize)
        raw = buf[off : off + n * w]
        off += n * w
        s = raw.decode("utf-16-be" if w == 2 else "ascii", errors="replace")
        return s.rstrip("\x00").rstrip(), off
    if dt == "boolean":
        def one(o):
            c = chr(buf[o])
            return (None if c in "? \x00" else c in "Tt1"), o + 1
        if arraysize is None:
            return one(off)
        if arraysize.endswith("*"):
            (n,) = struct.unpack_from(">i", buf, off)
            off += 4
        else:
            n = int(arraysize)
        vals = []
        for _ in range(n):
            v, off = one(off)
            vals.append(v)
        return vals, off
    fmt = _BIN_FMT[dt]
    w = struct.calcsize(fmt)
    if arraysize is None:
        (v,) = struct.unpack_from(fmt, buf, off)
        return v, off + w
    if arraysize.endswith("*"):
        (n,) = struct.unpack_from(">i", buf, off)
        off += 4
    else:
        n = int(arraysize)
    vals = list(struct.unpack_from(f">{n}{fmt[1]}", buf, off))
    return vals, off + n * w


def _decode_binary_stream(buf: bytes, fields: list[dict], binary2: bool):
    """Rows from a concatenated big-endian cell stream. BINARY2 rows
    lead with a ceil(nfields/8)-byte MSB-first null bitmask; masked
    cells still occupy their serialized width (VOTable 1.4 §5.3).
    BINARY (v1) has no mask: float/double NaN reads as NULL (the
    conventional in-band missing value)."""
    nf = len(fields)
    mask_len = (nf + 7) // 8
    rows, off = [], 0
    while off < len(buf):
        nulls = [False] * nf
        if binary2:
            mask = buf[off : off + mask_len]
            off += mask_len
            for i in range(nf):
                if mask[i >> 3] & (0x80 >> (i & 7)):
                    nulls[i] = True
        row = []
        for i, f in enumerate(fields):
            v, off = _read_bin_cell(buf, off, f)
            if nulls[i]:
                v = None
            elif isinstance(v, float) and math.isnan(v):
                v = None
            row.append(v)
        rows.append(row)
    return rows


def _encode_bin_cell(v, dt: str, arraysize, out: bytearray) -> None:
    if dt in ("char", "unicodeChar"):
        s = "" if v is None else str(v)
        if dt == "unicodeChar":
            # counts/widths are UTF-16 CODE UNITS (VOTable §5.2), not
            # Python code points: a non-BMP char encodes as TWO units,
            # so all length bookkeeping must run on the encoded bytes —
            # a code-point count desyncs the reader for every later
            # cell in the stream. Byte-level truncation may split a
            # surrogate pair; the reader decodes errors='replace', so
            # the stream stays aligned (the clipped char reads U+FFFD).
            enc = s.encode("utf-16-be", errors="replace")
            if arraysize is None:
                out += (enc + b"\x00\x00")[:2]
            elif arraysize.endswith("*"):
                out += struct.pack(">i", len(enc) // 2)
                out += enc
            else:
                n2 = int(arraysize) * 2
                out += enc[:n2].ljust(n2, b"\x00")
            return
        # ascii: errors='replace' substitutes 1 byte per char, so the
        # code-point count equals the byte count by construction
        if arraysize is None:
            s = (s + "\x00")[:1]
            out += s.encode("ascii", errors="replace")
        elif arraysize.endswith("*"):
            out += struct.pack(">i", len(s))
            out += s.encode("ascii", errors="replace")
        else:
            n = int(arraysize)
            s = s[:n].ljust(n, "\x00")
            out += s.encode("ascii", errors="replace")
        return
    if dt == "boolean":
        def one(x):
            out.append(ord("?") if x is None else (ord("T") if x else ord("F")))
        if arraysize is None:
            one(v)
            return
        vals = list(v or [])
        if arraysize.endswith("*"):
            out += struct.pack(">i", len(vals))
        for x in vals:
            one(x)
        return
    fmt = _BIN_FMT[dt]
    # pandas widens nullable int columns to float64 — coerce back per
    # the FIELD datatype so struct.pack sees the right Python type
    num = float if dt in ("float", "double") else int
    if arraysize is None:
        if v is None:
            v = float("nan") if dt in ("float", "double") else 0
        out += struct.pack(fmt, num(v))
        return
    vals = [num(x) for x in (v if v is not None else [])]
    if arraysize.endswith("*"):
        out += struct.pack(">i", len(vals))
    out += struct.pack(f">{len(vals)}{fmt[1]}", *vals)


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _find_all(el, name: str):
    return [c for c in el.iter() if _strip_ns(c.tag) == name]


def _conv_bool(s: str) -> bool:
    return s.strip().lower() in ("t", "true", "1")


def _parse_cell(text: str | None, dt: str, is_array: bool):
    if text is None or text.strip() == "":
        return None
    if dt in ("char", "unicodeChar"):
        return text
    conv = _conv_bool if dt == "boolean" else _VO_TYPES[dt][1]
    if is_array:
        return [conv(tok) for tok in text.split()]
    return conv(text.strip())


def read_votable_native(spark: SparkSession, path: str):
    """VOTable scan without astropy (parity for simpletable.py:1551-1565).

    Returns an EzTable carrying FIELD unit/description metadata.
    """
    from ..table import EzTable

    root = ET.parse(path).getroot()
    tables = _find_all(root, "TABLE")
    if not tables:
        raise ValueError(f"{path}: no TABLE element in VOTABLE")
    table = tables[0]

    fields = []
    for fel in _find_all(table, "FIELD"):
        name = fel.get("name") or fel.get("ID") or f"col{len(fields)}"
        dt = fel.get("datatype", "char")
        if dt not in _VO_TYPES:
            raise NotImplementedError(f"VOTable datatype {dt!r} not supported")
        arraysize = fel.get("arraysize")
        # char arrays are strings, not array<string>
        is_array = arraysize is not None and dt not in ("char", "unicodeChar")
        desc_el = next(iter(_find_all(fel, "DESCRIPTION")), None)
        fields.append({
            "name": name, "dt": dt, "is_array": is_array,
            "arraysize": arraysize,
            "unit": fel.get("unit"),
            "desc": desc_el.text.strip() if desc_el is not None and desc_el.text else None,
        })

    data = _find_all(table, "DATA")
    if data and _find_all(data[0], "FITS"):
        raise NotImplementedError(
            "external FITS streams inside VOTable need astropy; "
            "use read_fits_native for standalone FITS files"
        )
    bin_el = None
    binary2 = False
    if data:
        b2 = _find_all(data[0], "BINARY2")
        b1 = _find_all(data[0], "BINARY")
        if b2:
            bin_el, binary2 = b2[0], True
        elif b1:
            bin_el = b1[0]

    if bin_el is not None:
        stream = next(iter(_find_all(bin_el, "STREAM")), None)
        if stream is None:
            raise ValueError(f"{path}: BINARY element without STREAM")
        if stream.get("href"):
            raise NotImplementedError("external (href) VOTable streams not supported")
        if stream.get("encoding", "base64") != "base64":
            raise NotImplementedError(
                f"STREAM encoding {stream.get('encoding')!r} not supported"
            )
        buf = base64.b64decode("".join((stream.text or "").split()))
        rows = _decode_binary_stream(buf, fields, binary2)
    else:
        rows = []
        for tr in _find_all(table, "TR"):
            tds = [c for c in tr if _strip_ns(c.tag) == "TD"]
            rows.append([
                _parse_cell(td.text, f["dt"], f["is_array"])
                for td, f in zip(tds, fields)
            ])

    schema = T.StructType([
        T.StructField(
            f["name"],
            T.ArrayType(_VO_TYPES[f["dt"]][0]) if f["is_array"] else _VO_TYPES[f["dt"]][0],
            True,
        )
        for f in fields
    ])
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    units = {f["name"]: f["unit"] for f in fields if f["unit"]}
    desc = {f["name"]: f["desc"] for f in fields if f["desc"]}
    return EzTable(df, units=units, desc=desc)


def _fmt_cell(v, dt: str) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (list, tuple)):
        return " ".join(_fmt_cell(x, dt) for x in v)
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _esc(s: str) -> str:
    # quotes must be escaped too: _esc output lands inside double-quoted
    # attribute values (FIELD name/unit)
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def write_votable(t, path: str, serialization: str = "tabledata") -> None:
    """Write a table as a VOTable 1.4 file (driver-side collect,
    interchange-scale like the reference's astropy path). Units ride on
    FIELD elements so the native reader round-trips them.

    ``serialization``: ``"tabledata"`` (XML rows, the interchange
    default), ``"binary"`` (base64 big-endian stream — NULL floats
    encode as NaN; NULL integers/booleans/strings are not representable
    without a VALUES null declaration and raise), or ``"binary2"``
    (per-row null bitmask, every NULL round-trips)."""
    if serialization not in ("tabledata", "binary", "binary2"):
        raise ValueError(f"write_votable: unknown serialization {serialization!r}")
    df = getattr(t, "df", t)
    units = dict(getattr(t, "units", {}) or {})
    pdf = df.toPandas()

    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<VOTABLE version="1.4" xmlns="http://www.ivoa.net/xml/VOTable/v1.3">',
        "<RESOURCE><TABLE>",
    ]
    specs = []
    for f in df.schema.fields:
        dt = f.dataType
        if isinstance(dt, T.ArrayType):
            el = _SPARK_VO.get(type(dt.elementType))
            if el is None or el == "char":
                raise ValueError(f"write_votable: unsupported array element {dt.elementType}")
            lines.append(
                f'<FIELD name="{_esc(f.name)}" datatype="{el}" arraysize="*"'
                + (f' unit="{_esc(str(units[f.name]))}"' if f.name in units else "")
                + "/>"
            )
            specs.append((f.name, el, "*"))
        else:
            vo = _SPARK_VO.get(type(dt))
            if vo is None:
                raise ValueError(f"write_votable: unsupported Spark type {dt} for {f.name!r}")
            if vo == "char" and serialization != "tabledata":
                # the packed stream encodes char as 1-byte ascii; UTF-16BE
                # unicodeChar carries arbitrary text (TABLEDATA is UTF-8
                # XML and needs no widening)
                vo = "unicodeChar"
            extra = ' arraysize="*"' if vo in ("char", "unicodeChar") else ""
            lines.append(
                f'<FIELD name="{_esc(f.name)}" datatype="{vo}"{extra}'
                + (f' unit="{_esc(str(units[f.name]))}"' if f.name in units else "")
                + "/>"
            )
            specs.append((f.name, vo, "*" if vo in ("char", "unicodeChar") else None))
    import numpy as np

    def norm(v):
        if isinstance(v, np.ndarray):
            return v.tolist()
        if not isinstance(v, (list, tuple)):
            if v is not None and pd.isna(v):
                return None
            if isinstance(v, np.generic):
                return v.item()
        return v

    # per-column iteration: pdf.iterrows() would coerce each row to one
    # unified dtype (ints become floats next to a float column)
    col_vals = {name: pdf[name].tolist() for name, _, _ in specs}

    if serialization == "tabledata":
        lines.append("<DATA><TABLEDATA>")
        for i in range(len(pdf)):
            cells = []
            for name, dt, _ in specs:
                v = norm(col_vals[name][i])
                cells.append(f"<TD>{_esc(_fmt_cell(v, dt))}</TD>")
            lines.append("<TR>" + "".join(cells) + "</TR>")
        lines.append("</TABLEDATA></DATA></TABLE></RESOURCE></VOTABLE>")
    else:
        binary2 = serialization == "binary2"
        nf = len(specs)
        mask_len = (nf + 7) // 8
        out = bytearray()
        for i in range(len(pdf)):
            vals = [norm(col_vals[name][i]) for name, _, _ in specs]
            if binary2:
                mask = bytearray(mask_len)
                for j, v in enumerate(vals):
                    if v is None:
                        mask[j >> 3] |= 0x80 >> (j & 7)
                out += mask
            for (name, dt, asize), v in zip(specs, vals):
                if (
                    not binary2
                    and v is None
                    and dt
                    in ("short", "int", "long", "unsignedByte", "boolean",
                        "char", "unicodeChar")
                ):
                    raise ValueError(
                        f"write_votable(serialization='binary'): NULL in "
                        f"non-float column {name!r} is not representable "
                        "without a VALUES null declaration — use 'binary2'"
                    )
                _encode_bin_cell(v, dt, asize, out)
        b64 = base64.b64encode(bytes(out)).decode("ascii")
        tag = "BINARY2" if binary2 else "BINARY"
        lines.append(f'<DATA><{tag}><STREAM encoding="base64">')
        # 76-char lines per MIME convention (readers must join whitespace)
        lines.extend(b64[i : i + 76] for i in range(0, len(b64), 76))
        lines.append(f"</STREAM></{tag}></DATA></TABLE></RESOURCE></VOTABLE>")
    write_atomic(path, "\n".join(lines))
