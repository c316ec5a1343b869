"""ECSV (Enhanced CSV) reader/writer — the reference's only explicit
schema carrier (ezdata/ecsv.py: YAML ``%ECSV`` header with per-column
name/datatype/subtype/unit/description + table meta; vector columns as
JSON-encoded lists with a ``subtype`` like ``float32[3]``).

Spark mapping: the YAML header is parsed driver-side (it is the first
few hundred bytes); the body is a parallel csv scan with an explicit
StructType built from the declared datatypes (no inference — ECSV's
point is the declared schema). Vector-subtype columns arrive as JSON
strings and are decoded executor-side with ``from_json`` into
``array<T>`` — the ezdata sub-array dtype (simpletable.py:873-874)
mapped to Spark arrays.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..table import EzTable
from .binary_tables import write_atomic

_DTYPES = {
    "bool": T.BooleanType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
    "str": T.StringType(),
}

_TO_ECSV = {
    T.BooleanType(): "bool",
    T.ByteType(): "int8",
    T.ShortType(): "int16",
    T.IntegerType(): "int32",
    T.LongType(): "int64",
    T.FloatType(): "float32",
    T.DoubleType(): "float64",
    T.StringType(): "string",
    T.TimestampType(): "string",
}


def _parse_ecsv_header(text: str):
    import yaml

    lines = []
    data_start = 0
    for i, raw in enumerate(text.splitlines()):
        if raw.startswith("# %ECSV"):
            continue
        if raw.startswith("# "):
            lines.append(raw[2:])
        elif raw.startswith("#"):
            lines.append(raw[1:])
        else:
            data_start = i
            break
    spec = yaml.safe_load("\n".join(lines)) or {}
    return spec, data_start


def read_ecsv(spark: SparkSession, path: str) -> EzTable:
    """Read an ECSV file (ezdata/ecsv.py:119-172 semantics)."""
    with open(path, "r", encoding="utf-8") as fh:
        head = fh.read(1 << 20)
    spec, _ = _parse_ecsv_header(head)
    delimiter = spec.get("delimiter", ",")
    cols = spec.get("datatype", [])

    fields = []
    array_cols: dict[str, T.DataType] = {}
    units: dict[str, str] = {}
    desc: dict[str, str] = {}
    for c in cols:
        name = c["name"]
        subtype = c.get("subtype")
        if subtype:
            # e.g. "float32[3]" -> array<float>; arrives as a JSON string
            base = subtype.split("[")[0]
            array_cols[name] = T.ArrayType(_DTYPES.get(base, T.DoubleType()))
            fields.append(T.StructField(name, T.StringType()))
        else:
            fields.append(T.StructField(name, _DTYPES.get(c.get("datatype", "string"), T.StringType())))
        if c.get("unit"):
            units[name] = str(c["unit"])
        if c.get("description"):
            desc[name] = str(c["description"])

    df = (
        spark.read.schema(T.StructType(fields))
        .option("comment", "#")
        .option("header", "true")
        .option("sep", delimiter)
        .csv(path)
    )
    for name, atype in array_cols.items():
        df = df.withColumn(name, F.from_json(F.col(name), atype))
    meta = spec.get("meta", {}) or {}
    return EzTable(df, header=meta, units=units, desc=desc, aliases=meta.get("aliases", {}))


def write_ecsv(t: EzTable, path: str, **meta) -> None:
    """Write an ECSV file with YAML header incl. vector-column subtype
    (ezdata/ecsv.py:175-233). Single-file driver write — ECSV is a
    small-result interchange format; big data stays in Parquet."""
    import yaml

    cols = []
    df = t.df
    for f in df.schema.fields:
        entry: dict = {"name": f.name}
        if isinstance(f.dataType, T.ArrayType):
            elem = _TO_ECSV.get(f.dataType.elementType, "float64")
            entry["datatype"] = "string"
            entry["subtype"] = f"{elem}[null]"
            df = df.withColumn(f.name, F.to_json(F.col(f.name)))
        else:
            entry["datatype"] = _TO_ECSV.get(f.dataType, "string")
        if t.unit(f.name):
            entry["unit"] = t.unit(f.name)
        if t.comment(f.name):
            entry["description"] = t.comment(f.name)
        cols.append(entry)

    spec = {"delimiter": ",", "datatype": cols}
    full_meta = dict(t.header)
    full_meta.update(meta)
    if t._aliases:
        full_meta["aliases"] = dict(t._aliases)
    if full_meta:
        spec["meta"] = full_meta

    yaml_text = yaml.safe_dump(spec, sort_keys=False, default_flow_style=False)
    import csv as _csv

    header = "# %ECSV 1.0\n# ---\n" + "".join(
        f"# {line}\n" for line in yaml_text.splitlines()
    )
    # quote non-numeric fields: an unquoted string value starting
    # with '#' would be eaten by the reader's comment option
    body = df.toPandas().to_csv(
        index=False, lineterminator="\n", quoting=_csv.QUOTE_NONNUMERIC
    )
    write_atomic(path, header + body)
