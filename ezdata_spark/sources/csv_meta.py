"""Commented-header CSV/TSV convention (the reference's native text
format) on Spark.

Reference reader: ``_ascii_read_header`` (simpletable.py:412-547) parses
leading ``#`` lines: ``key\\tvalue`` header pairs, ``## COLUMN\\tunit\\t
description`` column metadata, ``alias\\tname=target`` aliases; then the
data follows with a commented column-name line. Writer regenerates the
header (simpletable.py:729-789, 1720-1755).

Spark mapping: the header is a driver-side peek of the file head (tiny,
one small read); the bulk scan is ``spark.read.csv`` with
``comment='#'`` — fully parallel, pushdown-capable. The sink writes
data via ``df.write.csv`` and the header as a sidecar ``_header`` file
next to the part files (HDFS-friendly: no single-file rewrite of
terabytes just to prepend comments).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from ..table import EzTable
from .binary_tables import write_atomic

HEADER_PREFIX = "#"


def _parse_header_lines(lines: list[str]):
    header: dict[str, str] = {}
    units: dict[str, str] = {}
    desc: dict[str, str] = {}
    aliases: dict[str, str] = {}
    colnames: list[str] | None = None
    for raw in lines:
        line = raw.rstrip("\n")
        if not line.startswith(HEADER_PREFIX):
            break
        body = line.lstrip("#").strip()
        if not body:
            continue
        if line.startswith("##"):
            # column metadata: ## name<TAB>unit<TAB>description
            parts = body.split("\t")
            if len(parts) >= 2:
                name = parts[0].strip()
                if parts[1].strip():
                    units[name] = parts[1].strip()
                if len(parts) >= 3 and parts[2].strip():
                    desc[name] = parts[2].strip()
            continue
        if "\t" in body:
            key, _, value = body.partition("\t")
            key = key.strip()
            value = value.strip()
            if key.lower() == "alias" and "=" in value:
                a, _, target = value.partition("=")
                aliases[a.strip()] = target.strip()
            else:
                header[key] = value
            continue
        # last comment line before data = column names
        colnames = body.split()
    return header, units, desc, aliases, colnames


def read_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    header_peek_bytes: int = 65536,
) -> EzTable:
    """Read a commented-header CSV into an EzTable with metadata.

    The ``#`` header block is parsed driver-side from the file head;
    the data scan is a normal parallel ``spark.read.csv`` (comment
    lines dropped executor-side).
    """
    first = sorted(glob.glob(path)) if any(c in path for c in "*?[") else [path]
    peek = first[0]
    if os.path.isdir(peek):
        # write_csv's default layout: part files + a `_header` sidecar
        sidecar = os.path.join(peek, "_header")
        if os.path.exists(sidecar):
            peek = sidecar
        else:
            parts = sorted(glob.glob(os.path.join(peek, "part-*")))
            if not parts:
                raise FileNotFoundError(f"no _header or part files under {peek}")
            peek = parts[0]
    with open(peek, "r", encoding="utf-8", errors="replace") as fh:
        head = fh.read(header_peek_bytes).splitlines()
    hdr_lines = [ln for ln in head if ln.startswith(HEADER_PREFIX)]
    header, units, desc, aliases, colnames = _parse_header_lines(hdr_lines)

    reader = (
        spark.read.option("comment", "#")
        .option("inferSchema", "true")
        .option("sep", sep)
        .option("nullValue", "")
    )
    df = reader.csv(path)
    if colnames and len(colnames) == len(df.columns):
        df = df.toDF(*colnames)
    elif not colnames:
        # plain header row (uncommented)
        df = (
            spark.read.option("comment", "#")
            .option("header", "true")
            .option("inferSchema", "true")
            .option("sep", sep)
            .csv(path)
        )
    return EzTable(df, header=header, units=units, desc=desc, aliases=aliases)


def read_tsv(spark: SparkSession, path: str) -> EzTable:
    """Whitespace/tab-delimited variant (simpletable.py:1498-1522)."""
    return read_csv(spark, path, sep="\t")


def _gen_header(t: EzTable) -> str:
    lines = []
    for k, v in t.header.items():
        lines.append(f"# {k}\t{v}")
    for name in t.colnames:
        u = t.unit(name) or ""
        d = t.comment(name) or ""
        if u or d:
            lines.append(f"## {name}\t{u}\t{d}")
    for a, target in t._aliases.items():
        lines.append(f"# alias\t{a}={target}")
    lines.append("# " + " ".join(t.colnames))
    return "\n".join(lines) + "\n"


def write_csv(t: EzTable, path: str, sep: str = ",", single_file: bool = False) -> None:
    """Write data + commented header.

    ``single_file=True`` coalesces to one part and prepends the header
    (small results only — the reference's exact on-disk format,
    simpletable.py:1720-1755). Default: parallel part files plus a
    ``_header`` sidecar, the scalable layout.
    """
    if single_file:
        tmp = path + ".tmp_parts"
        t.df.coalesce(1).write.mode("overwrite").option("sep", sep).csv(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        with open(part, "r", encoding="utf-8") as fh:
            write_atomic(path, _gen_header(t) + fh.read())
        import shutil

        shutil.rmtree(tmp)
    else:
        t.df.write.mode("overwrite").option("sep", sep).csv(path)
        write_atomic(os.path.join(path, "_header"), _gen_header(t))
