"""EzTable — the engine's table abstraction: a Spark DataFrame plus the
reference's metadata surface (header, per-column units/descriptions,
aliases) and its query verbs re-expressed declaratively.

Reference containers: ``SimpleTable`` (simpletable.py:1421) and
``DictDataFrame`` (dictdataframe.py:93). Where the reference mutates in
place (sort, add_column, setitem — simpletable.py:2357-2379, 2560-2619),
EzTable returns a new immutable EzTable; callers rebind. Where the
reference relies on row position (take/select(indices), simpletable.py:
2165-2203, 2772-2813) we provide an explicit ``with_row_id`` discipline.

Everything emits DataFrame/Catalyst plans — no driver-side loops, no
collect in any query path.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .expr import ExprError, translate
from .functions.numpy_fallback import ensure_numpy_fallbacks

__all__ = ["EzTable"]


class EzTable:
    """A Spark DataFrame with ezdata's metadata + query surface."""

    def __init__(
        self,
        df: DataFrame,
        header: dict | None = None,
        units: dict[str, str] | None = None,
        desc: dict[str, str] | None = None,
        aliases: dict[str, str] | None = None,
        caseless: bool = False,
    ):
        self.df = df
        self.header = dict(header or {})
        self._units = dict(units or {})
        self._desc = dict(desc or {})
        self._aliases = dict(aliases or {})
        self.caseless = caseless

    # ------------------------------------------------------------------
    # construction / plumbing
    # ------------------------------------------------------------------
    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str, **meta) -> "EzTable":
        return cls(spark.read.parquet(path), **meta)

    @classmethod
    def read(cls, spark: SparkSession, path: str, **kw) -> "EzTable":
        """Extension-dispatched reader — the ``SimpleTable(fname)``
        convention (simpletable.py:1474-1565): .csv/.tsv/.ecsv/.fits/
        .hd5|.h5|.hdf5 (``dataset=`` kw, default 'data')/.vot/.jsonl/
        .parquet all route to the matching source module."""
        low = path.lower()
        if low.endswith((".parquet", ".pq")):
            from .sources.parquet_meta import read_parquet

            if kw:
                raise TypeError(f"EzTable.read: read_parquet takes no options, got {sorted(kw)}")
            return read_parquet(spark, path)
        if low.endswith(".ecsv"):
            from .sources.ecsv import read_ecsv

            if kw:
                raise TypeError(f"EzTable.read: read_ecsv takes no options, got {sorted(kw)}")
            return read_ecsv(spark, path)
        if low.endswith((".csv", ".txt")):
            from .sources.csv_meta import read_csv

            return read_csv(spark, path, **kw)
        if low.endswith((".tsv", ".dat")):
            from .sources.csv_meta import read_tsv

            if kw:
                raise TypeError(f"EzTable.read: read_tsv takes no options, got {sorted(kw)}")
            return read_tsv(spark, path)
        if low.endswith((".fits", ".fit")):
            from .sources.fits_native import scan_fits

            return scan_fits(spark, path, **kw)
        if low.endswith((".hd5", ".h5", ".hdf5")):
            from .sources.hdf5_native import scan_hdf5

            return scan_hdf5(spark, path, kw.pop("dataset", "data"), **kw)
        if low.endswith((".vot", ".xml")):
            from .sources.binary_tables import read_votable

            if kw:
                raise TypeError(f"EzTable.read: read_votable takes no options, got {sorted(kw)}")
            return read_votable(spark, path)
        if low.endswith((".jsonl", ".jsonl.gz", ".ndjson")):
            from .sources.jsonl import read_jsonl

            return read_jsonl(spark, path, **kw)
        raise ValueError(f"EzTable.read: unrecognized table extension for {path!r}")

    def write(self, path: str, **kw) -> None:
        """Extension-dispatched sink — the ``t.write(fname)`` convention
        (simpletable.py:1720-1772): Parquet is the scale sink; csv/ecsv
        write header sidecars; fits/hd5/vot are single-file driver-side
        exports like the reference's."""
        low = path.lower()
        if low.endswith((".parquet", ".pq")):
            from .sources.parquet_meta import write_parquet

            write_parquet(self, path, **kw)
        elif low.endswith(".ecsv"):
            from .sources.ecsv import write_ecsv

            write_ecsv(self, path, **kw)
        elif low.endswith((".csv", ".txt")):
            from .sources.csv_meta import write_csv

            write_csv(self, path, **kw)
        elif low.endswith((".fits", ".fit")):
            from .sources.fits_native import write_fits

            write_fits(self, path, **kw)
        elif low.endswith((".hd5", ".h5", ".hdf5")):
            from .sources.hdf5_native import write_hdf5

            write_hdf5(self, path, **kw)
        elif low.endswith((".vot", ".xml")):
            from .sources.votable_native import write_votable

            if kw:
                raise TypeError(f"EzTable.write: write_votable takes no options, got {sorted(kw)}")
            write_votable(self, path)
        elif low.endswith((".jsonl", ".jsonl.gz", ".ndjson")):
            from .sources.jsonl import write_jsonl

            write_jsonl(self, path, **kw)
        elif low.endswith(".tex"):
            from .sources.binary_tables import write_latex

            write_latex(self, path, **kw)
        else:
            raise ValueError(f"EzTable.write: unrecognized table extension for {path!r}")

    @property
    def spark(self) -> SparkSession:
        return self.df.sparkSession

    @property
    def colnames(self) -> list[str]:
        return list(self.df.columns)

    @property
    def nrows(self) -> int:
        return self.df.count()

    @property
    def ncols(self) -> int:
        return len(self.df.columns)

    @property
    def shape(self) -> tuple[int, int]:
        return (self.nrows, self.ncols)

    def _clone(self, df: DataFrame) -> "EzTable":
        """New EzTable sharing metadata; the reference deep-copies metadata
        through every op (simpletable.py:2808-2812)."""
        kept = set(df.columns)
        units = {k: v for k, v in self._units.items() if k in kept}
        desc = {k: v for k, v in self._desc.items() if k in kept}
        # orphan-alias cleanup (simpletable.py:1981-1984)
        aliases = {a: t for a, t in self._aliases.items() if self._alias_root(t, kept)}
        out = EzTable(df, self.header, units, desc, aliases, self.caseless)
        if getattr(self, "_small_dim", False):
            out._small_dim = True  # broadcast hint survives intervening ops
        return out

    def _alias_root(self, target: str, kept: set) -> bool:
        """An alias survives a projection iff every identifier its target
        references still resolves — to a kept column, another alias, a
        known function, or a constant (reference orphan-alias cleanup,
        simpletable.py:1981-1984, extended to expression targets)."""
        from .expr import _CONSTANTS, _FN_MAP

        for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", target):
            if (
                tok in kept
                or tok in self._aliases
                or tok in _FN_MAP
                or tok in _CONSTANTS
                or tok in ("np", "numpy", "where", "clip", "square", "exp2", "trunc",
                           "isfinite", "isinf", "sinc")
                # grammar keywords are not identifiers (a if c else b, x and y)
                or tok in ("and", "or", "not", "in", "if", "else", "is")
            ):
                continue
            return False
        return True

    # ------------------------------------------------------------------
    # metadata surface (simpletable.py:1965-2053)
    # ------------------------------------------------------------------
    def set_alias(self, alias: str, column_or_expr: str) -> "EzTable":
        out = self._clone(self.df)
        out._aliases[alias] = column_or_expr
        return out

    def reverse_alias(self, colname: str) -> list[str]:
        return [a for a, t in self._aliases.items() if t == colname]

    def resolve_alias(self, name: str) -> str:
        if name in self.df.columns:
            return name
        if name in self._aliases:
            return self._aliases[name]
        if self.caseless:
            low = {c.lower(): c for c in self.df.columns}
            if name.lower() in low:
                return low[name.lower()]
            lowa = {a.lower(): t for a, t in self._aliases.items()}
            if name.lower() in lowa:
                return lowa[name.lower()]
        return name

    def set_unit(self, colname: str, unit: str) -> "EzTable":
        out = self._clone(self.df)
        out._units[colname] = unit
        return out

    def set_comment(self, colname: str, comment: str) -> "EzTable":
        out = self._clone(self.df)
        out._desc[colname] = comment
        return out

    def unit(self, colname: str) -> str | None:
        return self._units.get(colname)

    def comment(self, colname: str) -> str | None:
        return self._desc.get(colname)

    @property
    def units(self) -> dict[str, str]:
        """Per-column units (copy). Public accessor consumed by sinks
        (write_fits emits these as TUNITn cards) and user code; mutate
        via ``set_unit``."""
        return dict(self._units)

    @property
    def descriptions(self) -> dict[str, str]:
        """Per-column descriptions (copy); mutate via ``set_comment``."""
        return dict(self._desc)

    # ------------------------------------------------------------------
    # expression engine (simpletable.py:2710-2747)
    # ------------------------------------------------------------------
    def _translate(self, expr: str, exprvars: dict | None = None) -> str:
        res = translate(
            expr,
            self.df.columns,
            aliases=self._aliases,
            exprvars=exprvars,
            caseless=self.caseless,
        )
        if res.fallback_fns:
            ensure_numpy_fallbacks(self.spark, res.fallback_fns)
        return res.sql

    def evalexpr(
        self, expr: str, exprvars: dict | None = None, name: str = "expr", dtype: str | None = None
    ) -> "EzTable":
        """Evaluate a numpy-dialect expression into a new column named
        ``name`` (reference returns a bare ndarray; we keep it columnar).
        ``dtype``: optional Spark type name to cast the result to — the
        reference's ``evalexpr(..., dtype=)`` (simpletable.py:2710)."""
        sql = self._translate(expr, exprvars)
        col = F.expr(sql)
        if dtype is not None:
            col = col.cast(dtype)
        return self._clone(self.df.withColumn(name, col))

    def expr_column(self, expr: str, exprvars: dict | None = None) -> Column:
        return F.expr(self._translate(expr, exprvars))

    # ------------------------------------------------------------------
    # projections (simpletable.py:2055-2109, 2236-2260, 2772-2813)
    # ------------------------------------------------------------------
    def keys(self, regexp: str | None = None, full_match: bool = False) -> list[str]:
        """Column names matching comma/space-separated regex patterns,
        alias names included (simpletable.py:2055-2109).

        Reference semantics: default = ``re.match`` (anchored at the
        start only — pattern 'ra' also matches 'radius');
        ``full_match=True`` = ``re.fullmatch``."""
        if regexp is None or regexp == "*":
            return self.colnames
        names = list(self.df.columns) + list(self._aliases)
        out: list[str] = []
        for pattern in re.split(r"[,\s]+", regexp.strip()):
            if not pattern:
                continue
            matcher = re.compile(pattern)
            hit = matcher.fullmatch if full_match else matcher.match
            for n in names:
                if hit(n) and n not in out:
                    out.append(n)
        return out

    def _expand_fields(self, fields) -> list[str]:
        if fields in (None, "*", ""):
            return self.colnames
        if isinstance(fields, str):
            return self.keys(fields)
        out: list[str] = []
        for f in fields:
            out.extend(self.keys(f))
        return out

    def _select_cols(self, names: Sequence[str]) -> list[Column]:
        cols = []
        for n in names:
            if n in self.df.columns:
                cols.append(F.col(n))
            else:  # alias or expression: translate and name the result
                cols.append(F.expr(self._translate(n)).alias(n))
        return cols

    def get(self, fields) -> "EzTable":
        """Subtable projection with regex expansion (simpletable.py:2236)."""
        names = self._expand_fields(fields)
        return self._clone(self.df.select(*self._select_cols(names)))

    def select(self, fields, indices=None) -> "EzTable":
        """Projection; ``indices`` (positional) requires a ``row_id``
        column (see ``with_row_id``) — Spark has no stable row order."""
        names = self._expand_fields(fields)
        df = self.df
        if indices is not None:
            if "row_id" not in df.columns:
                raise ValueError("positional select requires with_row_id() first")
            df = df.filter(F.col("row_id").isin(list(indices)))
        return self._clone(df.select(*self._select_cols(names)))

    def __getitem__(self, key):
        if isinstance(key, str):
            return self.get(key)
        raise TypeError("EzTable indexing supports column-name strings")

    def with_row_id(self, order_by: str | None = None, name: str = "row_id") -> "EzTable":
        """Materialize an explicit row id. With ``order_by``: dense 0-based
        ids in that sort order (deterministic when the key is unique).
        Without: Spark's monotonically_increasing_id (partition-local, not
        dense) — cheap, order-free, suitable for joins-back.

        Scale shape: delegates to ``operators.window.global_row_id`` —
        range-repartition + per-partition offsets, no single-partition
        stage (asserted in tests)."""
        if order_by:
            from .operators.window import global_row_id

            df = global_row_id(self.df, self._expand_fields(order_by), name)
        else:
            df = self.df.withColumn(name, F.monotonically_increasing_id())
        return self._clone(df)

    # ------------------------------------------------------------------
    # filters (simpletable.py:2749-2770, 2815-2844)
    # ------------------------------------------------------------------
    def where(self, condition: str, exprvars: dict | None = None) -> "EzTable":
        """Filter by a numpy-dialect expression. Translatable conditions
        compile to Spark SQL (Catalyst path: predicate pushdown, codegen).
        Conditions using non-numpy Python (method calls, ternaries —
        the reference's row-wise eval surface, dictdataframe.py:454-481)
        degrade to an Arrow-batched pandas_udf that evaluates the
        expression per row — correct but NOT a scale path (warned once).
        """
        try:
            sql = self._translate(condition, exprvars)
        except ExprError as err:
            return self._clone(self._python_where(condition, exprvars, err))
        return self._clone(self.df.filter(F.expr(sql)))

    def _python_where(self, condition: str, exprvars: dict | None, err: Exception):
        import ast as _ast
        import builtins as _builtins
        import math as _math
        import warnings

        import numpy as _np
        import pandas as _pd

        try:
            tree = _ast.parse(condition, mode="eval")
        except SyntaxError:
            raise err  # not even Python — report the translator's error
        consts = {"np": _np, "numpy": _np, "math": _math, **(exprvars or {})}
        bound: dict[str, str] = {}  # expression name -> real column
        for node in _ast.walk(tree):
            if not isinstance(node, _ast.Name) or node.id in consts or node.id in bound:
                continue
            resolved = self.resolve_alias(node.id)
            if resolved in self.df.columns:
                bound[node.id] = resolved
            elif not hasattr(_builtins, node.id):
                raise ExprError(
                    f"unknown name {node.id!r} in row-wise condition "
                    f"(not a column, alias, exprvar, or builtin); "
                    f"translator said: {err}"
                )
        warnings.warn(
            f"where({condition!r}): expression is not translatable to Spark SQL "
            f"({err}); falling back to row-wise Python eval in a pandas_udf — "
            "correct, but no predicate pushdown/codegen (not a scale path)",
            stacklevel=3,
        )
        code = compile(tree, "<ezdata-where>", "eval")
        names = sorted(bound)
        if not names:  # constant condition: evaluate once, driver-side
            keep = bool(eval(code, {"__builtins__": _builtins}, dict(consts)))
            return self.df.filter(F.lit(keep))

        def _row_eval(*series):
            out = []
            for i in range(len(series[0])):
                env = dict(consts)
                for name, s in zip(names, series):
                    v = s.iloc[i]
                    # SQL NULL surfaces as NaN/NaT in Arrow batches;
                    # present it as Python None so `x is None` works
                    if v is not None and not isinstance(
                        v, (_np.ndarray, list, tuple, dict, str, bytes)
                    ) and _pd.isna(v):
                        v = None
                    env[name] = v
                out.append(bool(eval(code, {"__builtins__": _builtins}, env)))
            return _pd.Series(out, dtype=bool)

        # positional form (no type hints): varargs hints don't survive
        # PEP 563 stringification under PySpark's hint inference
        udf = F.pandas_udf(_row_eval, "boolean")
        return self.df.filter(udf(*[F.col(bound[n]) for n in names]))

    def selectWhere(self, fields, condition: str, exprvars: dict | None = None) -> "EzTable":
        """The flagship verb (simpletable.py:2815-2844): filter then
        project. Catalyst pushes the predicate below the projection and
        into the parquet scan."""
        filtered = self.where(condition, exprvars)
        return filtered.get(fields)

    def find_duplicate(self, keys=None) -> "EzTable":
        """Rows appearing more than once (simpletable.py:2691-2708 is an
        O(n^2) scan; this is a hash groupBy)."""
        names = self._expand_fields(keys) if keys else self.colnames
        return self._clone(
            self.df.groupBy(*names).agg(F.count(F.lit(1)).alias("n_dup")).filter(F.col("n_dup") > 1)
        )

    # ------------------------------------------------------------------
    # schema ops (simpletable.py:2560-2689)
    # ------------------------------------------------------------------
    def add_column(self, name: str, expr: str | Column, unit: str | None = None, description: str | None = None) -> "EzTable":
        col = expr if isinstance(expr, Column) else F.expr(self._translate(expr))
        out = self._clone(self.df.withColumn(name, col))
        if unit:
            out._units[name] = unit
        if description:
            out._desc[name] = description
        return out

    def rename_columns(self, mapping: dict[str, str]) -> "EzTable":
        df = self.df
        out_units = dict(self._units)
        out_desc = dict(self._desc)
        out_aliases = dict(self._aliases)
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
            if old in out_units:
                out_units[new] = out_units.pop(old)
            if old in out_desc:
                out_desc[new] = out_desc.pop(old)
            # alias targets referencing the renamed column follow it
            pat = re.compile(rf"\b{re.escape(old)}\b")
            out_aliases = {a: pat.sub(new, t) for a, t in out_aliases.items()}
        out = EzTable(df, self.header, out_units, out_desc, out_aliases, self.caseless)
        return out

    def remove_columns(self, names) -> "EzTable":
        drop = self._expand_fields(names)
        return self._clone(self.df.drop(*drop))

    def append_row(self, row: dict) -> "EzTable":
        new = self.spark.createDataFrame([row], schema=self.df.schema)
        return self._clone(self.df.unionByName(new))

    # ------------------------------------------------------------------
    # sorts (simpletable.py:2357-2379; dictdataframe.py:483-512)
    # ------------------------------------------------------------------
    def sort(self, keys, reverse: bool = False) -> "EzTable":
        names = self._expand_fields(keys) if isinstance(keys, (str, list, tuple)) else [keys]
        cols = []
        for n in names:
            c = F.expr(self._translate(n)) if n not in self.df.columns else F.col(n)
            cols.append(c.desc() if reverse else c.asc())
        return self._clone(self.df.orderBy(*cols))

    def take(self, n: int) -> "EzTable":
        return self._clone(self.df.limit(n))

    # ------------------------------------------------------------------
    # set ops (simpletable.py:2400-2424)
    # ------------------------------------------------------------------
    def stack(self, *others: "EzTable | DataFrame", defaults: dict | None = None) -> "EzTable":
        """Vertical union with schema reconciliation; missing columns get
        per-field defaults (recfunctions.stack_arrays semantics)."""
        df = self.df
        for o in others:
            odf = o.df if isinstance(o, EzTable) else o
            df = df.unionByName(odf, allowMissingColumns=True)
        if defaults:
            df = df.fillna(defaults)
        return self._clone(df)

    def melt(
        self,
        id_vars: Sequence[str],
        value_vars: Sequence[str] | None = None,
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "EzTable":
        """Wide-to-long unpivot (pandas ``melt`` semantics): every
        ``value_vars`` column becomes a (variable, value) row pair per
        input row. Defaults to melting every non-id column. The melted
        columns must share a common type (Spark ``unpivot`` contract).

        Pure narrow transformation — rows multiply by len(value_vars)
        with no shuffle; Catalyst plans it as a single Expand node."""
        ids = list(id_vars)
        vals = list(value_vars) if value_vars else [
            c for c in self.df.columns if c not in ids
        ]
        return self._clone(self.df.unpivot(ids, vals, var_name, value_name))

    # ------------------------------------------------------------------
    # joins (simpletable.py:2426-2553; dictdataframe.py:692-785)
    # ------------------------------------------------------------------
    def join(
        self,
        other: "EzTable | DataFrame",
        on: str | Sequence[str] | Column | None = None,
        left_on: str | Sequence[str] | None = None,
        right_on: str | Sequence[str] | None = None,
        how: str = "left",
        lsuffix: str = "",
        rsuffix: str = "_r",
        columns_other: Sequence[str] | None = None,
        broadcast_other: bool | None = None,
    ) -> "EzTable":
        """Equi-join with the reference's surface (on/left_on/right_on,
        suffixes) generalized to every Spark join type.

        The reference implements left/right via a driver hash dict with
        last-match-wins on duplicate keys (simpletable.py:2507-2542) and a
        latent unpermuted-append bug (2545-2552); we implement the intended
        relational semantics. DictDataFrame's column subsetting + null fill
        (dictdataframe.py:692-785) maps to ``columns_other`` + Spark nulls.
        Catalyst picks broadcast/SMJ; ``broadcast_other=True`` forces the
        hint for known-small dims.
        """
        odf = other.df if isinstance(other, EzTable) else other
        ro = [right_on] if isinstance(right_on, str) else list(right_on or [])
        if columns_other is not None:
            keep = list(columns_other)
            keys = list(ro)
            if on is not None and not isinstance(on, Column):
                keys += [on] if isinstance(on, str) else list(on)
            for k in keys:
                if k and k not in keep:
                    keep.append(k)
            odf = odf.select(*keep)

        # suffix collided non-key columns (simpletable.py:2484-2488);
        # a right_on key colliding with a left column is renamed too, and
        # the join condition below uses the renamed name
        join_keys: list[str] = []
        if on is not None and not isinstance(on, Column):
            join_keys = [on] if isinstance(on, str) else list(on)
        collisions = (set(self.df.columns) & set(odf.columns)) - set(join_keys)
        ldf = self.df
        left_renames: dict[str, str] = {}
        right_renames: dict[str, str] = {}
        for c in collisions:
            if lsuffix and c not in ro:
                ldf = ldf.withColumnRenamed(c, c + lsuffix)
                left_renames[c] = c + lsuffix
            odf = odf.withColumnRenamed(c, c + rsuffix)
            right_renames[c] = c + rsuffix

        # explicit broadcast_other=True always forces the hint; None (the
        # default) hints only tables flagged small via hint_small(),
        # otherwise Catalyst/AQE decide from statistics
        if broadcast_other is True or (
            broadcast_other is None
            and isinstance(other, EzTable)
            and getattr(other, "_small_dim", False)
        ):
            odf = F.broadcast(odf)

        if on is None and (left_on or right_on):
            lo = [left_on] if isinstance(left_on, str) else list(left_on or [])
            cond = None
            for a, b in zip(lo, ro):
                c = ldf[left_renames.get(a, a)] == odf[right_renames.get(b, b)]
                cond = c if cond is None else (cond & c)
            joined = ldf.join(odf, cond, how)
        else:
            joined = ldf.join(odf, on, how)
        return self._clone(joined)

    def hint_small(self) -> "EzTable":
        """Mark this table as a broadcastable dimension."""
        out = self._clone(self.df)
        out._small_dim = True  # type: ignore[attr-defined]
        return out

    def match(self, other: "EzTable | DataFrame", key: str) -> "EzTable":
        """All matching pairs (simpletable.py:2381-2398's O(n*m)
        ``np.equal.outer``) as a relational inner join."""
        return self.join(other, on=key, how="inner")

    # ------------------------------------------------------------------
    # group-by (simpletable.py:2846-2875; dictdataframe.py:411-426,562-599)
    # ------------------------------------------------------------------
    def groupby(self, *keys: str):
        """True grouping (DictDataFrame semantics). The SimpleTable
        variant groups only adjacent equal keys (simpletable.py:2869) — a
        quirk we deliberately do not reproduce."""
        names: list[str] = []
        for k in keys:
            names.extend(self._expand_fields(k))
        return self.df.groupBy(*names)

    def multigroupby(self, *keys: str):
        return self.groupby(*keys)

    def aggregate(self, aggs: dict[str, str] | list, keys) -> "EzTable":
        """groupBy().agg with numpy-dialect value expressions.

        ``aggs``: {output_name: "sum(expr)" / "mean(expr)" / ...}. Maps the
        reference's ``aggregate(func, keys)`` (dictdataframe.py:578-599)
        for translatable reducers; arbitrary Python callables go through
        ``apply_in_pandas``.
        """
        keynames = self._expand_fields(keys) if isinstance(keys, str) else list(keys)
        from .operators.groupby import parse_agg

        cols = []
        if isinstance(aggs, dict):
            items = aggs.items()
        else:
            items = [(a, a) for a in aggs]
        for out_name, spec in items:
            cols.append(parse_agg(self, spec).alias(out_name))
        return self._clone(self.df.groupBy(*keynames).agg(*cols))

    def apply_in_pandas(self, keys, fn, schema) -> "EzTable":
        """Arbitrary per-group Python (UDAF surface, dictdataframe.py:578)."""
        keynames = self._expand_fields(keys) if isinstance(keys, str) else list(keys)
        return self._clone(self.df.groupBy(*keynames).applyInPandas(fn, schema))

    def stats(self, fields=None, fns: Sequence[str] | None = None) -> DataFrame:
        from .operators.stats import column_stats

        names = [
            n
            for n in (self._expand_fields(fields) if fields else self.colnames)
            if dict(self.df.dtypes).get(n) in ("double", "float", "int", "bigint", "smallint", "tinyint")
        ]
        return column_stats(self.df, names, fns)

    # ------------------------------------------------------------------
    # display (simpletable.py:1601-1718, 2296-2355)
    # ------------------------------------------------------------------
    def info(self) -> str:
        lines = [f"Table: {self.header.get('NAME', '(unnamed)')}", f"columns: {self.ncols}"]
        for f in self.df.schema.fields:
            u = self._units.get(f.name, "")
            d = self._desc.get(f.name, "")
            lines.append(f"  {f.name} {f.dataType.simpleString()} {u} {d}".rstrip())
        if self._aliases:
            lines.append("aliases: " + ", ".join(f"{a} --> {t}" for a, t in self._aliases.items()))
        return "\n".join(lines)

    def pprint(self, n: int = 10) -> None:
        self.df.show(n)

    def entry(self, num: int = 0, keys=None) -> str:
        """One row rendered as aligned ``key: value`` lines — the
        reference's row-record formatter (``pprint_entry``,
        simpletable.py:1601-1626 / ``pprint_rec_entry``,
        simpletable.py:979-1007): ``keys=None``/``'*'`` takes every
        column, a string is a ``re.match`` regex over column AND alias
        names, a sequence is used as given (aliases resolve).

        ``num`` is a position in the frame's current order, so the
        driver fetch is ``take(num+1)`` — bounded by ``num``, fine for
        the interactive inspection this exists for; pair with an
        ``orderBy``/``with_row_id`` upstream when the order matters.
        Returns the string; :meth:`pprint_entry` prints it."""
        if keys is None or keys == "*":
            names = self.colnames
        elif isinstance(keys, str):
            names = self.keys(keys)
        else:
            names = list(keys)
        if not names:
            raise ValueError(f"no columns match {keys!r}")
        # _select_cols, not resolve_alias+F.col: aliases may target
        # EXPRESSIONS ('r2' -> 'radius*2'), which resolve_alias returns
        # verbatim and F.col would treat as a (missing) column name
        rows = self.df.select(*self._select_cols(names)).take(num + 1)
        if len(rows) <= num:
            raise IndexError(f"row {num} out of range ({len(rows)} rows fetched)")
        row = rows[num]
        width = max(len(k) for k in names)
        return "\n".join(f"{k:<{width}s}: {row[k]}" for k in names)

    def pprint_entry(self, num: int = 0, keys=None) -> None:
        """Print :meth:`entry` (reference parity: the reference prints
        rather than returning, simpletable.py:1625-1626)."""
        print(self.entry(num, keys))

    @property
    def Plotter(self):
        """Plot surface over this table (t.Plotter.hist(...); reference
        property at simpletable.py:2153-2160)."""
        from .plotting import Plotter as _Plotter

        return _Plotter(self)

    def rows(self):
        """Iterate rows as dicts (``lines``/``__iter__``,
        dictdataframe.py:428-445; simpletable.py:2274-2279).

        Driver-side streaming via ``toLocalIterator`` — one partition in
        memory at a time. A documented anti-pattern at scale: any hot
        path belongs in a DataFrame op or Arrow-batched UDF instead."""
        for row in self.df.toLocalIterator():
            yield row.asDict()

    def to_pandas(self):
        """Arrow-batched collect of the (small) result to pandas."""
        return self.df.toPandas()

    def head(self, n: int = 5):
        return self.df.take(n)

    def __repr__(self) -> str:
        return f"EzTable({self.ncols} cols, schema={self.df.schema.simpleString()})"
