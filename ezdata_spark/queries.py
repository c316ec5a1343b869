"""Query catalog: every implemented operator exposed as a named query
over the driver's star schema, with a DuckDB oracle where the semantics
are SQL-expressible (SURVEY.md §5 test plan).

Each entry maps one row of SURVEY.md §2's operator inventory to a
(spark_fn, oracle_sql) pair. Column names are aliased identically on
both sides (the driver hashes values under sorted column names).
Float-stability policy: computed trig/log outputs and floating
aggregates are ROUND()ed identically on both sides so cross-engine
last-ulp differences cannot flip the hash; plain arithmetic on stored
doubles is left exact (same IEEE ops both engines).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune_existing
from .table import EzTable

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _rt_path(kind: str, filename: str) -> str:
    """Deterministic scratch path for round-trip fixture files: bench
    reps and the oracle gate re-run q97-q99 many times per session, so
    a fresh mkdtemp per call would accumulate in /tmp. One dir per
    (user, kind) — the sinks' atomic tmp-then-replace makes re-writes
    safe to overwrite."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"ez_rt_{os.getuid()}", kind)
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, filename)


def query(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_existing(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return wrapped

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # The events fixture's ts encoding has varied across regenerations:
    # TIMESTAMP(NANOS) (read as long nanos via nanosAsLong, set in
    # tune_existing), TIMESTAMP(MICROS, isAdjustedToUTC=0) (read as
    # TIMESTAMP_NTZ), or plain TIMESTAMP. Normalize all three to
    # session-TZ TIMESTAMP so every downstream event-time consumer
    # (unix_micros, watermarks, session_window) sees one type. The
    # session TZ is pinned UTC (session.py), so NTZ->TIMESTAMP is a
    # lossless reinterpretation and nanos are micro-aligned by fixture
    # construction.
    if table == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def ez(spark: SparkSession, sf_dir: str, table: str, **meta) -> EzTable:
    return EzTable(load(spark, sf_dir, table), **meta)


def _sphdist_sql(ra1: str, dec1: str, ra2: str, dec2: str) -> str:
    """Haversine in SQL, mirroring functions/astro.py::sphdist exactly."""
    return (
        f"2*degrees(asin(sqrt("
        f"pow(sin(radians(({dec2})-({dec1}))/2),2) + "
        f"cos(radians({dec1}))*cos(radians({dec2}))*pow(sin(radians(({ra2})-({ra1}))/2),2)"
        f")))"
    )


# =====================================================================
# §2.2 projections / filters  (simpletable.py:2055-2109, 2710-2844)
# =====================================================================

@query(
    "q01_selectwhere",
    oracle="""
    SELECT l_orderkey, l_extendedprice FROM lineitem
    WHERE l_discount > 0.05 AND l_quantity < 10
    """,
)
def q01(spark, sf_dir):
    """Flagship selectWhere (simpletable.py:2815-2844): numpy-dialect
    condition string -> pushed-down filter + pruned projection."""
    t = ez(spark, sf_dir, "lineitem")
    return t.selectWhere("l_orderkey l_extendedprice", "(l_discount > 0.05) & (l_quantity < 10)").df


@query(
    "q02_evalexpr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           ROUND(LOG10(l_quantity) + POW(l_discount, 2), 6) AS logq
    FROM lineitem WHERE l_quantity > 0
    """,
)
def q02(spark, sf_dir):
    """Expression engine (simpletable.py:2710-2747): numpy names map to
    JVM builtins (log10, **->power), codegen'd."""
    t = ez(spark, sf_dir, "lineitem").where("l_quantity > 0")
    t = t.add_column("revenue", "l_extendedprice * (1 - l_discount)")
    t = t.add_column("logq", "log10(l_quantity) + l_discount ** 2")
    out = t.df.withColumn("logq", F.round("logq", 6))
    return out.select("l_orderkey", "l_linenumber", "revenue", "logq")


@query(
    "q03_regex_project",
    oracle="SELECT p_retailprice, p_size FROM part",
)
def q03(spark, sf_dir):
    """Regex column selection (keys, simpletable.py:2055-2109)."""
    return ez(spark, sf_dir, "part").get("p_.*price p_size").df


@query(
    "q04_alias_caseless",
    oracle="""
    SELECT c_custkey, c_acctbal AS balance FROM customer WHERE c_acctbal > 1000
    """,
)
def q04(spark, sf_dir):
    """Alias resolution incl. caseless (simpletable.py:1965-2019)."""
    t = ez(spark, sf_dir, "customer", caseless=True).set_alias("BALANCE", "c_acctbal")
    t = t.where("Balance > 1000")
    return t.df.select("c_custkey", F.expr("c_acctbal").alias("balance"))


@query(
    "q05_where_in",
    oracle="""
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_totalprice >= 50000
    """,
)
def q05(spark, sf_dir):
    """IN-list + conjunction through the expression dialect."""
    t = ez(spark, sf_dir, "orders")
    return t.selectWhere(
        "o_orderkey o_orderpriority",
        "(o_orderpriority in ('1-URGENT', '2-HIGH')) & (o_totalprice >= 50000)",
    ).df


@query(
    "q06_positional_take",
    oracle="""
    SELECT o_orderkey, row_id FROM (
      SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id
      FROM orders) t
    WHERE row_id < 10
    """,
)
def q06(spark, sf_dir):
    """Positional select via explicit row_id (SURVEY.md §1.1 row-order
    discipline; reference take/select(indices), simpletable.py:2772)."""
    t = ez(spark, sf_dir, "orders").with_row_id(order_by="o_orderkey")
    return t.select(["o_orderkey", "row_id"], indices=range(10)).df


# =====================================================================
# §2.3 schema ops + §2.7 sorts  (simpletable.py:2560-2689, 2357-2379)
# =====================================================================

@query(
    "q07_schema_ops",
    oracle="""
    SELECT l_orderkey AS okey, l_linenumber AS line,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def q07(spark, sf_dir):
    """add_column / rename_columns / remove_columns chain."""
    t = ez(spark, sf_dir, "lineitem")
    t = t.add_column("charge", "l_extendedprice * (1 - l_discount) * (1 + l_tax)", unit="USD")
    t = t.rename_columns({"l_orderkey": "okey", "l_linenumber": "line"})
    return t.get("okey line charge").df


@query(
    "q08_sort_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q08(spark, sf_dir):
    """Multi-key sort + limit -> TakeOrderedAndProject (no global sort
    materialization; deterministic via unique-key tiebreak)."""
    t = ez(spark, sf_dir, "orders")
    return (
        t.df.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


# =====================================================================
# §2.8 set operations  (simpletable.py:2400-2424)
# =====================================================================

@query(
    "q09_stack_union",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000
    """,
)
def q09(spark, sf_dir):
    """Vertical stack = unionByName (stack_arrays, simpletable.py:2400)."""
    t = ez(spark, sf_dir, "orders")
    a = t.where("o_orderstatus == 'F'").get("o_orderkey o_totalprice")
    b = t.where("o_totalprice > 100000").get("o_orderkey o_totalprice")
    return a.stack(b).df


@query(
    "q10_stack_defaults",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, -1.0 AS o_totalprice FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q10(spark, sf_dir):
    """Stack with missing-column defaults (per-field fill)."""
    t = ez(spark, sf_dir, "orders")
    a = t.where("o_orderstatus == 'O'").get("o_orderkey o_totalprice")
    b = t.where("o_orderstatus == 'F'").get("o_orderkey")
    return a.stack(b, defaults={"o_totalprice": -1.0}).df


@query(
    "q11_intersect",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
)
def q11(spark, sf_dir):
    """Set intersect (extension; reference has none — SURVEY.md §2.8)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.intersect(s)


@query(
    "q12_except",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
)
def q12(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.exceptAll(s).distinct()


# =====================================================================
# §2.5 aggregations / group-by  (simpletable.py:2846-2929; dictdataframe)
# =====================================================================

@query(
    "q13_groupby_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q13(spark, sf_dir):
    """The TPC-H-Q1-shaped pricing summary: hash aggregate with map-side
    partial combine; shuffle carries |groups| rows (aggregate surface,
    dictdataframe.py:578-599)."""
    t = ez(spark, sf_dir, "lineitem").where("l_shipdate <= ship_cut", exprvars={"ship_cut": "1998-09-02 00:00:00"})
    out = t.aggregate(
        {
            "sum_qty": "sum(l_quantity)",
            "sum_base_price": "sum(l_extendedprice)",
            "sum_disc_price": "sum(l_extendedprice * (1 - l_discount))",
            "avg_qty": "mean(l_quantity)",
            "avg_price": "mean(l_extendedprice)",
            "avg_disc": "mean(l_discount)",
            "count_order": "count(*)",
        },
        keys=["l_returnflag", "l_linestatus"],
    ).df
    for c, d in [("sum_qty", 2), ("sum_base_price", 2), ("sum_disc_price", 2),
                 ("avg_qty", 6), ("avg_price", 6), ("avg_disc", 6)]:
        out = out.withColumn(c, F.round(c, d))
    return out


@query(
    "q14_multigroupby",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS sum_total
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q14(spark, sf_dir):
    """multigroupby (dictdataframe.py:562-576) as flat multi-key groupBy."""
    t = ez(spark, sf_dir, "orders")
    out = t.aggregate({"n": "count(*)", "sum_total": "sum(o_totalprice)"},
                      keys=["o_orderstatus", "o_orderpriority"]).df
    return out.withColumn("sum_total", F.round("sum_total", 2))


@query(
    "q15_stats_table",
    oracle="""
    SELECT ROUND(AVG(l_quantity), 6) AS l_quantity__mean,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS l_quantity__std,
           MIN(l_quantity) AS l_quantity__min,
           MAX(l_quantity) AS l_quantity__max,
           ROUND(AVG(l_discount), 6) AS l_discount__mean,
           ROUND(STDDEV_SAMP(l_discount), 6) AS l_discount__std,
           MIN(l_discount) AS l_discount__min,
           MAX(l_discount) AS l_discount__max
    FROM lineitem
    """,
)
def q15(spark, sf_dir):
    """Per-column stats (simpletable.py:2877-2929) — one wide aggregate
    row, single scan for all (column x stat) cells."""
    from .operators.stats import stats_wide

    out = stats_wide(load(spark, sf_dir, "lineitem"), ["l_quantity", "l_discount"],
                     ("mean", "std", "min", "max"))
    for c in ("l_quantity__mean", "l_quantity__std", "l_discount__mean", "l_discount__std"):
        out = out.withColumn(c, F.round(c, 6))
    return out


@query(
    "q16_percentiles",
    oracle="""
    SELECT ROUND(quantile_cont(l_extendedprice, 0.16), 4) AS p16,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.84), 4) AS p84
    FROM lineitem
    """,
)
def q16(spark, sf_dir):
    """p16/p50/p84 (stats fn library, simpletable.py:3227-3271) via exact
    interpolated percentile (matches quantile_cont). r14 fused the
    three scalar ``percentile`` aggregates into one array aggregate
    (one buffer + one sort instead of three); r15 replaces the
    aggregate outright with DISTRIBUTED order statistics
    (operators/stats.py::percentiles_exact_distributed): ``percentile``
    still funnels every value's count map into ONE final task — the
    single-reducer scale-killer — where the distributed form
    range-sorts the column in parallel and fetches only the rows at
    the interpolation ranks. Bit-identical interpolation (asserted)."""
    from .operators.stats import percentiles_exact_distributed

    df = load(spark, sf_dir, "lineitem")
    return percentiles_exact_distributed(
        df, "l_extendedprice", [0.16, 0.50, 0.84]
    ).select(
        F.round(F.col("_ps")[0], 4).alias("p16"),
        F.round(F.col("_ps")[1], 4).alias("p50"),
        F.round(F.col("_ps")[2], 4).alias("p84"),
    )


@query(
    "q17_find_duplicate",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_dup
    FROM lineitem GROUP BY l_returnflag, l_linestatus HAVING COUNT(*) > 1
    """,
)
def q17(spark, sf_dir):
    """find_duplicate (simpletable.py:2691-2708's O(n^2) scan) as a hash
    groupBy — the vectorized intended semantics."""
    return ez(spark, sf_dir, "lineitem").find_duplicate("l_returnflag l_linestatus").df


@query(
    "q18_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q18(spark, sf_dir):
    """Rollup — natural Spark extension over the groupBy substrate
    (SURVEY.md §2.5 'not present' list)."""
    df = load(spark, sf_dir, "lineitem")
    return (
        df.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@query(
    "q19_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q19(spark, sf_dir):
    df = load(spark, sf_dir, "orders")
    return df.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


# =====================================================================
# §2.4 joins  (simpletable.py:2426-2553; dictdataframe.py:692-785)
# =====================================================================

@query(
    "q20_join_left",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q20(spark, sf_dir):
    """Left equi-join (SimpleTable.join intended semantics,
    simpletable.py:2426-2553); Catalyst picks broadcast for the dim."""
    o = ez(spark, sf_dir, "orders")
    c = ez(spark, sf_dir, "customer").hint_small()
    j = o.join(c, left_on="o_custkey", right_on="c_custkey", how="left",
               columns_other=["c_name", "c_mktsegment", "c_custkey"])
    return j.df.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@query(
    "q21_join_multihop",
    oracle="""
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q21(spark, sf_dir):
    """Multi-hop dim joins: both dims broadcast (no shuffle of the fact
    side), then one aggregate shuffle."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )


@query(
    "q22_match_inner",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def q22(spark, sf_dir):
    """match (simpletable.py:2381-2398: O(n*m) np.equal.outer) as a hash
    inner join."""
    s = ez(spark, sf_dir, "supplier")
    n = ez(spark, sf_dir, "nation")
    j = s.join(n, left_on="s_nationkey", right_on="n_nationkey", how="inner")
    return j.df.select("s_suppkey", "s_name", "n_name")


@query(
    "q23_join_suffix",
    oracle="""
    SELECT c.c_custkey, c.acctbal AS acctbal, s.acctbal AS acctbal_r
    FROM (SELECT c_custkey, c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer) c
    JOIN (SELECT s_nationkey AS nationkey, s_acctbal AS acctbal FROM supplier) s
      USING (nationkey)
    """,
)
def q23(spark, sf_dir):
    """Column-collision suffixing (simpletable.py:2484-2488)."""
    c = ez(spark, sf_dir, "customer").rename_columns(
        {"c_nationkey": "nationkey", "c_acctbal": "acctbal"}
    ).get("c_custkey nationkey acctbal")
    s = ez(spark, sf_dir, "supplier").rename_columns(
        {"s_nationkey": "nationkey", "s_acctbal": "acctbal"}
    ).get("nationkey acctbal")
    j = c.join(s, on="nationkey", how="inner", rsuffix="_r")
    return j.df.select("c_custkey", "acctbal", "acctbal_r")


@query(
    "q24_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q24(spark, sf_dir):
    """Left-semi (extension beyond the reference's left/right surface)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q25_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q25(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# =====================================================================
# §2.5 binned aggregation suite  (xarray.py)
# =====================================================================

@query(
    "q26_histogram_1d",
    oracle="""
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / 2.0) AS BIGINT), 24) AS l_quantity__bin,
             COUNT(*) AS count
      FROM lineitem WHERE l_quantity >= 0.0 AND l_quantity <= 50.0
      GROUP BY 1)
    SELECT g.b AS l_quantity__bin,
           COALESCE(binned.count, 0) AS count,
           0.0 + (CAST(g.b AS DOUBLE) + 0.5) * 2.0 AS l_quantity__center
    FROM (SELECT range AS b FROM range(25)) g
    LEFT JOIN binned ON binned.l_quantity__bin = g.b
    """,
)
def q26(spark, sf_dir):
    """1-D histogram with empty-bin densification (xr_histogram,
    xarray.py:38-96; reindex semantics 218-221). Shuffle carries bins,
    not rows; the dense grid is generated, not scanned."""
    from .operators.binned import histogram

    return histogram(load(spark, sf_dir, "lineitem"), "l_quantity", nbins=25, lo=0.0, hi=50.0)


@query(
    "q27_histogram_2d_weighted",
    oracle="""
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / 5.0) AS BIGINT), 9) AS l_quantity__bin,
             LEAST(CAST(FLOOR((l_discount - 0.0) / 0.01) AS BIGINT), 10) AS l_discount__bin,
             ROUND(SUM(l_extendedprice), 2) AS wsum
      FROM lineitem
      WHERE l_quantity >= 0.0 AND l_quantity <= 50.0
        AND l_discount >= 0.0 AND l_discount <= 0.11
      GROUP BY 1, 2)
    SELECT gq.b AS l_quantity__bin, gd.b AS l_discount__bin,
           COALESCE(binned.wsum, 0) AS wsum
    FROM (SELECT range AS b FROM range(10)) gq
    CROSS JOIN (SELECT range AS b FROM range(11)) gd
    LEFT JOIN binned ON binned.l_quantity__bin = gq.b AND binned.l_discount__bin = gd.b
    """,
)
def q27(spark, sf_dir):
    """2-D weighted histogram (xr_histogram_df, xarray.py:99-165)."""
    from .operators.binned import BinSpec, binned_agg

    return binned_agg(
        load(spark, sf_dir, "lineitem"),
        [BinSpec("l_quantity", 0.0, 50.0, 10), BinSpec("l_discount", 0.0, 0.11, 11)],
        {"wsum": F.round(F.sum("l_extendedprice"), 2)},
        with_centers=False,
    )


@query(
    "q28_binned_statistic_cat",
    oracle="""
    WITH binned AS (
      SELECT l_returnflag,
             LEAST(CAST(FLOOR((l_quantity - 0.0) / 10.0) AS BIGINT), 4) AS l_quantity__bin,
             ROUND(AVG(l_extendedprice), 4) AS mean
      FROM lineitem WHERE l_quantity >= 0.0 AND l_quantity <= 50.0
      GROUP BY 1, 2)
    SELECT f.l_returnflag AS l_returnflag__bin, g.b AS l_quantity__bin,
           binned.mean AS mean,
           0.0 + (CAST(g.b AS DOUBLE) + 0.5) * 10.0 AS l_quantity__center
    FROM (SELECT DISTINCT l_returnflag FROM lineitem) f
    CROSS JOIN (SELECT range AS b FROM range(5)) g
    LEFT JOIN binned ON binned.l_returnflag = f.l_returnflag AND binned.l_quantity__bin = g.b
    """,
)
def q28(spark, sf_dir):
    """Categorical-aware binned statistic (xr_binned_statistic_df,
    xarray.py:269-335: categoricals grouped by codes, coords restored)."""
    from .operators.binned import BinSpec, binned_agg

    return binned_agg(
        load(spark, sf_dir, "lineitem"),
        [BinSpec("l_returnflag", categorical=True), BinSpec("l_quantity", 0.0, 50.0, 5)],
        {"mean": F.round(F.avg("l_extendedprice"), 4)},
        fill={"mean": None},
    )


# =====================================================================
# §2.6 windows  (lagplot analog, plotter.py:1059-1090)
# =====================================================================

@query(
    "q29_lag",
    oracle="""
    SELECT event_id, value,
           LAG(value) OVER (ORDER BY event_id) AS value_lag1,
           ROUND(value - LAG(value) OVER (ORDER BY event_id), 6) AS delta
    FROM events
    """,
)
def q29(spark, sf_dir):
    """Positional lag series (lagplot, plotter.py:1059-1090) as an
    ordered window."""
    from .operators.window import lag_column

    df = lag_column(load(spark, sf_dir, "events"), "value", "event_id", 1)
    return df.select(
        "event_id", "value", "value_lag1",
        F.round(F.col("value") - F.col("value_lag1"), 6).alias("delta"),
    )


@query(
    "q30_top_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn = 1
    """,
)
def q30(spark, sf_dir):
    """Top-1 per group: row_number window, deterministic tiebreak."""
    from .operators.window import top_per_group

    df = top_per_group(
        load(spark, sf_dir, "orders"), ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], k=1,
    )
    return df.select("o_custkey", "o_orderkey", "o_totalprice")


@query(
    "q31_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3
    FROM events
    """,
)
def q31(spark, sf_dir):
    """Rolling mean over a rows frame (extension surface §2.6)."""
    from .operators.window import moving_average

    df = moving_average(load(spark, sf_dir, "events"), "value", "event_id", 3, "user_id", name="mavg3")
    return df.select("event_id", "user_id", F.round("mavg3", 6).alias("mavg3"))


@query(
    "q32_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g)
    SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start
    FROM s GROUP BY user_id, session_id
    """,
)
def q32(spark, sf_dir):
    """Gap-based sessionization (stateful-streaming analog in batch).

    Exact-microsecond gap arithmetic + event_id tiebreak on BOTH sides so
    the cumulative-sum order is deterministic; the oracle casts its window
    SUM to BIGINT because DuckDB's integer SUM is HUGEINT (→ float64 via
    pandas) while Spark returns bigint."""
    from .operators.window import sessionize

    df = sessionize(load(spark, sf_dir, "events"), "ts", "user_id", 1800, tiebreak="event_id")
    return df.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start")
    )


# =====================================================================
# §2.9 domain functions  (astro)
# =====================================================================

_PSEUDO_SKY = "(c_custkey * 37) % 360 AS ra, (c_custkey % 173) - 86 AS dec"


@query(
    "q33_cone_search",
    oracle=f"""
    WITH sky AS (SELECT c_custkey, {_PSEUDO_SKY} FROM customer)
    SELECT c_custkey, ra, dec,
           ROUND({_sphdist_sql('ra', 'dec', '180.0', '0.0')}, 6) AS separation
    FROM sky
    WHERE dec BETWEEN -60.0 AND 60.0
      AND {_sphdist_sql('ra', 'dec', '180.0', '0.0')} <= 60.0
    """,
)
def q33(spark, sf_dir):
    """coneSearch (simpletable.py:3056-3097): haversine predicate with a
    dec bounding-box pre-filter; separation column added (3216)."""
    from .functions.astro import cone_search

    sky = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    out = cone_search(sky, 180.0, 0.0, 60.0)
    return out.withColumn("separation", F.round("separation", 6))


@query(
    "q34_zone_search",
    oracle=f"""
    WITH sky AS (SELECT c_custkey, {_PSEUDO_SKY} FROM customer)
    SELECT c_custkey, ra, dec FROM sky
    WHERE ra >= 60.0 AND ra <= 200.0 AND dec >= -30.0 AND dec <= 30.0
    """,
)
def q34(spark, sf_dir):
    """zoneSearch (simpletable.py:3099-3137): range predicate —
    partition/row-group prunable at scale."""
    from .functions.astro import zone_search

    sky = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    return zone_search(sky, 60.0, 200.0, -30.0, 30.0)


@query(
    "q35_sexagesimal_roundtrip",
    oracle="""
    WITH d AS (SELECT c_custkey, (c_custkey % 360) + 0.1 AS deg FROM customer),
    h AS (SELECT c_custkey, deg,
                 printf('%02d:%02d:%05.2f',
                        CAST(FLOOR(deg/15) AS INT),
                        CAST(FLOOR((deg/15 - FLOOR(deg/15)) * 60) AS INT),
                        ((deg/15 - FLOOR(deg/15)) * 60
                          - FLOOR((deg/15 - FLOOR(deg/15)) * 60)) * 60) AS ra_hms
          FROM d)
    SELECT c_custkey, ra_hms,
           ROUND((CAST(string_split(ra_hms, ':')[1] AS DOUBLE)
                + CAST(string_split(ra_hms, ':')[2] AS DOUBLE) / 60.0
                + CAST(string_split(ra_hms, ':')[3] AS DOUBLE) / 3600.0) * 15.0, 4)
             AS deg_back
    FROM h
    """,
)
def q35(spark, sf_dir):
    """deg2hms -> hms2deg round-trip (simpletable.py:1109-1214): string
    formatting + parsing as pure column expressions."""
    from .functions.astro import deg2hms, hms2deg

    d = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "(c_custkey % 360) + 0.1 AS deg"
    )
    h = d.withColumn("ra_hms", deg2hms(F.col("deg")))
    return h.select("c_custkey", "ra_hms", F.round(hms2deg(F.col("ra_hms")), 4).alias("deg_back"))


@query(
    "q36_aitoff",
    oracle="""
    WITH sky AS (SELECT n_nationkey, (n_nationkey * 29.0) % 360.0 AS lon,
                        (n_nationkey % 170) - 85.0 AS lat FROM nation),
    p AS (SELECT n_nationkey, lon, lat,
                 radians(((lon + 180.0) % 360.0) - 180.0) AS l,
                 radians(lat) AS b
          FROM sky),
    a AS (SELECT n_nationkey, l, b, acos(cos(b) * cos(l/2)) AS alpha FROM p)
    SELECT n_nationkey,
           ROUND(2.0 * cos(b) * sin(l/2)
                 / (CASE WHEN alpha = 0 THEN 1.0 ELSE sin(alpha)/alpha END) / pi(), 6) AS aitoff_x,
           ROUND(sin(b)
                 / (CASE WHEN alpha = 0 THEN 1.0 ELSE sin(alpha)/alpha END) / pi(), 6) AS aitoff_y
    FROM a
    """,
)
def q36(spark, sf_dir):
    """Aitoff projection (astro/astro.py:215-261) as guarded-sinc trig."""
    from .functions.astro import project_aitoff

    sky = load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey", "(n_nationkey * 29.0) % 360.0 AS lon", "(n_nationkey % 170) - 85.0 AS lat"
    )
    x, y = project_aitoff("lon", "lat")
    return sky.select("n_nationkey", F.round(x, 6).alias("aitoff_x"), F.round(y, 6).alias("aitoff_y"))


@query(
    "q37_gaia_healpix_expr",
    oracle="""
    SELECT (o_orderkey * 34359738368) // (34359738368 * 16384) AS healpix5,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def q37(spark, sf_dir):
    """Gaia source_id -> healpix integer-division expression
    (astro/astro.py:53-79), grouped — codegen'd integer math."""
    from .functions.astro import gaia_healpix_expr

    df = load(spark, sf_dir, "orders").withColumn(
        "source_id", F.col("o_orderkey") * F.lit(34359738368)
    )
    return df.groupBy(gaia_healpix_expr("source_id", level=5).alias("healpix5")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "q38_crossmatch_cone",
    oracle=f"""
    WITH csky AS (SELECT c_custkey, {_PSEUDO_SKY} FROM customer),
         ssky AS (SELECT s_suppkey, (s_suppkey * 53) % 360 AS sra,
                         (s_suppkey % 167) - 83 AS sdec FROM supplier)
    SELECT c_custkey, s_suppkey,
           ROUND({_sphdist_sql('ra', 'dec', 'sra', 'sdec')}, 6) AS separation
    FROM csky CROSS JOIN ssky
    WHERE {_sphdist_sql('ra', 'dec', 'sra', 'sdec')} <= 5.0
    """,
)
def q38(spark, sf_dir):
    """Table x table cone cross-match via dec-zone bucketed equi-join +
    exact refine (SURVEY.md §4.3 — the genuinely custom strategy; never
    materializes the O(n*m) pair space)."""
    from .functions.astro import crossmatch_cone

    c = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    s = load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", "(s_suppkey * 53) % 360 AS sra", "(s_suppkey % 167) - 83 AS sdec"
    )
    out = crossmatch_cone(c, s, 5.0, ra_l="ra", dec_l="dec", ra_r="sra", dec_r="sdec")
    return out.select("c_custkey", "s_suppkey", F.round("separation", 6).alias("separation"))


@query("q73_healpix_column")
def q73(spark, sf_dir):
    """ang2pix NESTED healpix column (astro/astro.py:178-211) via
    Arrow-vectorized numpy pandas_udf; grouped into a count grid.
    Rows-only oracle (not SQL-expressible); pytest asserts the grid sums
    to the row count and indices < 12 * nside^2."""
    from .functions.astro import add_column_healpix

    sky = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    df = add_column_healpix(sky, order=3)
    return df.groupBy("healpix").agg(F.count(F.lit(1)).alias("n")).orderBy("healpix")


# =====================================================================
# events: JSON + streaming windows  (extension; §2.10)
# =====================================================================

@query(
    "q40_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def q40(spark, sf_dir):
    """JSON prop extraction (events.props fixture; FIXTURES.md A)."""
    df = load(spark, sf_dir, "events")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
    )


@query(
    "q41_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(AVG(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def q41(spark, sf_dir):
    """Tumbling event-time window (batch form of the Structured
    Streaming facade, streaming/windows.py)."""
    from .streaming.windows import tumbling_agg

    return tumbling_agg(load(spark, sf_dir, "events"))


# =====================================================================
# documents: text analysis + dedup  (scale extensions)
# =====================================================================

@query(
    "q42_token_stats",
    oracle=r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tokens,
           length(text) AS len_chars
    FROM documents
    """,
)
def q42(spark, sf_dir):
    """Token counting over documents (whitespace tokens, codegen'd)."""
    from .operators.textstats import token_count

    df = load(spark, sf_dir, "documents")
    return df.select("doc_id", token_count("text").alias("n_tokens"),
                     F.length("text").alias("len_chars"))


@query(
    "q43_quality_score",
    oracle=r"""
    WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
               FROM documents)
    SELECT doc_id,
           ROUND(CASE WHEN len(toks) > 0
                 THEN len(list_filter(toks, x -> list_contains(
                      ['the','and','of','to','a','in','is','that','it','for'], x)))
                      / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END, 6) AS stopword_ratio,
           ROUND(CASE WHEN len(toks) > 0
                 THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END, 6) AS unique_token_ratio
    FROM t
    """,
)
def q43(spark, sf_dir):
    """Quality features (stopword + uniqueness ratios; length/punct kept
    engine-side — regex classes differ across engines)."""
    from .operators.textstats import quality_features

    df = quality_features(load(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("unique_token_ratio", 6).alias("unique_token_ratio"),
    )


@query(
    "q44_lang_id",
    oracle=r"""
    WITH t AS (SELECT doc_id, lang,
                      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
               FROM documents),
    v AS (SELECT doc_id, lang,
            len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) AS v_en,
            len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','zu','den'], x))) AS v_de,
            len(list_filter(toks, x -> list_contains(['le','la','les','et','est','un','une','de','des','que'], x))) AS v_fr,
            len(list_filter(toks, x -> list_contains(['el','la','los','y','es','un','una','de','que','en'], x))) AS v_es
          FROM t)
    SELECT doc_id, lang,
           CASE WHEN v_en > 0 AND v_en >= v_de AND v_en >= v_fr AND v_en >= v_es THEN 'en'
                WHEN v_de > 0 AND v_de >= v_en AND v_de >= v_fr AND v_de >= v_es THEN 'de'
                WHEN v_fr > 0 AND v_fr >= v_en AND v_fr >= v_de AND v_fr >= v_es THEN 'fr'
                WHEN v_es > 0 AND v_es >= v_en AND v_es >= v_de AND v_es >= v_fr THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM v
    """,
)
def q44(spark, sf_dir):
    """Stopword-vote language ID (deterministic en>de>fr>es cascade)."""
    from .operators.textstats import lang_id

    df = lang_id(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "lang", "lang_pred")


@query(
    "q45_exact_dedup",
    oracle="""
    SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def q45(spark, sf_dir):
    """Exact dedup: one representative per distinct text (hash-groupBy;
    shuffle carries one row per distinct key)."""
    from .operators.dedup import exact_dedup

    return exact_dedup(load(spark, sf_dir, "documents"), ["text"], "doc_id")


@query(
    "q39_repetition_stats",
    oracle=r"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
               FROM documents),
    base AS (SELECT doc_id, len(ws) AS n_words,
               CASE WHEN len(ws) > 0
                    THEN ROUND(1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 6)
                    ELSE 0.0 END AS dup_word_frac,
               list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bgs
             FROM w),
    ex AS (SELECT doc_id, unnest(bgs) AS bg FROM base),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM ex GROUP BY doc_id, bg),
    top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total FROM cnt GROUP BY doc_id)
    SELECT b.doc_id, b.n_words, b.dup_word_frac,
           COALESCE(ROUND(top_c / CAST(total AS DOUBLE), 6), 0.0) AS top_bigram_frac
    FROM base b LEFT JOIN top USING (doc_id)
    """,
)
def q39(spark, sf_dir):
    """Gopher-style repetition signals (dup-word fraction, top-bigram
    fraction). The bigram count is explode + groupBy(doc, bigram) —
    linear shuffle rows, never an O(words^2) per-row scan."""
    from .operators.textstats import repetition_stats

    out = repetition_stats(load(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_words",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )


@query(
    "q46_gopher_flags",
    oracle=r"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
               FROM documents),
    base AS (SELECT doc_id, len(ws) AS n_words,
               CASE WHEN len(ws) > 0
                    THEN list_sum(list_transform(ws, x -> len(x))) / CAST(len(ws) AS DOUBLE)
                    ELSE 0.0 END AS mean_wl,
               len(list_filter(ws, x -> list_contains(
                   ['the','and','of','to','a','in','is','that','it','for'], x))) AS stop_hits,
               CASE WHEN len(ws) > 0
                    THEN 1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE)
                    ELSE 0.0 END AS dupf,
               list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bgs
             FROM w),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(bgs) AS bg FROM base) GROUP BY doc_id, bg),
    top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total FROM cnt GROUP BY doc_id)
    SELECT b.doc_id,
           b.n_words >= 20 AND b.n_words <= 100000 AS words_ok,
           b.mean_wl >= 3.0 AND b.mean_wl <= 10.0 AS word_len_ok,
           b.stop_hits >= 2 AS stopwords_ok,
           b.dupf <= 0.5 AS repetition_ok,
           COALESCE(top_c / CAST(total AS DOUBLE), 0.0) <= 0.15 AS bigram_ok,
           (b.n_words >= 20 AND b.n_words <= 100000)
             AND (b.mean_wl >= 3.0 AND b.mean_wl <= 10.0)
             AND b.stop_hits >= 2 AND b.dupf <= 0.5
             AND COALESCE(top_c / CAST(total AS DOUBLE), 0.0) <= 0.15 AS kept
    FROM base b LEFT JOIN top USING (doc_id)
    """,
)
def q46(spark, sf_dir):
    """Gopher-rule quality gate: per-doc boolean flags + composite kept
    (public MassiveText-style heuristics, parameterized thresholds)."""
    from .operators.textstats import gopher_flags

    return gopher_flags(load(spark, sf_dir, "documents"))


@query(
    "q47_pii_scan",
    oracle=r"""
    WITH p AS (SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN text || ' contact user' || doc_id
                           || '@example.com or 555-123-4567 at 10.0.0.' || (doc_id % 256)
                      ELSE text END AS text
               FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
      CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phone,
      CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
      regexp_replace(regexp_replace(regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS redacted
    FROM p
    """,
)
def q47(spark, sf_dir):
    """PII scan + redaction (email / phone / IPv4 via RE2-compatible
    regexes, codegen'd). PII is planted deterministically on both sides
    (the synthetic corpus has none) so the counts are non-trivial."""
    from .operators.textstats import pii_scan, redact_pii

    docs = load(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com or 555-123-4567 at 10.0.0."), F.col("doc_id") % 256,
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = redact_pii(pii_scan(planted))
    return out.select("doc_id", "n_email", "n_phone", "n_ipv4", "redacted")


@query(
    "q48_stratified_sample",
    oracle="""
    SELECT source, CAST(CEIL(0.2 * COUNT(*)) AS BIGINT) AS n_sampled
    FROM documents GROUP BY source
    """,
)
def q48(spark, sf_dir):
    """Exact stratified sampling for corpus mixing: rank-by-hash within
    stratum keeps ceil(frac*n) rows per stratum, deterministically. The
    oracle checks the exact per-stratum counts; membership determinism
    is pytest-checked (the hash order is engine-specific)."""
    from .operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    samp = stratified_sample(docs, "source", 0.2, "doc_id")
    return samp.groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled"))


@query(
    "q49_segment_dedup",
    oracle=r"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
               FROM documents),
    segs AS (SELECT doc_id, t.i AS pos,
                    array_to_string(ws[(t.i*10+1):(t.i*10+10)], ' ') AS seg
             FROM w, UNNEST(range(0, CAST(CEIL(len(ws) / 10.0) AS BIGINT))) AS t(i)
             WHERE len(ws) > 0),
    kept AS (SELECT doc_id, pos, seg,
                    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
             FROM segs),
    rebuilt AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text
                FROM kept WHERE rn = 1 GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(r.text, '') AS text
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q49(spark, sf_dir):
    """C4-style cross-document segment dedup: each distinct 10-word
    segment survives only at its first corpus occurrence; text rebuilt
    from surviving segments. Linear in total segments (window over the
    segment key), no pairwise comparisons."""
    from .operators.dedup import segment_dedup

    return segment_dedup(load(spark, sf_dir, "documents"), seg_words=10)


@query(
    "q51_corpus_mix",
    oracle="""
    SELECT source,
           CAST(CEIL(CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                 WHEN 'src2' THEN 0.25 ELSE NULL END
                     * COUNT(*)) AS BIGINT) AS n_sampled
    FROM documents WHERE source IN ('src0', 'src1', 'src2')
    GROUP BY source
    """,
)
def q51(spark, sf_dir):
    """Corpus mixing: per-source sampling weights (the data-mixing step
    before training); sources without a weight drop out. Oracle checks
    the exact per-source counts; membership determinism is
    pytest-checked."""
    from .operators.sampling import mix_corpus

    docs = load(spark, sf_dir, "documents")
    mixed = mix_corpus(docs, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.25}, "doc_id")
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled"))


@query(
    "q58_embedding_quantize",
    oracle=r"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
    s AS (SELECT vec_id, x,
                 GREATEST(list_max(list_transform(x, e -> abs(e))) / 127.0, 1e-30) AS q_scale
          FROM v)
    SELECT vec_id, ROUND(q_scale, 9) AS q_scale,
           CAST(list_sum(list_transform(x, e -> floor(e / q_scale + 0.5))) AS BIGINT) AS q_sum,
           CAST(list_max(list_transform(x, e -> abs(floor(e / q_scale + 0.5)))) AS BIGINT) AS q_max
    FROM s
    """,
)
def q58(spark, sf_dir):
    """Per-vector int8 quantization (4x smaller ANN candidate vectors).
    floor(x/scale + 0.5) quantization is engine-identical (round()'s
    half-tie policy is not), so q_sum/q_max check every element."""
    from .operators.similarity import quantize_int8

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = quantize_int8(emb)
    return q.select(
        "vec_id",
        F.round("q_scale", 9).alias("q_scale"),
        F.expr("aggregate(q, 0L, (a, x) -> a + x)").alias("q_sum"),
        F.expr("aggregate(q, 0L, (a, x) -> greatest(a, abs(x)))").alias("q_max"),
    )


@query(
    "q59_vocabulary",
    oracle=r"""
    WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                         x -> x <> '')) AS word
               FROM documents),
    c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word)
    SELECT word, CAST(n AS BIGINT) AS n FROM c
    ORDER BY n DESC, word LIMIT 100
    """,
)
def q59(spark, sf_dir):
    """Corpus vocabulary with counts (tokenizer-training feed): explode
    tokens + hash aggregate + deterministic top-k. The shuffle carries
    one row per distinct word (map-side partial combine)."""
    from .operators.textstats import tokens

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(100)
    )


@query(
    "q61_doc_length_buckets",
    oracle=r"""
    WITH t AS (SELECT len(list_filter(string_split_regex(lower(text), '\s+'),
                                      x -> x <> '')) AS n_tok
               FROM documents)
    SELECT CAST(FLOOR(LOG2(GREATEST(n_tok, 1))) AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1
    """,
)
def q61(spark, sf_dir):
    """Power-of-two document-length histogram (batch shaping / packing
    efficiency planning): pure column arithmetic + one aggregate."""
    from .operators.textstats import token_count

    docs = load(spark, sf_dir, "documents")
    n_tok = token_count("text")
    return (
        docs.select(
            F.floor(F.log2(F.greatest(n_tok, F.lit(1)))).cast("long").alias("bucket"),
            n_tok.alias("n_tok"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
    )


@query(
    "q62_ngram_counts",
    oracle=r"""
    WITH w AS (SELECT list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '') AS ws
               FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(ws)),
                                        i -> ws[i] || ' ' || ws[i+1])) AS bigram
           FROM w)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 100
    """,
)
def q62(spark, sf_dir):
    """Corpus-level bigram counts, deterministic top-k (language-model /
    quality-signal feed). Same explode + partial-combine shape as q59;
    the zip_with bigram build references only a bound token column."""
    from .operators.textstats import tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select(tokens("text").alias("__t"))
    bg = toked.select(
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.zip_with(
                    F.slice("__t", 1, F.size("__t") - 1),
                    F.slice("__t", 2, F.size("__t") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(100)
    )


@query("q85_neardup_clusters")
def q85(spark, sf_dir):
    """Near-dup pair lists -> connected-component clusters (min-label
    propagation, one shuffle join per round, lineage cut per round).
    Rows-only: the iterative fixpoint is not SQL-expressible; pytest
    checks against a driver-side union-find on the same pairs."""
    from .operators.dedup import neardup_clusters
    from .operators.similarity import pairwise_near_dup

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = pairwise_near_dup(emb, threshold=0.35, n_planes=3, n_tables=12)
    clusters = neardup_clusters(pairs)
    return clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))


@query("q84_sequence_packing")
def q84(spark, sf_dir):
    """Greedy sequence packing into fixed token budgets (training-row
    assembly). Sequential by nature -> greedy WITHIN hash shards via one
    applyInPandas pass; pack ids globally unique. Rows-only: the
    shard-local greedy assignment is not SQL-expressible; invariants
    (budget, completeness, determinism) are pytest-checked."""
    from .operators.sampling import pack_sequences
    from .operators.textstats import token_count

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", token_count("text").alias("n_tokens"))
    packed = pack_sequences(toks, max_len=256, n_shards=8)
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


@query("q74_minhash_neardup")
def q74(spark, sf_dir):
    """MinHash+LSH near-duplicate pairs (shingle -> 64-slot signature ->
    16 bands -> bucket join -> estimated Jaccard >= 0.5). Rows-only
    oracle (xxhash64 is Spark-specific); pytest verifies against exact
    Jaccard on a sample."""
    from .operators.dedup import minhash_dedup

    return minhash_dedup(load(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5)


@query("q75_simhash")
def q75(spark, sf_dir):
    """64-bit SimHash fingerprints (token-hash bit votes); rows-only."""
    from .operators.dedup import simhash

    return simhash(load(spark, sf_dir, "documents"), "text", "doc_id")


@query("q76_ngram_jaccard")
def q76(spark, sf_dir):
    """Exact 3-gram Jaccard on LSH candidate pairs only; rows-only."""
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), "text", "doc_id",
                               n=3, threshold=0.5)


@query("q77_fingerprint")
def q77(spark, sf_dir):
    """Normalized-token-stream fingerprints; rows-only (xxhash64).
    Equal fingerprints == dedup-equivalent docs (case/whitespace
    insensitive)."""
    from .operators.textstats import fingerprint

    df = fingerprint(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "fingerprint")


# =====================================================================
# embeddings: similarity search  (scale extensions)
# =====================================================================

@query(
    "q50_cosine_topk",
    oracle="""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 3),
    scored AS (
      SELECT q.qid, c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv)))
               AS cos_raw
      FROM c CROSS JOIN q),
    ranked AS (
      SELECT qid, vec_id, cos_raw,
             row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rank
      FROM scored)
    SELECT qid, vec_id, ROUND(cos_raw, 6) AS cosine, rank
    FROM ranked WHERE rank <= 5
    """,
)
def q50(spark, sf_dir):
    """Brute-force cosine top-k (broadcast queries x corpus scan; dot
    products via zip_with/aggregate — JVM-side, no Python)."""
    from .operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("qid"), "embedding")
    out = cosine_topk(emb, qs, k=5)
    return out.withColumn("cosine", F.round("cosine", 6))


@query("q78_cosine_topk_lsh")
def q78(spark, sf_dir):
    """Approximate top-k via random-hyperplane LSH (4 tables x 8 planes),
    exact rescore of candidates. Rows-only oracle (approximate by
    design); pytest measures recall vs q50."""
    from .operators.similarity import cosine_topk_lsh

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("qid"), "embedding")
    out = cosine_topk_lsh(emb, qs, k=5, dim=64)
    return out.withColumn("cosine", F.round("cosine", 6))


@query(
    "q52_embedding_neardup",
    oracle="""
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
)
def q52(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact (self-join with id_a <
    id_b + threshold; at 100 TB the q51 LSH bucketing replaces the
    cross pairing — kept exact here to be oracle-checkable)."""
    from .operators.similarity import _dot, normalize

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # repartition = shuffle barrier: materializes the normalized arrays
    # (otherwise the normalize expression is inlined into the post-join
    # projection and recomputed per PAIR, O(n^2 * dim) extra work) and
    # spreads the quadratic pair scoring across all cores
    n = (
        normalize(emb, "embedding", "v")
        .select("vec_id", "v")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    a = n.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = n.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _dot(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= 0.35)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


@query("q83_pairwise_neardup_lsh")
def q83(spark, sf_dir):
    """Embedding near-dup pairs via multi-table LSH bucketing — the
    100 TB path for what q52 computes exactly: candidates come from an
    equi-join on (tbl, bucket), never a theta/cross join (no
    BroadcastNestedLoopJoin in the plan; tests/test_operators.py
    asserts this and recall >= 0.9 vs q52's exact pairs). Rows-only:
    approximate results are seed-deterministic but not SQL-expressible.
    """
    from .operators.similarity import pairwise_near_dup

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # 3 planes x 12 tables tuned for the fixture's loose 0.35 threshold
    # (theta ~70 deg); production thresholds (>=0.9) use deeper codes
    # (10+ planes) where the same plan prunes ~1000x
    out = pairwise_near_dup(emb, threshold=0.35, n_planes=3, n_tables=12)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# =====================================================================
# plotting-layer aggregates (§2.12) + datashader reductions (§2.5)
# =====================================================================

@query(
    "q53_raster_mean",
    oracle="""
    SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / 2.5) AS BIGINT), 19) AS px,
           LEAST(CAST(FLOOR((l_discount - 0.0) / 0.011) AS BIGINT), 9) AS py,
           ROUND(AVG(l_extendedprice), 4) AS mean_price,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_quantity >= 0.0 AND l_quantity <= 50.0
      AND l_discount >= 0.0 AND l_discount <= 0.11
    GROUP BY 1, 2
    """,
)
def q53(spark, sf_dir):
    """Datashader-style raster reduction (datashader.py:105-138: mean
    over 2-D pixel bins + count) — the scatter-at-scale path."""
    from .operators.binned import BinSpec, binned_agg

    out = binned_agg(
        load(spark, sf_dir, "lineitem"),
        [BinSpec("l_quantity", 0.0, 50.0, 20), BinSpec("l_discount", 0.0, 0.11, 10)],
        {"mean_price": F.round(F.avg("l_extendedprice"), 4), "n": F.count(F.lit(1))},
        densify=False,
        with_centers=False,
    )
    return out.withColumnRenamed("l_quantity__bin", "px").withColumnRenamed("l_discount__bin", "py")


@query(
    "q53a_raster_line",
    oracle="""
    WITH pts AS (
      SELECT event_type AS s, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
             max(value) AS v
      FROM events GROUP BY 1, 2),
    px AS (
      SELECT s, h,
        LEAST(GREATEST(CAST(FLOOR((h - 473352.0) / 11.25) AS BIGINT), 0), 63) AS xp,
        LEAST(GREATEST(CAST(FLOOR((v - 0.0) / 16.0) AS BIGINT), 0), 31) AS yp
      FROM pts),
    seg AS (
      SELECT s, xp, yp,
        lag(xp) OVER (PARTITION BY s ORDER BY h) AS x0,
        lag(yp) OVER (PARTITION BY s ORDER BY h) AS y0
      FROM px),
    verts AS (SELECT xp AS xb, yp AS yb FROM seg WHERE x0 IS NULL),
    walks AS (
      SELECT x0, y0, xp, yp, GREATEST(ABS(xp - x0), ABS(yp - y0)) AS n
      FROM seg WHERE x0 IS NOT NULL),
    pix AS (
      SELECT x0 + CAST(ROUND(i * (xp - x0) / CAST(n AS DOUBLE), 0) AS BIGINT) AS xb,
             y0 + CAST(ROUND(i * (yp - y0) / CAST(n AS DOUBLE), 0) AS BIGINT) AS yb
      FROM walks, LATERAL unnest(range(1, n + 1)) AS t(i)
      WHERE n >= 1),
    allpix AS (SELECT * FROM verts UNION ALL SELECT * FROM pix)
    SELECT xb, yb, CAST(count(*) AS BIGINT) AS v FROM allpix GROUP BY 1, 2
    """,
)
def q53a(spark, sf_dir):
    """Datashader LINE raster verb (plotting.py::line_raster; reference
    DSPlotter.line, /root/reference/ezdata/datashader.py:377-380):
    rasterize the CONNECTED SEGMENTS of each event type's hourly-max
    polyline — per-series lag window for segment endpoints, bounded
    DDA explode for the pixel walk (SQL half-away rounding, skip-start
    vertex rule), pixel groupBy with map-side combine. The oracle
    replays the identical walk in SQL, so every rasterization rule is
    hash-checked cross-engine."""
    from .plotting import line_raster

    ev = load(spark, sf_dir, "events")
    pts = ev.groupBy(
        F.col("event_type").alias("s"),
        F.floor(F.unix_timestamp("ts") / 3600).alias("h"),
    ).agg(F.max("value").alias("v"))
    return line_raster(
        pts, "h", "v", 64, 32, (473352.0, 474072.0), (0.0, 512.0),
        order_col="h", series_col="s",
    )


@query(
    "q54_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT event_type, value, ts, time_bucket(INTERVAL 30 MINUTE, ts) AS s0
      FROM events),
    cand AS (
      SELECT event_type, value, ts, s0 AS window_start FROM starts
      UNION ALL
      SELECT event_type, value, ts, s0 - INTERVAL 30 MINUTE FROM starts)
    SELECT window_start, event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_value
    FROM cand
    WHERE ts >= window_start AND ts < window_start + INTERVAL 60 MINUTE
    GROUP BY window_start, event_type
    """,
)
def q54(spark, sf_dir):
    """Sliding event-time window (1h window, 30m slide): each event in 2
    overlapping windows (F.window duration+slide; §2.10 extension).

    avg computed as exact-decimal sum / count: double summation order is
    nondeterministic across partitions, which flips the last rounded
    digit vs the oracle; decimal accumulation is order-independent."""
    df = load(spark, sf_dir, "events")
    return (
        df.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "avg_value")
    )


@query(
    "q55_udaf_weighted_mean",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS wmean_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q55(spark, sf_dir):
    """Arbitrary-Python UDAF surface (aggregate(func, keys),
    dictdataframe.py:578-599) via applyInPandas — numpy reducer per
    group, Arrow-batched; oracle proves it equals the SQL form."""
    import pandas as pd

    from .table import EzTable

    def wmean(pdf: pd.DataFrame) -> pd.DataFrame:
        w = pdf["l_quantity"].to_numpy()
        p = pdf["l_extendedprice"].to_numpy()
        return pd.DataFrame(
            {"l_returnflag": [pdf["l_returnflag"].iloc[0]],
             "wmean_price": [round(float((p * w).sum() / w.sum()), 6)]}
        )

    t = EzTable(load(spark, sf_dir, "lineitem"))
    return t.apply_in_pandas("l_returnflag", wmean, "l_returnflag string, wmean_price double").df


@query(
    "q56_euler_galactic",
    oracle="""
    WITH sky AS (SELECT c_custkey, (c_custkey * 37) % 360 AS ra,
                        (c_custkey % 173) - 86 AS dec FROM customer),
    t AS (SELECT c_custkey,
                 radians(ra) - 4.9368292465 AS a, radians(dec) AS b
          FROM sky)
    SELECT c_custkey,
           ROUND(CASE WHEN degrees(atan2(0.45598377618*cos(b)*sin(a) + 0.88998808748*sin(b),
                                          cos(b)*cos(a)) + 0.57477043300) % 360.0 < 0
                      THEN degrees(atan2(0.45598377618*cos(b)*sin(a) + 0.88998808748*sin(b),
                                          cos(b)*cos(a)) + 0.57477043300) % 360.0 + 360.0
                      ELSE degrees(atan2(0.45598377618*cos(b)*sin(a) + 0.88998808748*sin(b),
                                          cos(b)*cos(a)) + 0.57477043300) % 360.0 END, 6) AS gl,
           ROUND(degrees(asin(LEAST(GREATEST(
                 0.45598377618*sin(b) - 0.88998808748*cos(b)*sin(a), -1.0), 1.0))), 6) AS gb
    FROM t
    """,
)
def q56(spark, sf_dir):
    """Euler rotation RA/Dec -> galactic (simpletable.py:1218-1335,
    J2000 select=1) as pure builtin trig."""
    from .functions.astro import euler

    sky = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    gl, gb = euler("ra", "dec", select=1)
    return sky.select("c_custkey", F.round(gl, 6).alias("gl"), F.round(gb, 6).alias("gb"))


@query(
    "q57_boxplot_stats",
    oracle="""
    SELECT c_mktsegment,
           ROUND(quantile_cont(c_acctbal, 0.25), 4) AS q1,
           ROUND(quantile_cont(c_acctbal, 0.50), 4) AS med,
           ROUND(quantile_cont(c_acctbal, 0.75), 4) AS q3,
           ROUND(AVG(c_acctbal), 4) AS mean
    FROM customer GROUP BY c_mktsegment
    """,
)
def q57(spark, sf_dir):
    """boxplot/violin statistics feed (plotter.py:809-966): exact
    per-group quartiles on-cluster; only the stats reach the driver.
    ONE array percentile per group (r14) — three scalar calls each
    buffer and sort the group's values independently (same fuse as
    q16; value-identical)."""
    df = load(spark, sf_dir, "customer")
    qs = F.percentile(
        "c_acctbal", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        df.groupBy("c_mktsegment")
        .agg(qs.alias("_qs"), F.round(F.avg("c_acctbal"), 4).alias("mean"))
        .select(
            "c_mktsegment",
            F.round(F.col("_qs")[0], 4).alias("q1"),
            F.round(F.col("_qs")[1], 4).alias("med"),
            F.round(F.col("_qs")[2], 4).alias("q3"),
            "mean",
        )
    )


# =====================================================================
# multimodal columns (binary + typed metadata; stub decode)
# =====================================================================

@query("q79_media_features")
def q79(spark, sf_dir):
    """Image feature extraction over binary media columns via
    mapInPandas (operators/multimodal.py). The payloads here are
    synthetic (text bytes, not real containers), so the query OPTS
    INTO the labelled synthetic fallback — every row carries
    decode_status='synthetic', the contract that keeps stand-in
    numbers from ever passing as real decode output (z100 runs the
    REAL codecs: its rows say 'decoded'). Rows-only."""
    from .operators.multimodal import image_features, synthesize_media

    docs = load(spark, sf_dir, "documents")
    media = synthesize_media(spark, docs, "doc_id", "text")
    out = image_features(media, synthetic_fallback=True)
    return out.select("media_id", "width", "height", "n_bytes",
                      F.round("aspect", 6).alias("aspect"), "decode_status")


@query("q80_frame_sample")
def q80(spark, sf_dir):
    """Video frame-sampling plumbing: posexplode of generated frame
    indices, no shuffle (operators/multimodal.py). Synthetic payloads
    -> explicit synthetic_fallback opt-in (real AVI sampling with
    header-true counts is z106). Rows-only."""
    from .operators.multimodal import sample_frames, synthesize_media

    docs = load(spark, sf_dir, "documents")
    media = synthesize_media(spark, docs, "doc_id", "text")
    return sample_frames(
        media, every_n=7, max_frames=3, synthetic_fallback=True
    ).select("media_id", "frame_index")


@query(
    "q60_session_window",
    oracle="""
    WITH ordered AS (
      SELECT event_type, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY event_type ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY event_type ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    islands AS (
      SELECT event_type, ts, value,
             SUM(new_session) OVER (PARTITION BY event_type ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered)
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
    FROM islands GROUP BY event_type, session_id
    """,
)
def q60(spark, sf_dir):
    """Gap-based session windows (F.session_window, gap=30m): the
    built-in replacement for hand-rolled sessionization (q32); oracle is
    the gaps-and-islands SQL form. Exact-decimal sum for
    order-independent rounding."""
    from .streaming.stateful import session_agg

    df = load(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    out = session_agg(df, gap="30 minutes")
    return out.withColumn("sum_value", F.round(F.col("sum_value").cast("double"), 4))


@query("q81_ivf_ann")
def q81(spark, sf_dir):
    """IVF approximate nearest neighbors: KMeans coarse cells + nprobe
    search (operators/similarity.py). Rows-only (KMeans centroids are
    Spark-specific); pytest checks recall vs brute force."""
    from .operators.similarity import ivf_index, ivf_topk

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    indexed, centroids = ivf_index(emb, n_cells=8)
    qs = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("qid"), "embedding")
    out = ivf_topk(indexed, centroids, qs, k=5, nprobe=3)
    return out.withColumn("cosine", F.round("cosine", 6))


@query("q82_audio_features")
def q82(spark, sf_dir):
    """Audio feature extraction over binary media (mapInPandas).
    Synthetic payloads -> explicit synthetic_fallback opt-in; every
    row is labelled decode_status='synthetic' (z100 exercises the
    real WAV/ADPCM/G.711/FLAC decoders, whose rows say 'decoded').
    Rows-only."""
    from .operators.multimodal import audio_features, synthesize_media

    docs = load(spark, sf_dir, "documents")
    media = synthesize_media(spark, docs, "doc_id", "text")
    return audio_features(media, synthetic_fallback=True).select(
        "media_id", "sample_rate", "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings", "decode_status",
    )


@query(
    "q63_profile",
    oracle="""
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / 5.1) AS BIGINT), 9) AS bin,
             l_extendedprice AS y
      FROM lineitem WHERE l_quantity >= 0.0 AND l_quantity <= 51.0),
    grid AS (SELECT range AS bin FROM range(0, 10))
    SELECT g.bin,
           0.0 + (CAST(g.bin AS DOUBLE) + 0.5) * 5.1 AS l_quantity__center,
           COALESCE(ROUND(CAST(SUM(CAST(b.y AS DECIMAL(18,4))) AS DOUBLE), 4), 0.0) AS sum_y,
           COUNT(b.y) AS n
    FROM grid g LEFT JOIN binned b ON g.bin = b.bin
    GROUP BY g.bin
    """,
)
def q63(spark, sf_dir):
    """Binned profile feed (Plotter.profile; the scalable line-plot
    path): densified — empty bins present via generated-grid join.
    Exact-decimal sum for order-independent rounding."""
    from .operators.binned import BinSpec, binned_agg

    df = load(spark, sf_dir, "lineitem")
    out = binned_agg(
        df,
        [BinSpec("l_quantity", 0.0, 51.0, 10)],
        {
            "sum_y": F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 4
            ),
            "n": F.count("l_extendedprice"),
        },
        densify=True,
        with_centers=True,
    )
    return out.withColumnRenamed("l_quantity__bin", "bin")


@query(
    "q64_salted_join",
    oracle="""
    SELECT l.l_orderkey, l.l_extendedprice, o.o_orderdate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 200000
    """,
)
def q64(spark, sf_dir):
    """Salted equi-join (operators/skew.py): hot keys spread over 16
    sub-keys; result must equal the plain join (oracle proves it)."""
    from .operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select("o_orderkey", "o_orderdate")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    return salted_join(li, orders, on="l_orderkey", salt_n=16)


@query(
    "q65_astro_combined_where",
    oracle="""
    WITH sky AS (
      SELECT c_custkey, c_acctbal,
             (c_custkey * 37) % 360 AS ra, (c_custkey % 173) - 86 AS dec
      FROM customer),
    coned AS (
      SELECT *, 2*degrees(asin(sqrt(
               pow(sin(radians(dec - 0.0)/2),2) +
               cos(radians(0.0))*cos(radians(dec))*pow(sin(radians(ra - 180.0)/2),2)
             ))) AS separation
      FROM sky
      WHERE dec >= -40.0 AND dec <= 40.0)
    SELECT c_custkey, c_acctbal, ROUND(separation, 6) AS separation
    FROM coned
    WHERE separation <= 40.0
      AND ra >= 140.0 AND ra <= 220.0 AND dec >= -30.0 AND dec <= 30.0
      AND c_acctbal > 0
    """,
)
def q65(spark, sf_dir):
    """AstroTable combined where (simpletable.py:3139-3224): expr AND
    cone AND zone composed; separation column added by the cone leg."""
    from .astrotable import AstroTable

    sky = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_acctbal",
        "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec",
    )
    t = AstroTable(sky)
    out = t.where("c_acctbal > 0", cone=(180.0, 0.0, 40.0), zone=(140.0, 220.0, -30.0, 30.0))
    return out.df.select("c_custkey", "c_acctbal", F.round("separation", 6).alias("separation"))


# =====================================================================
# extension surface breadth: range windows, string/date/array functions
# (SURVEY.md §2.6 frame semantics, §2.9 "extension surface" claims —
# each proven against the DuckDB oracle)
# =====================================================================

@query(
    "q66_range_window",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS near_sum
    FROM orders
    """,
)
def q66(spark, sf_dir):
    """RANGE-frame window (value-based frame, not row-based): sum of
    orders within 10000 below the current price per customer."""
    from pyspark.sql import Window

    df = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, Window.currentRow)
    )
    return df.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double"), 4
        ).alias("near_sum"),
    )


@query(
    "q67_string_funcs",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS uname,
           LENGTH(c_name) AS nlen,
           SUBSTRING(c_mktsegment, 1, 3) AS seg3,
           CASE WHEN POSITION('1' IN c_name) > 0 THEN 1 ELSE 0 END AS has_one,
           CONCAT(c_mktsegment, '/', c_name) AS tag,
           REPLACE(LOWER(c_mktsegment), 'a', '_') AS subbed,
           LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           string_split(c_name, '#')[1] AS name_head
    FROM customer
    """,
)
def q67(spark, sf_dir):
    """String-function extension surface (upper/length/substring/instr/
    concat/replace/lpad/split — all JVM builtins)."""
    df = load(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.length("c_name").alias("nlen"),
        F.substring("c_mktsegment", 1, 3).alias("seg3"),
        F.when(F.instr("c_name", "1") > 0, 1).otherwise(0).alias("has_one"),
        F.concat_ws("/", "c_mktsegment", "c_name").alias("tag"),
        F.replace(F.lower("c_mktsegment"), F.lit("a"), F.lit("_")).alias("subbed"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.split("c_name", "#").getItem(0).alias("name_head"),
    )


@query(
    "q68_date_funcs",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           EXTRACT(dow FROM o_orderdate) AS dow_sample_max,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
)
def q68(spark, sf_dir):
    """Date-function extension surface: month truncation + day-of-week
    grouping (DuckDB dow: Sunday=0; Spark dayofweek: Sunday=1). The
    month is a STRING on both sides: a DATE would survive Spark collect
    as datetime.date but become datetime64 through the driver's pandas
    fetch of the oracle, mismatching on representation alone."""
    df = load(spark, sf_dir, "orders")
    return (
        df.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
            (F.dayofweek("o_orderdate") - 1).alias("dow_sample_max"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q69_array_funcs",
    oracle="""
    SELECT vec_id,
           ROUND(list_max(CAST(embedding AS DOUBLE[])), 6) AS vmax,
           ROUND(list_min(CAST(embedding AS DOUBLE[])), 6) AS vmin,
           len(embedding) AS dim,
           ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6) AS vsum
    FROM embeddings
    """,
)
def q69(spark, sf_dir):
    """Array-function extension surface over the embedding column
    (array_max/min/size + aggregate-sum, all JVM HOFs)."""
    df = load(spark, sf_dir, "embeddings").withColumn(
        "e", F.col("embedding").cast("array<double>")
    )
    return df.select(
        "vec_id",
        F.round(F.array_max("e"), 6).alias("vmax"),
        F.round(F.array_min("e"), 6).alias("vmin"),
        F.size("e").alias("dim"),
        F.round(
            F.aggregate("e", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("vsum"),
    )


@query(
    "q70_raster_count_cat",
    oracle="""
    SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / 5.1) AS BIGINT), 9) AS px,
           COUNT(*) FILTER (WHERE l_returnflag = 'A') AS "A",
           COUNT(*) FILTER (WHERE l_returnflag = 'N') AS "N",
           COUNT(*) FILTER (WHERE l_returnflag = 'R') AS "R"
    FROM lineitem
    WHERE l_quantity >= 0.0 AND l_quantity <= 51.0
    GROUP BY 1
    """,
)
def q70(spark, sf_dir):
    """Datashader count_cat reduction (datashader.py:132-133): per-cell
    per-category counts via groupBy+pivot."""
    from .operators.binned import BinSpec, count_cat

    out = count_cat(
        load(spark, sf_dir, "lineitem"),
        [BinSpec("l_quantity", 0.0, 51.0, 10)],
        "l_returnflag",
    )
    return out.withColumnRenamed("l_quantity__bin", "px")


@query(
    "q71_histogram_df",
    oracle="""
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / 5.1) AS BIGINT), 9) AS bin,
             l_extendedprice, l_discount
      FROM lineitem WHERE l_quantity >= 0.0 AND l_quantity <= 51.0),
    grid AS (SELECT range AS bin FROM range(0, 10))
    SELECT g.bin AS l_quantity__bin,
           0.0 + (CAST(g.bin AS DOUBLE) + 0.5) * 5.1 AS l_quantity__center,
           COUNT(b.l_extendedprice) AS count,
           COALESCE(ROUND(CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4), 0.0)
             AS sum_l_extendedprice,
           COALESCE(ROUND(CAST(SUM(CAST(b.l_discount AS DECIMAL(18,4))) AS DOUBLE), 4), 0.0)
             AS sum_l_discount
    FROM grid g LEFT JOIN binned b ON g.bin = b.bin
    GROUP BY g.bin
    """,
)
def q71(spark, sf_dir):
    """Per-column weighted histogram (xr_histogram_df, xarray.py:99-165)
    — every column's per-bin sum in ONE groupBy pass (the reference
    loops np.histogram per column)."""
    from .operators.binned import histogram_df

    df = load(spark, sf_dir, "lineitem").withColumn(
        "l_extendedprice", F.col("l_extendedprice").cast("decimal(18,4)")
    ).withColumn("l_discount", F.col("l_discount").cast("decimal(18,4)"))
    out = histogram_df(df, "l_quantity", ["l_extendedprice", "l_discount"],
                       nbins=10, lo=0.0, hi=51.0)
    return (
        out.withColumn("sum_l_extendedprice",
                       F.round(F.coalesce(F.col("sum_l_extendedprice").cast("double"), F.lit(0.0)), 4))
        .withColumn("sum_l_discount",
                    F.round(F.coalesce(F.col("sum_l_discount").cast("double"), F.lit(0.0)), 4))
    )


@query(
    "q72_histogram_like",
    oracle="""
    WITH binned AS (
      SELECT CASE
               WHEN c_acctbal >= -1000.0 AND c_acctbal < 0.0 THEN 0
               WHEN c_acctbal >= 0.0 AND c_acctbal < 100.0 THEN 1
               WHEN c_acctbal >= 100.0 AND c_acctbal < 2500.0 THEN 2
               WHEN c_acctbal >= 2500.0 AND c_acctbal <= 10000.0 THEN 3
             END AS bin
      FROM customer
      WHERE c_acctbal >= -1000.0 AND c_acctbal <= 10000.0),
    grid AS (SELECT range AS bin FROM range(0, 4))
    SELECT g.bin AS c_acctbal__bin, COUNT(b.bin) AS count
    FROM grid g LEFT JOIN binned b ON g.bin = b.bin
    GROUP BY g.bin
    """,
)
def q72(spark, sf_dir):
    """Histogram on explicit NON-UNIFORM edges (xr_histogram_like,
    xarray.py:234-266): reuse a reference grid's edges; right-closed
    last bin, out-of-range dropped, empty bins densified."""
    from .operators.binned import histogram_like

    df = load(spark, sf_dir, "customer")
    return histogram_like(df, "c_acctbal", [-1000.0, 0.0, 100.0, 2500.0, 10000.0])


# =====================================================================
# documents/embeddings: corpus curation tier (decontamination, ranking,
# caps, LM scoring, semantic dedup) — operators/corpus.py
# =====================================================================

@query(
    "q86_decontaminate",
    oracle=r"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '') AS ws
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(ws) - 1),
                                       i -> array_to_string(ws[i:i+2], ' '))) AS ng
          FROM w WHERE len(ws) >= 3),
    gd AS (SELECT DISTINCT doc_id, ng FROM g),
    bench AS (SELECT DISTINCT ng FROM gd WHERE doc_id % 97 = 0),
    hits AS (SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS n_hit
             FROM gd JOIN bench USING (ng)
             WHERE gd.doc_id % 97 <> 0 GROUP BY gd.doc_id)
    SELECT d.doc_id, COALESCE(h.n_hit, 0) AS n_hit,
           COALESCE(h.n_hit, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 97 <> 0
    """,
)
def q86(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    3-gram with a held-out set (doc_id % 97 == 0 stands in for the
    benchmark). Distinct (doc, ngram) on both sides before the
    equi-join, so the shuffle never carries positions. The corpus-wide
    distinct and the equi-join carry 8-byte xxhash64 gram ids instead
    of ~20-byte gram strings — the same accepted collision class
    q109/q116/q132 ship, so the string-based DuckDB oracle still
    applies. A bloom prefilter (q86b's shape) was measured 2.5x SLOWER
    here — its two build jobs dominate at a 1/97 benchmark fraction."""
    from .operators.corpus import decontaminate

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=3).select(
        "doc_id", "n_hit", "contaminated"
    )


@query(
    "q86b_decontaminate_bloom",
    oracle=r"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '') AS ws
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(ws) - 1),
                                       i -> array_to_string(ws[i:i+2], ' '))) AS ng
          FROM w WHERE len(ws) >= 3),
    gd AS (SELECT DISTINCT doc_id, ng FROM g),
    bench AS (SELECT DISTINCT ng FROM gd WHERE doc_id % 97 = 0),
    hits AS (SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS n_hit
             FROM gd JOIN bench USING (ng)
             WHERE gd.doc_id % 97 <> 0 GROUP BY gd.doc_id)
    SELECT d.doc_id, COALESCE(h.n_hit, 0) AS n_hit,
           COALESCE(h.n_hit, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 97 <> 0
    """,
)
def q86b(spark, sf_dir):
    """q86 through the map-side BLOOM screen (corpus.py::decontaminate
    prefilter='bloom'): the benchmark's distinct gram ids fold into a
    codegen bit-array literal tested BEFORE the doc-side distinct, so
    at corpus scale the dominant shuffle carries only probable hits
    (~0.1% fp at 16 bits/gram) instead of every doc n-gram. Same SQL
    oracle as q86 — the Bloom is built and probed on the ids the join
    matches, has no false negatives, and the equi-join discards false
    positives, so the result equals q86's by construction (also pinned
    by pytest against a pure-Python reference)."""
    from .operators.corpus import decontaminate

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=3, prefilter="bloom").select(
        "doc_id", "n_hit", "contaminated"
    )


@query(
    "q87_tfidf_topterms",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                      ROUND(tf.tf * (ln((n.n_docs + 1) / (dft.df + 1)) + 1.0),
                            6) AS tfidf
               FROM tf JOIN dft USING (term) CROSS JOIN n),
    ranked AS (SELECT doc_id, term, tf, tfidf,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term) AS rank
               FROM scored)
    SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 5
    """,
)
def q87(spark, sf_dir):
    """Top-5 TF-IDF terms per document (smooth idf). One explode ->
    (doc, term) hash aggregate; doc frequencies reuse that aggregate;
    top-k windows partition by doc (no global sort). Rank is computed
    on the ROUNDED score so cross-engine ln() ulp drift cannot flip
    the ordering."""
    from .operators.corpus import tf_idf_top_terms

    return tf_idf_top_terms(load(spark, sf_dir, "documents"), k=5)


@query(
    "q88_bm25_search",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS term
                 FROM documents),
    lens AS (SELECT doc_id,
                    len(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS dl
             FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE term IN ('spark', 'table', 'hash')
           GROUP BY doc_id, term),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    per AS (SELECT tf.doc_id,
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS part
            FROM tf JOIN dft d USING (term) JOIN lens l USING (doc_id)
            CROSS JOIN stats s)
    SELECT doc_id, ROUND(SUM(part), 6) AS score FROM per GROUP BY doc_id
    """,
)
def q88(spark, sf_dir):
    """Okapi BM25 scores for a 3-term query over the corpus. Term
    frequencies only materialize for the query's terms (isin filter
    before the aggregate); corpus stats fold in via a broadcast
    cross join."""
    from .operators.corpus import bm25_scores

    return bm25_scores(load(spark, sf_dir, "documents"), ["spark", "table", "hash"])


@query(
    "q89_source_caps",
    oracle="""
    WITH r AS (SELECT doc_id, source,
                      row_number() OVER (
                        PARTITION BY source
                        ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
                      ) AS rn
               FROM documents)
    SELECT doc_id, source FROM r WHERE rn <= 10
    """,
)
def q89(spark, sf_dir):
    """Per-source document caps (anti-over-representation): keep 10
    docs per source, chosen by a deterministic Knuth-hash order so the
    subset is stable across runs and engines."""
    from .operators.corpus import cap_per_key

    docs = load(spark, sf_dir, "documents")
    return cap_per_key(docs, "source", cap=10).select("doc_id", "source")


@query(
    "q90_unigram_logprob",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS w
                 FROM documents),
    term AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
             FROM tok GROUP BY doc_id, w),
    lm AS (SELECT w, SUM(c) AS cw FROM term GROUP BY w),
    tot AS (SELECT SUM(cw) AS t_tokens, count(*) AS vocab FROM lm)
    SELECT term.doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tok,
           ROUND(SUM(c * (-ln((cw + 1) / (t_tokens + vocab)))) / SUM(c),
                 6) AS avg_nll
    FROM term JOIN lm USING (w) CROSS JOIN tot
    GROUP BY term.doc_id
    """,
)
def q90(spark, sf_dir):
    """Per-doc mean negative log-prob under the corpus's own add-one
    unigram LM (cheap perplexity-proxy quality filter). The LM is the
    vocabulary-sized (word, count) aggregate, broadcast back onto the
    per-doc term counts."""
    from .operators.corpus import unigram_logprob

    return unigram_logprob(load(spark, sf_dir, "documents"))


@query(
    "q90a_backoff_logprob",
    oracle=r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '') AS toks
               FROM documents),
    pos AS (SELECT doc_id,
                   toks[i] AS c,
                   CASE WHEN i >= 2 THEN toks[i - 1] END AS b,
                   CASE WHEN i >= 3 THEN toks[i - 2] END AS a
            FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
    tri AS (SELECT a, b, c, count(*) AS c3 FROM pos WHERE a IS NOT NULL
            GROUP BY a, b, c HAVING count(*) >= 2),
    bi AS (SELECT b, c, count(*) AS c2 FROM pos WHERE b IS NOT NULL
           GROUP BY b, c HAVING count(*) >= 2),
    uni AS (SELECT c, count(*) AS c1 FROM pos GROUP BY c),
    tot AS (SELECT sum(c1) AS t_tokens FROM uni),
    sc AS (SELECT pos.doc_id,
              CASE
                WHEN pos.a IS NOT NULL AND tri.c3 IS NOT NULL
                     AND cab.c2 IS NOT NULL
                  THEN tri.c3 / CAST(cab.c2 AS DOUBLE)
                WHEN pos.b IS NOT NULL AND bc.c2 IS NOT NULL
                  THEN (CASE WHEN pos.a IS NOT NULL THEN CAST(0.4 AS DOUBLE)
                             ELSE 1.0 END) * bc.c2 / CAST(ub.c1 AS DOUBLE)
                ELSE (CASE WHEN pos.a IS NOT NULL
                             THEN CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                           WHEN pos.b IS NOT NULL THEN CAST(0.4 AS DOUBLE)
                           ELSE 1.0 END) * uc.c1 / CAST(tot.t_tokens AS DOUBLE)
              END AS s
           FROM pos
           LEFT JOIN tri ON pos.a = tri.a AND pos.b = tri.b AND pos.c = tri.c
           LEFT JOIN bi cab ON pos.a = cab.b AND pos.b = cab.c
           LEFT JOIN bi bc ON pos.b = bc.b AND pos.c = bc.c
           LEFT JOIN uni ub ON pos.b = ub.c
           JOIN uni uc ON pos.c = uc.c
           CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           ROUND(sum(-ln(s)) / count(*), 6) AS avg_nll
    FROM sc GROUP BY doc_id
    """,
)
def q90a(spark, sf_dir):
    """Trigram stupid-backoff LM scoring (operators/corpus.py::
    backoff_logprob; Brants et al. EMNLP 2007): the real
    perplexity-filter shape between q90's unigram proxy and
    model-based filtering. Positions build inside the row (one
    transform over the token array — no window), the pruned
    trigram/bigram tables (count >= 2, the web-scale move that also
    makes backoff trigger on a same-corpus LM) are map-side-combined
    aggregates, and scoring is five left equi-joins plus one per-doc
    hash aggregate. pytest pins the operator to a pure-Python
    reference."""
    from .operators.corpus import backoff_logprob

    return backoff_logprob(load(spark, sf_dir, "documents"))


@query(
    "q90b_backoff_external",
    oracle=r"""
    WITH lt AS (SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents WHERE doc_id % 3 = 0),
    lpos AS (SELECT toks[i] AS c,
                    CASE WHEN i >= 2 THEN toks[i - 1] END AS b,
                    CASE WHEN i >= 3 THEN toks[i - 2] END AS a
             FROM lt, unnest(range(1, len(toks) + 1)) AS u(i)),
    tri AS (SELECT a, b, c, count(*) AS c3 FROM lpos WHERE a IS NOT NULL
            GROUP BY a, b, c HAVING count(*) >= 2),
    bi AS (SELECT b, c, count(*) AS c2 FROM lpos WHERE b IS NOT NULL
           GROUP BY b, c HAVING count(*) >= 2),
    uni AS (SELECT c, count(*) AS c1 FROM lpos GROUP BY c),
    tot AS (SELECT sum(c1) AS t_tokens, count(*) AS vocab FROM uni),
    st AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS toks
           FROM documents WHERE doc_id % 3 <> 0),
    spos AS (SELECT doc_id, toks[i] AS c,
                    CASE WHEN i >= 2 THEN toks[i - 1] END AS b,
                    CASE WHEN i >= 3 THEN toks[i - 2] END AS a
             FROM st, unnest(range(1, len(toks) + 1)) AS u(i)),
    sc AS (SELECT spos.doc_id,
              CASE
                WHEN spos.a IS NOT NULL AND tri.c3 IS NOT NULL
                     AND cab.c2 IS NOT NULL
                  THEN tri.c3 / CAST(cab.c2 AS DOUBLE)
                WHEN spos.b IS NOT NULL AND bc.c2 IS NOT NULL
                     AND ub.c1 IS NOT NULL
                  THEN (CASE WHEN spos.a IS NOT NULL THEN CAST(0.4 AS DOUBLE)
                             ELSE 1.0 END) * bc.c2 / CAST(ub.c1 AS DOUBLE)
                ELSE (CASE WHEN spos.a IS NOT NULL
                             THEN CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                           WHEN spos.b IS NOT NULL THEN CAST(0.4 AS DOUBLE)
                           ELSE 1.0 END)
                     * ((COALESCE(uc.c1, 0) + 1)
                        / CAST(tot.t_tokens + tot.vocab AS DOUBLE))
              END AS s
           FROM spos
           LEFT JOIN tri ON spos.a = tri.a AND spos.b = tri.b AND spos.c = tri.c
           LEFT JOIN bi cab ON spos.a = cab.b AND spos.b = cab.c
           LEFT JOIN bi bc ON spos.b = bc.b AND spos.c = bc.c
           LEFT JOIN uni ub ON spos.b = ub.c
           LEFT JOIN uni uc ON spos.c = uc.c
           CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           ROUND(sum(-ln(s)) / count(*), 6) AS avg_nll
    FROM sc GROUP BY doc_id
    """,
)
def q90b(spark, sf_dir):
    """External-LM perplexity scoring — the train-once / score-daily
    split of q90a (operators/corpus.py::ngram_lm_build + backoff_score,
    artifact via ann_index.py::save_ngram_lm/load_ngram_lm): the
    stupid-backoff LM builds on one corpus partition, persists as three
    parquet tables + a parameter sidecar, RELOADS, and scores the other
    partition with a Laplace-smoothed unigram floor so OOV tokens get
    positive mass instead of -log(0). The artifact round-trip sits
    INSIDE the oracle check: parquet counts reload exactly, so the
    loaded-LM scores hash-match SQL rebuilt from scratch."""
    from .operators.ann_index import load_ngram_lm, save_ngram_lm
    from .operators.corpus import backoff_score, ngram_lm_build

    docs = load(spark, sf_dir, "documents")
    lm_corpus = docs.filter(F.col("doc_id") % 3 == 0)
    shard = docs.filter(F.col("doc_id") % 3 != 0)
    tri, bi, uni = ngram_lm_build(lm_corpus, min_count=2)
    path = _rt_path("ngram_lm", "q90b_lm")
    save_ngram_lm(path, tri, bi, uni, min_count=2, alpha=0.4)
    ltri, lbi, luni, params = load_ngram_lm(spark, path)
    return backoff_score(shard, ltri, lbi, luni, alpha=params["alpha"])


@query("q91_semantic_dedup")
def q91(spark, sf_dir):
    """SemDeDup-style semantic dedup (arXiv:2303.09540): KMeans cells,
    within-cell cosine pairs, keep min id per near-dup group.
    Rows-only: KMeans centroids are Spark-specific; pytest checks the
    keep-set against a driver-side brute force within cells."""
    from .operators.corpus import semantic_dedup

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return semantic_dedup(emb, threshold=0.35, n_cells=8)


@query(
    "q92_filter_funnel",
    oracle="""
    WITH f AS (SELECT n_chars BETWEEN 60 AND 400 AS g1,
                      lang IN ('en', 'de') AS g2,
                      doc_id = MIN(doc_id) OVER (PARTITION BY text) AS g3
               FROM documents),
    s AS (SELECT CAST(count(*) AS BIGINT) AS total,
                 CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS len_ok,
                 CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS lang_ok,
                 CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS first_copy
          FROM f)
    SELECT 'total' AS stage, total AS n_kept FROM s
    UNION ALL SELECT 'len_ok', len_ok FROM s
    UNION ALL SELECT 'lang_ok', lang_ok FROM s
    UNION ALL SELECT 'first_copy', first_copy FROM s
    """,
)
def q92(spark, sf_dir):
    """Curation retention funnel: cumulative survivor counts through a
    length gate, a language gate, and first-copy exact dedup — one pass,
    one ungrouped aggregate, stack-unpivoted (no collect)."""
    from pyspark.sql import Window

    from .operators.corpus import filter_funnel

    docs = load(spark, sf_dir, "documents")
    first_copy = F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("text"))
    return filter_funnel(
        docs,
        [
            ("len_ok", F.col("n_chars").between(60, 400)),
            ("lang_ok", F.col("lang").isin(["en", "de"])),
            ("first_copy", first_copy),
        ],
    )


@query(
    "q93_hash_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN (doc_id * 2654435761) % 4294967296 % 10000 < 9000 THEN 'train'
                WHEN (doc_id * 2654435761) % 4294967296 % 10000 < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q93(spark, sf_dir):
    """Deterministic train/val/test split (90/5/5): Knuth-hash bucket
    carving — same id always lands in the same split, on any engine,
    with no RNG state. One projection, no shuffle."""
    from .operators.corpus import split_by_hash

    docs = load(spark, sf_dir, "documents")
    return split_by_hash(
        docs, fractions={"train": 0.90, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


@query(
    "q94_curate_pipeline",
    oracle="""
    WITH gated AS (SELECT * FROM documents
                   WHERE len(text) BETWEEN 60 AND 400 AND lang IN ('en', 'de')),
    first AS (SELECT * FROM (
                SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS m FROM gated)
              WHERE doc_id = m),
    capped AS (SELECT doc_id, source, lang,
                      row_number() OVER (
                        PARTITION BY source
                        ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
                      ) AS rn
               FROM first)
    SELECT doc_id, source, lang FROM capped WHERE rn <= 8
    """,
)
def q94(spark, sf_dir):
    """End-to-end curation: length gate -> language gate -> first-copy
    exact dedup -> per-source cap, composed from the individual
    operators (the one-call raw-corpus -> candidate-set path)."""
    from .operators.corpus import curate

    docs = load(spark, sf_dir, "documents")
    out = curate(
        docs, min_chars=60, max_chars=400, langs=["en", "de"], cap=8
    )
    return out.select("doc_id", "source", "lang")


@query(
    "q95_incremental_new",
    oracle="""
    WITH hist AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 = 0),
    batch AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
    first AS (SELECT * FROM (
                SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS m FROM batch)
              WHERE doc_id = m)
    SELECT doc_id, source FROM first
    WHERE text NOT IN (SELECT text FROM hist)
    """,
)
def q95(spark, sf_dir):
    """Snapshot-delta dedup: docs in the new batch (doc_id % 3 != 0)
    whose text never appeared in the history partition (doc_id % 3 == 0)
    — left-anti join against the history's distinct xxhash64 key set
    (8-byte shuffle keys), first-copy wins within the batch."""
    from .operators.corpus import incremental_new

    docs = load(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return incremental_new(batch, hist).select("doc_id", "source")


@query("z137_minhash_incremental")
def q137(spark, sf_dir):
    """Incremental NEAR-dup dedup across snapshots (dedup.py::
    minhash_dedup_incremental): the new crawl shard (upper id range) is
    near-dup-deduplicated against the PERSISTED index of the history
    partition (lower id range — ids are globally monotone across
    snapshots, the operator's guarded batch-equivalence contract):
    a stored (band, bucket) index joined as-is (round 9 — no
    per-snapshot re-banding of history), (band, bucket) equi-join
    candidates, signature-only verification. Rows-only (Spark-hash
    signatures are not SQL-expressible); tests/test_round8.py pins the
    incremental chain == a batch rerun over the union, and
    tests/test_round9.py pins band-index == recomputed-bands parity."""
    from .operators.dedup import (
        _minhash_band_frame,
        minhash_dedup_incremental,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.max("doc_id")).first()[0] // 3
    hist = docs.filter(F.col("doc_id") <= mid)
    batch = docs.filter(F.col("doc_id") > mid)
    idx = minhash_signatures(hist, "text", "doc_id")
    bands = _minhash_band_frame(idx, "doc_id", 16, 4)
    survivors, _ = minhash_dedup_incremental(
        batch, history_signatures=idx, threshold=0.7, history_bands=bands
    )
    return survivors.select("doc_id", "source")


@query("z138_image_neardup")
def q138(spark, sf_dir):
    """Perceptual image near-duplicate pairs (operators/multimodal.py::
    image_near_dup): genuine BMP bytes fabricated executor-side — one
    base image per document id plus a brightness-shifted near-copy —
    decoded by the pure-numpy codec, hashed to 64-bit dHash (gradient
    signs, brightness-invariant), self-joined with the
    pigeonhole-complete Hamming-band LSH (dedup.py::hamming_near_dup;
    bucketed equi-join, never all-pairs). Rows-only (binary payloads /
    perceptual hashes are not SQL-expressible); tests/test_round8.py
    pins the band join to brute-force Hamming truth and the hash
    invariances."""
    import pandas as pd

    from .functions.media_codecs import encode_bmp
    from .operators.multimodal import IMAGE_SCHEMA, image_near_dup

    # ordered limit: a bare limit() takes whatever rows arrive first,
    # making the fixture (hence the output) partition-layout-dependent
    ids = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    ).orderBy("id").limit(150)

    def gen(batches):
        import numpy as np

        for b in batches:
            rows = []
            for mid in b["id"]:
                rng = np.random.RandomState(int(mid) % (2**31))
                w, h = int(rng.randint(8, 24)), int(rng.randint(8, 24))
                px = rng.randint(40, 200, size=(h, w, 3), dtype=np.uint8)
                near = np.clip(px.astype(int) + 15, 0, 255).astype(np.uint8)
                for off, p in ((0, px), (1_000_000, near)):
                    rows.append(
                        {
                            "media_id": int(mid) + off,
                            "data": encode_bmp(p),
                            "meta": {"format": "bmp", "width": w,
                                     "height": h, "channels": 3},
                        }
                    )
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(gen, IMAGE_SCHEMA)
    return image_near_dup(media, method="dhash", max_distance=6)


@query("z139_minhash_match_stream")
def q139(spark, sf_dir):
    """Ingest-time near-dup screen (dedup.py::minhash_match_stream):
    match EVENTS for an arriving shard (doc_id % 3 == 1) against the
    static MinHash signature index of the history partition — the
    STATELESS streaming form (signature + band buckets are pure
    projections; candidates are a stream-static (band, bucket)
    equi-join; verification is a projection), run here in its
    identical batch mode. Stream == batch parity is pinned by
    tests/test_round8.py::test_minhash_match_stream_equals_batch;
    rows-only (Spark-hash signatures are not SQL-expressible)."""
    from .operators.dedup import minhash_match_stream, minhash_signatures

    docs = load(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 3 == 0)
    shard = docs.filter(F.col("doc_id") % 3 == 1)
    idx = minhash_signatures(hist, "text", "doc_id")
    return minhash_match_stream(shard, idx, threshold=0.7).select(
        "doc_id", "match_id"
    ).distinct()


@query("z140_opq_ann")
def q140(spark, sf_dir):
    """OPQ-rotated ADC search (similarity.py::opq_train — Ge et al.
    CVPR'13 alternating Procrustes/Lloyd): learn the orthogonal
    rotation + codebooks on a driver-bounded sample, rotate corpus and
    queries with one Arrow-batched matmul (cosines preserved —
    rotation is orthogonal), then the standard pq_encode / pq_topk ADC
    scan + exact rescore on the rotated frames. Rows-only (codebooks /
    rotation are trained artifacts); pytest pins R's orthogonality,
    the quantization-MSE win vs plain PQ on anisotropic data, and
    recall parity end-to-end."""
    from .operators.similarity import opq_train, pq_encode, pq_topk, rotate_vectors

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") % 40 == 0).selectExpr(
        "vec_id as qid", "embedding"
    )
    R, cbs = opq_train(emb, m=8, k=16, opq_iters=5, lloyd_iters=10)
    rcorp = rotate_vectors(emb, R)
    rq = rotate_vectors(queries, R)
    return pq_topk(pq_encode(rcorp, cbs), cbs, rq, k=5, oversample=4)


@query("z141_simhash_neardup")
def q141(spark, sf_dir):
    """SimHash near-duplicate pairs — the classic web-dedup pipeline
    (Manku, Jarlin & Sarma, WWW'07): 64-bit token-vote fingerprints
    (dedup.py::simhash, one pass, no shuffle) self-joined with the
    pigeonhole-complete Hamming band index (dedup.py::
    hamming_near_dup: d differing bits corrupt at most d of the
    bands > d disjoint bit-slices, so every pair within distance d
    shares an exact slice — candidates are a bucketed equi-join, never
    all-pairs; verification is one bit_count(a^b)). Rows-only
    (Spark-hash fingerprints); the band join is brute-force-verified
    by tests/test_round8.py::test_hamming_near_dup_matches_brute_force."""
    from .operators.dedup import hamming_near_dup, simhash

    docs = load(spark, sf_dir, "documents")
    fps = simhash(docs, "text", "doc_id")
    return hamming_near_dup(fps, "simhash", "doc_id", max_distance=6)


@query("z143_ann_index_reload")
def q143(spark, sf_dir):
    """Durable ANN index artifact round-trip (operators/ann_index.py):
    build IVF-PQ once (ivf_index + pq_train + ivf_pq_encode), SAVE it —
    cell-partitioned parquet (probes prune whole partitions; the
    co-located-cogroup layout at 100 TB) + a JSON sidecar carrying
    centroids/codebooks — then RELOAD from disk and run the
    unbounded-left knn_join (rescore='cogroup') against the reloaded
    index. Rows-only (trained artifacts); tests/test_round9.py pins
    loaded-probe == in-session-probe bit-equality for LSH, IVF-PQ and
    OPQ artifacts. The build-save-reload runs per call (the query is
    the round-trip); a real pipeline amortizes the build across jobs.
    The artifact lands at the deterministic _rt_path scratch dir (mode
    overwrite), not a fresh mkdtemp — bench reps and the oracle gate
    re-run queries many times per session."""
    from .operators.ann_index import load_ivf_pq_index, save_ivf_pq_index
    from .operators.similarity import ivf_index, ivf_pq_encode, knn_join, pq_train

    emb = load(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 20 == 0).selectExpr(
        "vec_id as doc_id", "embedding"
    )
    indexed, cents = ivf_index(emb, n_cells=8)
    cb = pq_train(emb, m=8, k=16)
    path = _rt_path("ivfpq", "z143_index")
    save_ivf_pq_index(path, ivf_pq_encode(indexed, cb), cents, cb)
    fr, cents2, cb2, _ = load_ivf_pq_index(spark, path)
    return knn_join(
        left, fr, cents2, k=5, nprobe=8, round_ndigits=6,
        pq_codebooks=cb2, rescore="cogroup",
    )


@query("z144_minhash_index_reload")
def q144(spark, sf_dir):
    """MinHash dedup index artifact round-trip (operators/ann_index.py::
    save_minhash_index / load_minhash_index): build the incremental
    near-dup index over the history partition ONCE (signatures — the
    verify artifact — and the (id, band, bucket) table, band-partitioned
    parquet + a geometry sidecar DERIVED from the frames), save, RELOAD,
    and dedup the new shard against the loaded pair with the sidecar's
    own hashing geometry — the cross-job path a real crawl pipeline
    runs daily. Rows-only (Spark-hash signatures are not
    SQL-expressible); tests/test_round10.py pins loaded-artifact
    survivors == in-session survivors == batch rerun."""
    from .operators.ann_index import load_minhash_index, save_minhash_index
    from .operators.dedup import minhash_dedup_incremental

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.max("doc_id")).first()[0] // 3
    hist = docs.filter(F.col("doc_id") <= mid)
    batch = docs.filter(F.col("doc_id") > mid)
    _, sigs, bands = minhash_dedup_incremental(
        hist, threshold=0.7, return_bands=True
    )
    path = _rt_path("minhash", "z144_index")
    save_minhash_index(path, sigs, bands)
    lsigs, lbands, params = load_minhash_index(spark, path)
    survivors, _ = minhash_dedup_incremental(
        batch,
        history_signatures=lsigs,
        history_bands=lbands,
        threshold=0.7,
        num_hashes=params["num_hashes"],
        bands=params["bands"],
        shingle_n=params["shingle_n"],
        id_col=params["id_col"],
    )
    return survivors.select("doc_id", "source")


@query("z145_logreg_hashed")
def q145(spark, sf_dir):
    """Feature-HASHED logistic-regression training + scoring
    (operators/textstats.py::logreg_train_hashed / linear_score_hashed;
    Weinberger et al. ICML'09): the web-scale form of q66a — features
    hash to a fixed bucket count, so nothing collected scales with the
    data (no vocabulary derivation) and the trained model is a
    fixed-size weight vector folded into a per-row scoring expression
    (append-mode-streaming safe). Rows-only (xxhash64 buckets are not
    SQL-expressible); tests/test_round10.py pins the fit to a numpy
    replay on extracted bucket assignments, incl. L2."""
    from .operators.textstats import linear_score_hashed, logreg_train_hashed

    docs = load(spark, sf_dir, "documents").withColumn(
        "label", (F.length("source") == 4).cast("double")
    )
    w, b = logreg_train_hashed(docs, n_buckets=512, epochs=2, lr=1.0, l2=0.001)
    out = linear_score_hashed(docs, w, b)
    return out.select("doc_id", "n_tokens", F.round("prob", 6).alias("prob"))


_AUC_SCORED_SQL = r"""
    SELECT len(list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '' AND length(x) >= 5)) AS score,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
    FROM documents
"""


@query(
    "q149_classifier_auc",
    oracle=rf"""
    WITH sc AS ({_AUC_SCORED_SQL}),
    agg AS (SELECT score, SUM(label) AS p, COUNT(*) - SUM(label) AS n
            FROM sc WHERE score IS NOT NULL GROUP BY score),
    cum AS (SELECT p, n,
                   SUM(n) OVER (ORDER BY score
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_n
            FROM agg)
    SELECT ROUND(CAST(SUM(p * (2 * (cum_n - n) + n)) AS DOUBLE)
                 / (2.0 * CAST((SELECT SUM(p) FROM agg) AS DOUBLE)
                        * CAST((SELECT SUM(n) FROM agg) AS DOUBLE)), 9) AS auc,
           CAST((SELECT SUM(p) FROM agg) AS BIGINT) AS n_pos,
           CAST((SELECT SUM(n) FROM agg) AS BIGINT) AS n_neg
    FROM cum
    """,
)
def q149(spark, sf_dir):
    """Exact distributed ROC-AUC (operators/evaluate.py::binary_auc;
    Mann-Whitney rank-sum with the average-rank tie convention) —
    classifier evaluation for the training tier (q66a/z145): scores
    collapse to their DISTINCT values before any ordering, the one
    ordered pass is the distributed prefix-sum (no single-partition
    window), and everything up to the final division is BIGINT-exact,
    so the DuckDB oracle reproduces the double bit-for-bit. The score
    here is the integer rare-word count (>= 5 chars) so cross-engine
    tie GROUPS are exact by construction; label = (lang = 'en')."""
    from .operators.evaluate import binary_auc
    from .operators.textstats import tokens

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        F.size(F.filter(tokens("text"), lambda t: F.length(t) >= 5)).alias("score"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    res = binary_auc(scored)
    return res.select(F.round("auc", 9).alias("auc"), "n_pos", "n_neg")


@query(
    "q150_classification_report",
    oracle=rf"""
    WITH sc AS ({_AUC_SCORED_SQL}),
    c AS (SELECT
      CAST(SUM(CASE WHEN score >= 27 THEN label ELSE 0 END) AS BIGINT) AS tp,
      CAST(SUM(CASE WHEN score >= 27 THEN 1 - label ELSE 0 END) AS BIGINT) AS fp,
      CAST(SUM(CASE WHEN score < 27 THEN label ELSE 0 END) AS BIGINT) AS fn,
      CAST(SUM(CASE WHEN score < 27 THEN 1 - label ELSE 0 END) AS BIGINT) AS tn,
      CAST(SUM(CASE WHEN score IS NULL OR label IS NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS dropped
    FROM sc)
    SELECT tp, fp, fn, tn, dropped,
      ROUND((CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE))
            / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
               + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)), 9) AS accuracy,
      ROUND(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)), 9)
        AS precision,
      ROUND(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)), 9)
        AS recall,
      ROUND(2 * (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)))
              * (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)))
            / (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
               + CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))),
            9) AS f1
    FROM c
    """,
)
def q150(spark, sf_dir):
    """Threshold confusion metrics (operators/evaluate.py::
    classification_report): one map-side-combinable scalar aggregate
    over the scored frame — tp/fp/fn/tn as BIGINTs, the NULL-row
    ``dropped`` count (tp+fp+fn+tn+dropped == input rows), plus
    accuracy/precision/recall/f1 ROUND()ed per the float-stability
    policy. Same integer score / lang label as q149; threshold = the
    corpus median rare-word count."""
    from .operators.evaluate import classification_report
    from .operators.textstats import tokens

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        F.size(F.filter(tokens("text"), lambda t: F.length(t) >= 5)).alias("score"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    return classification_report(scored, threshold=27)


@query(
    "q152_average_precision",
    oracle=rf"""
    WITH sc AS ({_AUC_SCORED_SQL}),
    agg AS (SELECT score, SUM(label) AS p, COUNT(*) AS t
            FROM sc WHERE score IS NOT NULL GROUP BY score),
    cum AS (SELECT p, t,
              SUM(p) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS cum_p,
              SUM(t) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS cum_t
            FROM agg)
    SELECT ROUND(SUM(CAST(p * cum_p AS DOUBLE) / CAST(cum_t AS DOUBLE))
                 / CAST((SELECT SUM(p) FROM agg) AS DOUBLE), 6) AS ap,
           CAST((SELECT SUM(p) FROM agg) AS BIGINT) AS n_pos,
           CAST((SELECT SUM(t) - SUM(p) FROM agg) AS BIGINT) AS n_neg
    FROM cum
    """,
)
def q152(spark, sf_dir):
    """Exact average precision / PR-AUC (operators/evaluate.py::
    average_precision; the scikit-learn step-interpolated definition
    with tied scores collapsed per distinct threshold): two DESCENDING
    distributed prefix-sums over the distinct-score table — same
    no-single-partition-window shape as q149 — with the per-threshold
    numerator BIGINT-exact; the final ratio sum is ROUND()ed per the
    float-stability policy. Same integer score / lang label as q149."""
    from .operators.evaluate import average_precision
    from .operators.textstats import tokens

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        F.size(F.filter(tokens("text"), lambda t: F.length(t) >= 5)).alias("score"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    res = average_precision(scored)
    return res.select(F.round("ap", 6).alias("ap"), "n_pos", "n_neg")


@query("z154_ann_recall")
def q154(spark, sf_dir):
    """ANN quality evaluation (operators/evaluate.py::topk_recall):
    recall@10 of the LSH hyperplane index against brute-force cosine
    top-10, per query — the standard measurement a production ANN
    deployment tracks. Rows-only (the LSH planes are xxhash64-seeded,
    Spark-specific); pytest pins topk_recall itself on a hand fixture
    and the LSH recall here is separately property-tested in the
    similarity suite."""
    from .operators.evaluate import topk_recall
    from .operators.similarity import cosine_topk, cosine_topk_lsh

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    approx = cosine_topk_lsh(emb, qs, k=10, dim=64)
    exact = cosine_topk(emb, qs, k=10)
    return topk_recall(approx, exact).select(
        "qid", "n_exact", "n_hit", F.round("recall", 6).alias("recall")
    )


@query("z155_random_projection")
def q155(spark, sf_dir):
    """Johnson-Lindenstrauss random projection (decomp.py::
    random_projection): train-free embedding reduction — a seeded
    Gaussian k x d matrix broadcast through the batched-dgemm kernel,
    no corpus pass; shards/streams sharing the seed project
    identically. Rows-only (seeded Gaussian matrices are not
    SQL-expressible); pytest pins determinism and the JL distance-
    preservation property."""
    from .operators.decomp import random_projection

    emb = load(spark, sf_dir, "embeddings")
    out = random_projection(emb, dim=64, k=16)
    return out.select(
        "vec_id",
        F.round(F.element_at("rp", 1), 4).alias("rp1"),
        F.round(F.element_at("rp", 2), 4).alias("rp2"),
    )


@query("z151_pca_project")
def q151(spark, sf_dir):
    """Distributed PCA (operators/decomp.py): ONE corpus pass reduces
    each Arrow batch to (count, sum, X^T X) partials (~33 KB each at
    d=64, no shuffle), the driver eigendecomposes the d x d covariance,
    and the k x d rotation broadcasts back through a batched dgemm —
    the dimensionality-reduction front of the ANN/semantic-dedup tier.
    Rows-only: eigendecomposition is not SQL-expressible;
    tests/test_round10.py pins the fit against numpy PCA on the
    collected matrix (components, variance ratios, projections) and
    the projection's orthonormal-invariant properties."""
    from .operators.decomp import pca_project, pca_train

    emb = load(spark, sf_dir, "embeddings")
    mean, comps, _ratio = pca_train(emb, k=4)
    out = pca_project(emb, mean, comps)
    return out.select(
        "vec_id",
        F.round(F.element_at("pca", 1), 4).alias("pc1"),
        F.round(F.element_at("pca", 2), 4).alias("pc2"),
    )


@query("z156_ann_probe_bucketed")
def q156(spark, sf_dir):
    """PRODUCTION kNN probe path (r11 verdict directive #7): the
    persisted BUCKETED IVF-PQ index (ann_index.py::
    save_ivf_pq_index_bucketed — corpus side reads with zero Exchange;
    the bucketed scan satisfies the cogroup's hash-clustered
    distribution) probed with ``nprobe`` << ``n_cells``. q50b stays
    the per-call full-probe ORACLE form; this row tracks
    round-over-round drift of the path a real deployment runs —
    load_ivf_pq_index_bucketed + cell-pruned ADC cogroup + exact
    rescore. The index is built ONCE per (session, sf) with seeded
    KMeans/PQ (deterministic artifact) and reused by later calls, so
    bench medians time the amortized probe, not the build; the first
    rep pays the build the way a real pipeline's first job does.
    Rows-only (IVF cell assignments / PQ codes are trained artifacts);
    tests/test_round12.py pins probe recall@10 against brute-force
    cosine and bucketed-probe == full-frame-probe equality."""
    from .operators.ann_index import (
        load_ivf_pq_index_bucketed,
        save_ivf_pq_index_bucketed,
    )
    from .operators.similarity import ivf_index, ivf_pq_encode, knn_join, pq_train

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")
    # _d suffix (r14): the coarse quantizer moved to trainer='driver'
    # (r13 verdict directive #1) — a fresh table name keeps a stale
    # warehouse from serving an mllib-trained index to this query
    table = f"ez_z156_ivfpq_d_{tag}"
    frame = None
    if spark.catalog.tableExists(table):
        try:
            frame, cents, cb, _rot = load_ivf_pq_index_bucketed(spark, table)
        except ValueError:
            frame = None  # catalog entry without a sidecar: rebuild
    if frame is None:
        # trainer='driver' (r14, r13 verdict directive #1): the same
        # FAISS-style driver-side Lloyd coarse trainer q50a/q50b
        # adopted in r13 — zero Spark jobs beyond one bounded sample
        # collect, ~4x cheaper build; recall floor re-verified at the
        # new centroids (test_round12.py::test_z156_probe_recall...)
        indexed, cents = ivf_index(emb, n_cells=16, trainer="driver")
        cb = pq_train(emb, m=16, k=256)
        save_ivf_pq_index_bucketed(
            table, ivf_pq_encode(indexed, cb), cents, cb, n_buckets=8
        )
        frame, cents, cb, _rot = load_ivf_pq_index_bucketed(spark, table)
    left = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    # nprobe=8 (r13): the measured operating point on the recall/nprobe
    # curve (SCALE.md) — 8/16 pins a mid-curve production ratio rather
    # than the bottom of the curve (the fixture's near-random synthetic
    # embeddings have no sharp knee: recall rises ~linearly with
    # nprobe/n_cells because true neighbors spread across cells).
    # Recall@10 at this point, re-measured r14 for the driver-trained
    # centroids: 0.825 at sf0.1 / 0.864 at sf0.01 (up from mllib's
    # 0.765/0.792 — the Lloyd fit spreads cells better here); probe
    # cost flat at fixture scale.
    return knn_join(
        left, frame, cents, k=10, nprobe=8, round_ndigits=6,
        pq_codebooks=cb, pq_oversample=8, rescore="cogroup",
    )


@query("z157_bpe_encode")
def q157(spark, sf_dir):
    """Corpus-scale BPE ENCODE (operators/bpe.py::encode_corpus) — the
    tokenize-the-corpus production step after learn_bpe: merge folds
    run over DISTINCT words only (vocabulary-sized, a word repeated a
    billion times segments once), deterministic lexicographic token
    ids (bpe_vocab_ids — shards sharing the merge list encode
    identically), one corpus-sized equi-join back onto the
    position-exploded docs, order restored by array_sort (no
    collect-order dependence). Rows-only (the iterative merge
    learning is not SQL-expressible); tests/test_round12.py pins the
    encoding against a pure-Python BPE reference (losslessness,
    ordering, id stability, empty-doc handling)."""
    from .operators.bpe import encode_corpus, learn_bpe

    docs = load(spark, sf_dir, "documents")
    merges, _ = learn_bpe(docs, n_merges=20)
    out = encode_corpus(docs, merges)
    return out.select(
        "doc_id",
        "n_tokens",
        F.slice("token_ids", 1, 8).alias("head_ids"),
    )


@query("z158_bpe_encode_frozen")
def q158(spark, sf_dir):
    """FROZEN-tokenizer shard encode (operators/bpe.py::encode_stream)
    — the cross-job/ingest-time form: a tokenizer trained on the
    history partition encodes a NEW shard with the frozen id
    inventory; novel symbols surface as unk_id, never silently drop.
    encode_stream is fully stateless (JVM tokenization projection +
    one Arrow-batched mapInPandas whose Python greedy-merge fold is
    pytest-pinned == the JVM fold), so the same definition runs on a
    readStream frame append-safe — stream==batch is pytest-pinned;
    the driver exercises batch mode. Rows-only (iterative merge
    learning is not SQL-expressible)."""
    from .operators.bpe import bpe_vocab_ids, encode_stream, learn_bpe

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    hist = docs.filter(F.col("doc_id") <= mid)
    shard = docs.filter(F.col("doc_id") > mid)
    merges, vocab = learn_bpe(hist, n_merges=16)
    frozen = bpe_vocab_ids(vocab)
    out = encode_stream(shard, merges, frozen, unk_id=-1)
    return out.select(
        "doc_id",
        "n_tokens",
        F.slice("token_ids", 1, 8).alias("head_ids"),
        F.array_contains("token_ids", -1).alias("has_unk"),
    )


@query("z159_bpe_tokenizer_reload")
def q159(spark, sf_dir):
    """Durable BPE tokenizer artifact round-trip (operators/
    ann_index.py::save_bpe_tokenizer / load_bpe_tokenizer) — the
    train-once/encode-forever shape, exactly the z143/z144 pattern for
    ANN/MinHash artifacts: train on the history partition, persist the
    ordered merge list + unk contract in the JSON sidecar and the
    frozen (symbol, token_id) inventory as the parquet frame, RELOAD
    from disk, and encode the NEW shard with the loaded artifact via
    the stateless stream kernel (novel symbols -> the sidecar's
    unk_id). Rows-only (iterative merge learning is not
    SQL-expressible); tests/test_round12.py pins reload==in-session
    encode equality. The artifact lands at the deterministic _rt_path
    scratch dir (mode overwrite) — bench reps and the oracle gate
    re-run queries many times per session."""
    from .operators.ann_index import load_bpe_tokenizer, save_bpe_tokenizer
    from .operators.bpe import bpe_vocab_ids, encode_stream, learn_bpe

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    hist = docs.filter(F.col("doc_id") <= mid)
    shard = docs.filter(F.col("doc_id") > mid)
    merges, vocab = learn_bpe(hist, n_merges=16)
    path = _rt_path("bpe", "z159_tokenizer")
    save_bpe_tokenizer(path, merges, bpe_vocab_ids(vocab), unk_id=-1)
    lmerges, lids, params = load_bpe_tokenizer(spark, path)
    out = encode_stream(shard, lmerges, lids, unk_id=params["unk_id"])
    return out.select(
        "doc_id",
        "n_tokens",
        F.slice("token_ids", 1, 8).alias("head_ids"),
        F.array_contains("token_ids", params["unk_id"]).alias("has_unk"),
    )


@query("z160_bpe_byte_level")
def q160(spark, sf_dir):
    """BYTE-LEVEL BPE (r14, GPT-2 style — the remaining delta to
    production LLM tokenizers): base symbols are each word's UTF-8
    bytes (2-hex-digit strings, operators/bpe.py::_byte_symbols_col),
    so the tokenizer is TOTAL — bpe_vocab_ids seeds all 256 byte
    symbols and a frozen artifact encodes ANY text with zero unk,
    including bytes the training corpus never contained. Same
    train-once/encode-forever artifact contract as z159 (alphabet
    recorded in the sidecar); the shard encodes through the stateless
    stream kernel with merge-rank priority (byte-mode exactness
    precondition, base_len=2). Rows-only (iterative merge learning is
    not SQL-expressible); tests/test_round14.py pins byte-mode parity
    against a pure-Python byte-BPE reference, the no-unk guarantee on
    novel symbols, and UTF-8 round-trip of the segmentation."""
    from .operators.ann_index import load_bpe_tokenizer, save_bpe_tokenizer
    from .operators.bpe import bpe_vocab_ids, encode_stream, learn_bpe

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    hist = docs.filter(F.col("doc_id") <= mid)
    shard = docs.filter(F.col("doc_id") > mid)
    merges, vocab = learn_bpe(hist, n_merges=16, alphabet="byte")
    path = _rt_path("bpe", "z160_tokenizer")
    save_bpe_tokenizer(
        path, merges, bpe_vocab_ids(vocab, alphabet="byte"),
        unk_id=-1, alphabet="byte",
    )
    lmerges, lids, params = load_bpe_tokenizer(spark, path)
    out = encode_stream(
        shard, lmerges, lids,
        unk_id=params["unk_id"], alphabet=params["alphabet"],
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.slice("token_ids", 1, 8).alias("head_ids"),
        F.array_contains("token_ids", params["unk_id"]).alias("has_unk"),
    )


@query("q96_bpe_vocab")
def q96(spark, sf_dir):
    """BPE merge learning (arXiv:1508.07909) on the corpus via the
    production default path: one DISTRIBUTED corpus pass builds the
    weighted word vocabulary; the merge loop then runs wherever
    ``method='auto'`` routes it — here the driver incremental-pair
    fold (r13), since the fixture's type count is far under the 2M
    budget; the per-merge distributed loop remains the
    large-vocabulary fallback and is merge-for-merge parity-pinned by
    tests/test_round13.py. Rows-only: the iterative argmax loop is not
    SQL-expressible; pytest pins merges + segmentation to a
    pure-Python reference."""
    from .operators.bpe import learn_bpe

    docs = load(spark, sf_dir, "documents")
    _, vocab = learn_bpe(docs, n_merges=20)
    return vocab.select(
        "word", "count", F.array_join("symbols", " ").alias("segmented")
    )


# =====================================================================
# §2.1 native format round-trips as hash-verified queries (round 5)
# =====================================================================

@query(
    "q97_fits_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q97(spark, sf_dir):
    """Native FITS sink -> distributed native scan on a real table
    (sources/fits_native.py; reference I/O simpletable.py:1523-1538,
    1756-1772). The query IS the I/O path: the oracle reads the parquet
    directly, so any BINTABLE encode/decode bug flips the value hash."""
    from .sources.fits_native import scan_fits, write_fits
    from .table import EzTable

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    p = _rt_path("fits", "nation.fits")
    write_fits(EzTable(nation), p)
    return scan_fits(spark, p).df


@query(
    "q98_hdf5_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q98(spark, sf_dir):
    """Native HDF5 sink -> distributed native scan (sources/
    hdf5_native.py; reference I/O simpletable.py:1539-1550, 1756-1772).
    Same contract as q97: parquet oracle vs through-the-format Spark."""
    from .sources.hdf5_native import scan_hdf5, write_hdf5
    from .table import EzTable

    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    p = _rt_path("h5", "region.h5")
    write_hdf5(EzTable(region), p)
    return scan_hdf5(spark, p, "data").df


@query(
    "q99_votable_roundtrip",
    oracle="SELECT n_nationkey, n_name FROM nation",
)
def q99(spark, sf_dir):
    """Native VOTable TABLEDATA sink -> stdlib-XML reader (sources/
    votable_native.py; reference I/O simpletable.py:1551-1565)."""
    from .sources.votable_native import read_votable_native, write_votable
    from .table import EzTable

    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = _rt_path("vot", "nation.vot")
    write_votable(EzTable(nation), p)
    return read_votable_native(spark, p).df


@query("z100_media_real_decode")
def q100(spark, sf_dir):
    """Multimodal features over GENUINE file bytes: each document id
    fabricates a real 24-bit BMP, a real 8-bit PNG (rotating through all
    five scanline filters), a real baseline JPEG (alternating 4:4:4 and
    4:2:0), a real GIF (LZW, alternating interlace), a real 16-bit PCM
    WAV, a real 4-bit IMA-ADPCM WAV, a real 8-bit G.711 WAV
    (alternating u-law/A-law), and a real FLAC stream (alternating
    fixed-predictor and true-LPC encode) executor-side (functions/
    media_codecs.py + jpeg_codec.py encoders), and the feature
    extractors decode them back with the pure-numpy codecs — the
    de-stubbed decode path of operators/multimodal.py. Rows-only:
    binary payloads are not SQL-expressible; determinism is pinned by
    per-id RandomState and the codec round-trip tests
    (tests/test_media_codecs.py)."""
    import pandas as pd

    from .functions.jpeg_codec import encode_jpeg
    from .functions.flac_codec import encode_flac
    from .functions.media_codecs import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_wav,
        encode_wav_adpcm,
        encode_wav_g711,
    )
    from .operators.multimodal import IMAGE_SCHEMA, audio_features, image_features

    # ordered limit: a bare limit() takes whatever rows arrive first,
    # making the fixture (hence the output) partition-layout-dependent
    ids = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    ).orderBy("id").limit(200)

    def gen(batches):
        import numpy as np

        for b in batches:
            rows = []
            for mid in b["id"]:
                rng = np.random.RandomState(int(mid) % (2**31))
                w, h = int(rng.randint(4, 20)), int(rng.randint(4, 20))
                px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
                rows.append(
                    {
                        "media_id": int(mid),
                        "data": encode_bmp(px),
                        "meta": {"format": "bmp", "width": w, "height": h, "channels": 3},
                    }
                )
                px2 = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
                rows.append(
                    {
                        "media_id": int(mid) + 2_000_000,
                        "data": encode_png(px2, filter_type=int(mid) % 5),
                        "meta": {"format": "png", "width": w, "height": h, "channels": 3},
                    }
                )
                px3 = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
                rows.append(
                    {
                        "media_id": int(mid) + 3_000_000,
                        "data": encode_jpeg(
                            px3, 90, subsampling="420" if int(mid) % 2 else "444"
                        ),
                        "meta": {"format": "jpeg", "width": w, "height": h, "channels": 3},
                    }
                )
                pal = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
                px4 = pal[rng.randint(0, 8, size=(h, w))]
                rows.append(
                    {
                        "media_id": int(mid) + 4_000_000,
                        "data": encode_gif(px4, interlace=bool(int(mid) % 2)),
                        "meta": {"format": "gif", "width": w, "height": h, "channels": 3},
                    }
                )
                wav = rng.uniform(-0.9, 0.9, int(rng.randint(100, 1000))).astype("float32")
                rows.append(
                    {
                        "media_id": int(mid) + 1_000_000,
                        "data": encode_wav(wav, 16000),
                        "meta": {"format": "wav", "width": 0, "height": 0, "channels": 1},
                    }
                )
                t = np.arange(int(rng.randint(500, 2000))) / 8000.0
                tone = (0.5 * np.sin(2 * np.pi * float(rng.randint(80, 400)) * t)).astype(
                    "float32"
                )
                rows.append(
                    {
                        "media_id": int(mid) + 5_000_000,
                        "data": encode_wav_adpcm(tone, 8000),
                        "meta": {"format": "adpcm", "width": 0, "height": 0, "channels": 1},
                    }
                )
                law = "ulaw" if int(mid) % 2 == 0 else "alaw"
                rows.append(
                    {
                        "media_id": int(mid) + 6_000_000,
                        "data": encode_wav_g711(tone, 8000, law=law),
                        "meta": {"format": "g711", "width": 0, "height": 0, "channels": 1},
                    }
                )
                rows.append(
                    {
                        "media_id": int(mid) + 7_000_000,
                        "data": encode_flac(
                            tone, 8000, lpc_order=4 if int(mid) % 2 else None
                        ),
                        "meta": {"format": "flac", "width": 0, "height": 0, "channels": 1},
                    }
                )
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(gen, IMAGE_SCHEMA)
    imgs = image_features(
        media.filter(F.col("meta.format").isin("bmp", "png", "jpeg", "gif"))
    ).select(
        "media_id",
        F.lit("image").alias("kind"),
        F.round("mean_luma", 4).alias("feat1"),
        F.round("aspect", 4).alias("feat2"),
    )
    auds = audio_features(
        media.filter(F.col("meta.format").isin("wav", "adpcm", "g711", "flac"))
    ).select(
        "media_id",
        F.lit("audio").alias("kind"),
        F.round("rms", 4).alias("feat1"),
        F.round("duration_s", 4).alias("feat2"),
    )
    return imgs.unionByName(auds)


@query("z101_pq_ann")
def q101(spark, sf_dir):
    """Product-quantization ANN (Jegou et al., IEEE TPAMI 2011;
    operators/similarity.py::pq_train/pq_encode/pq_topk): codebooks
    trained per subspace, corpus compressed to m=8 4-bit codes, ADC
    scan over ONLY the code column (m table lookups per vector, never
    dim multiplies), exact cosine rescore on the few candidates.
    Rows-only: KMeans centroids are not SQL-expressible; recall vs
    brute force is pinned by tests/test_operators.py::
    test_pq_recall_vs_exact."""
    from .operators.similarity import pq_encode, pq_topk, pq_train

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    books = pq_train(emb, m=8, k=16)
    enc = pq_encode(emb, books)
    out = pq_topk(enc, books, qs, k=5, oversample=4)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


@query(
    "q102_asof_join",
    oracle="""
    WITH l AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_id % 5 <> 0),
    r0 AS (SELECT user_id, ts, value, event_id FROM events
           WHERE event_id % 5 = 0),
    r AS (SELECT user_id, ts, value, event_id FROM (
            SELECT r0.*, ROW_NUMBER() OVER (
              PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM r0) WHERE rn = 1)
    SELECT l.event_id, l.user_id, l.value,
           r.ts AS ref_ts, r.event_id AS ref_id, r.value AS ref_value
    FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q102(spark, sf_dir):
    """Point-in-time (as-of) join (operators/asof.py): every event
    attaches the latest reference event at-or-before its timestamp per
    user — union + one window over (user, ts), ONE shuffle, no range
    join. Hash-checked against DuckDB's native ASOF JOIN."""
    from pyspark.sql import Window

    from .operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_id") % 5 != 0).select(
        "event_id", "user_id", "ts", "value"
    )
    r0 = ev.filter(F.col("event_id") % 5 == 0).select(
        "user_id", "ts", F.col("value").alias("ref_value"), F.col("event_id").alias("ref_id")
    )
    # one reference row per (user, ts): equal-ts duplicates would make
    # the matched payload engine-dependent
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("ref_id").desc())
    right = r0.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    out = asof_join(
        left, right, on="ts", by="user_id", right_cols=["ref_value", "ref_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.col("ts_r").alias("ref_ts"),
        F.col("ref_id_r").alias("ref_id"),
        F.col("ref_value_r").alias("ref_value"),
    )


@query(
    "q103_range_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           n_nationkey AS band_id
    FROM lineitem
    JOIN (SELECT n_nationkey, n_nationkey * 4000.0 AS lo,
                 n_nationkey * 4000.0 + 6000.0 AS hi
          FROM nation) b
    ON l_extendedprice >= lo AND l_extendedprice <= hi
    """,
)
def q103(spark, sf_dir):
    """Interval-containment join (operators/asof.py::range_join):
    overlapping price bands matched by bucketize + equi-join + exact
    refine — never a theta join (plan sweep enforces no BNLJ)."""
    from .operators.asof import range_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    bands = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 4000.0).alias("lo"),
        (F.col("n_nationkey") * 4000.0 + 6000.0).alias("hi"),
    )
    out = range_join(li, bands, "l_extendedprice", "lo", "hi", bucket_width=4000.0)
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice", "band_id")


@query(
    "q104_interval_overlap",
    oracle="""
    WITH a AS (SELECT o_orderkey, o_totalprice AS alo,
                      o_totalprice + 5000.0 AS ahi
               FROM orders WHERE o_orderkey % 100 = 0),
    b AS (SELECT n_nationkey AS band_id, n_nationkey * 20000.0 AS blo,
                 n_nationkey * 20000.0 + 30000.0 AS bhi
          FROM nation)
    SELECT o_orderkey, band_id
    FROM a JOIN b ON alo <= bhi AND blo <= ahi
    """,
)
def q104(spark, sf_dir):
    """Interval-overlap join (operators/asof.py::interval_overlap_join):
    order price windows vs overlapping value bands — bucketized
    equi-join with canonical-bucket dedup, each pair exactly once, no
    theta join and no dropDuplicates shuffle."""
    from .operators.asof import interval_overlap_join

    a = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("alo"),
            (F.col("o_totalprice") + 5000.0).alias("ahi"),
        )
    )
    b = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 20000.0).alias("blo"),
        (F.col("n_nationkey") * 20000.0 + 30000.0).alias("bhi"),
    )
    out = interval_overlap_join(a, b, "alo", "ahi", "blo", "bhi", bucket_width=20000.0)
    return out.select("o_orderkey", "band_id")


@query("z105_approx_profile")
def q105(spark, sf_dir):
    """Sketch-based per-group profile (operators/stats.py::approx_stats):
    HyperLogLog++ distinct counts + KLL-style approximate quantiles —
    fixed-size mergeable state per partition, the interactive-profiling
    shape at 100 TB. Rows-only: sketch estimates are engine-specific;
    closeness to exact is pinned by tests/test_operators.py::
    test_approx_stats_close_to_exact."""
    from .operators.stats import approx_stats

    li = load(spark, sf_dir, "lineitem")
    return approx_stats(
        li,
        ["l_orderkey", "l_extendedprice"],
        group_by=["l_returnflag"],
        quantiles=[0.5, 0.9],
    ).orderBy("l_returnflag")


@query("z106_video_frames")
def q106(spark, sf_dir):
    """Real video-container frame sampling: each document id fabricates
    a RIFF/AVI clip executor-side (functions/media_codecs.py::
    encode_avi) cycling through the three real codecs — uncompressed
    DIB, Motion-JPEG (intra-only, each frame a standalone baseline
    JPEG), and MS Video 1 'CRAM' (INTER-frame: skip blocks copy from
    the previous frame) — ``sample_frames`` reads the TRUE frame count
    from the avih header (no frame bytes touched), and
    ``frame_features`` decodes the sampled frames through the
    per-stream codec (decode_avi_frame dispatches on the strh fourcc;
    random access for the intra codecs, sequential reconstruction for
    CRAM). Rows-only: binary payloads are not SQL-expressible;
    frame-exact ground truth is pinned by tests/test_multimodal.py::
    test_sample_frames_real_avi and the MJPEG/CRAM round-trip tests in
    tests/test_media_codecs.py."""
    import pandas as pd

    from .functions.media_codecs import encode_avi
    from .operators.multimodal import IMAGE_SCHEMA, frame_features, sample_frames

    ids = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id")).limit(60)

    def gen(batches):
        import numpy as np

        for b in batches:
            rows = []
            for mid in b["id"]:
                rng = np.random.RandomState(int(mid) % (2**31))
                n = 5 + int(mid) % 30
                frames = rng.randint(0, 256, size=(n, 8, 12, 3), dtype=np.uint8)
                codec = ["MJPG", "DIB ", "CRAM"][int(mid) % 3]
                rows.append(
                    {
                        "media_id": int(mid),
                        "data": encode_avi(frames, fps=10, codec=codec),
                        "meta": {"format": "avi", "width": 12, "height": 8, "channels": 3},
                    }
                )
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(gen, IMAGE_SCHEMA)
    sampled = sample_frames(media, every_n=5, max_frames=4)
    return frame_features(sampled).select(
        "media_id",
        "frame_index",
        F.round("mean_luma", 4).alias("mean_luma"),
        F.round("std_luma", 4).alias("std_luma"),
    )


@query(
    "q107_pivot",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q107(spark, sf_dir):
    """Pivot (wide crosstab) — natural Spark extension over the groupBy
    substrate, same family as rollup/cube (SURVEY.md §2.5 'not present'
    list). The pivot values are passed EXPLICITLY, which skips the
    distinct-scan Spark otherwise runs to discover them — at 100 TB the
    value list is catalog knowledge, not something to rediscover."""
    df = load(spark, sf_dir, "orders")
    return (
        df.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@query(
    "q108_rank_quartiles",
    oracle="""
    SELECT c_nationkey, c_custkey,
           ntile(4)      OVER w AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist()    OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def q108(spark, sf_dir):
    """Rank-family window functions (ntile / percent_rank / cume_dist)
    over per-nation account balances — the distribution-bucketing verbs
    of SURVEY.md §2.6's window tier. Tie-stable: the window orders by
    (acctbal, custkey) so ntile's positional split is deterministic.
    One shuffle on the partition key; per-partition sort feeds all
    three functions from the same window frame."""
    from pyspark.sql import Window

    df = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return df.select(
        "c_nationkey",
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q109_fuzzy_name_pairs",
    oracle="""
    WITH keys AS (
      SELECT c_name AS w,
             unnest(list_prepend(c_name, list_transform(range(1, length(c_name) + 1),
                    i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)))) AS k
      FROM customer),
    cand AS (
      SELECT DISTINCT a.w AS left_name, b.w AS right_name
      FROM keys a JOIN keys b ON a.k = b.k AND a.w < b.w)
    SELECT left_name, right_name,
           CAST(levenshtein(left_name, right_name) AS INT) AS dist
    FROM cand WHERE levenshtein(left_name, right_name) <= 1
    """,
)
def q109(spark, sf_dir):
    """Fuzzy string self-join (entity resolution / near-dup IDs) via
    deletion-neighborhood blocking — operators/dedup.py::fuzzy_pairs.
    Complete candidate recall at edit distance 1 with only a hash
    equi-join on linear-size keys (FastSS / SymSpell family), exact
    levenshtein refine on candidates only; the oracle replicates the
    same blocking in SQL, so the match verifies both the candidate
    generation and the refine."""
    from .operators.dedup import fuzzy_pairs

    df = load(spark, sf_dir, "customer")
    return fuzzy_pairs(df, "c_name").select(
        F.col("left").alias("left_name"),
        F.col("right").alias("right_name"),
        F.col("dist").cast("int").alias("dist"),
    )


@query(
    "q110_event_funnel",
    oracle="""
    WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t
             AND epoch(e.ts) - epoch(s1.t) <= 259200 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t
             AND epoch(e.ts) - epoch(s2.t) <= 259200 GROUP BY e.user_id)
    SELECT * FROM (
      SELECT 1 AS step_index, 'signup' AS step, (SELECT count(*) FROM s1) AS users
      UNION ALL
      SELECT 2, 'click', (SELECT count(*) FROM s2)
      UNION ALL
      SELECT 3, 'purchase', (SELECT count(*) FROM s3))
    """,
)
def q110(spark, sf_dir):
    """Ordered conversion funnel (signup -> click -> purchase, each
    within 3 days of the previous step) — operators/window.py::funnel.
    Each stage is one equi-join on the user key against the shrinking
    reached set plus a min aggregate; no full-stream window, exact
    integer-microsecond comparisons."""
    from .operators.window import funnel

    df = load(spark, sf_dir, "events")
    return funnel(
        df, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], within_seconds=259200,
    ).select("step_index", "step", "users")


@query(
    "q111_linear_classifier",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS term
                 FROM documents),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (SELECT term, ln((n.n_docs + 1.0) / (count(DISTINCT doc_id) + 1.0)) AS weight
          FROM tok CROSS JOIN n WHERE length(term) >= 5 GROUP BY term, n.n_docs),
    cnt AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
    hit AS (SELECT tok.doc_id, sum(w.weight) AS s
            FROM tok JOIN w USING (term) GROUP BY tok.doc_id)
    SELECT cnt.doc_id, cnt.n_tokens,
           ROUND(1.0 / (1.0 + exp(-(COALESCE(hit.s, 0.0) / GREATEST(cnt.n_tokens, 1)
                                    - 1.0))), 6) AS prob
    FROM cnt LEFT JOIN hit ON cnt.doc_id = hit.doc_id
    """,
)
def q111(spark, sf_dir):
    """Model-based quality scoring (fastText-style vocabulary linear
    classifier; operators/textstats.py::linear_score): the weight table
    here is derived on the fly (idf of terms >= 5 chars — rare-word
    density as a quality proxy), broadcast onto the exploded token
    stream; out-of-vocabulary tokens exercise the zero-contribution
    path. In production the weights come from a trained model file;
    the plan shape is identical."""
    from .operators.textstats import linear_score, tokens

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    weights = (
        tok.where(F.length("term") >= 5)
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))).alias(
                "weight"
            ),
        )
    )
    out = linear_score(docs, weights, bias=-1.0)
    return out.select("doc_id", "n_tokens", F.round("prob", 6).alias("prob"))


@query(
    "q66a_logreg_train",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS term
                 FROM documents),
    cnt AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
    base AS (SELECT d.doc_id, CAST(length(d.source) = 4 AS DOUBLE) AS y,
                    COALESCE(cnt.n_tokens, 0) AS n
             FROM documents d LEFT JOIN cnt USING (doc_id)),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    vocab AS (SELECT term FROM (SELECT term, count(DISTINCT doc_id) AS df
                                FROM tok GROUP BY term)
              ORDER BY df DESC, term ASC LIMIT 64),
    feats AS (SELECT tok.doc_id, tok.term, CAST(count(*) AS DOUBLE) AS c
              FROM tok JOIN vocab USING (term) GROUP BY tok.doc_id, tok.term),
    -- epoch 1 from zero weights: p = sigmoid(0) = 0.5 for every doc
    e1 AS (SELECT doc_id, 0.5 - y AS g, n FROM base),
    g1 AS (SELECT term, sum(e1.g * feats.c / GREATEST(e1.n, 1)) AS g
           FROM feats JOIN e1 USING (doc_id) GROUP BY term),
    w1 AS (SELECT v.term, -COALESCE(g1.g, 0.0) / nd.n_docs AS w
           FROM vocab v LEFT JOIN g1 USING (term) CROSS JOIN nd),
    b1 AS (SELECT -sum(g) / (SELECT n_docs FROM nd) AS b FROM e1),
    -- epoch 2
    s2 AS (SELECT feats.doc_id, sum(w1.w * feats.c) AS s
           FROM feats JOIN w1 USING (term) GROUP BY feats.doc_id),
    e2 AS (SELECT base.doc_id,
                  1.0 / (1.0 + exp(-(COALESCE(s2.s, 0.0) / GREATEST(base.n, 1)
                                     + (SELECT b FROM b1)))) - base.y AS g,
                  base.n
           FROM base LEFT JOIN s2 USING (doc_id)),
    g2 AS (SELECT term, sum(e2.g * feats.c / GREATEST(e2.n, 1)) AS g
           FROM feats JOIN e2 USING (doc_id) GROUP BY term),
    w2 AS (SELECT w1.term, w1.w - COALESCE(g2.g, 0.0) / nd.n_docs AS w
           FROM w1 LEFT JOIN g2 USING (term) CROSS JOIN nd),
    b2 AS (SELECT (SELECT b FROM b1) - sum(g) / (SELECT n_docs FROM nd) AS b
           FROM e2),
    sf AS (SELECT feats.doc_id, sum(w2.w * feats.c) AS s
           FROM feats JOIN w2 USING (term) GROUP BY feats.doc_id)
    SELECT base.doc_id, base.n AS n_tokens,
           ROUND(1.0 / (1.0 + exp(-(COALESCE(sf.s, 0.0) / GREATEST(base.n, 1)
                                    + (SELECT b FROM b2)))), 6) AS prob
    FROM base LEFT JOIN sf USING (doc_id)
    """,
)
def q66a(spark, sf_dir):
    """Distributed logistic-regression TRAINING + scoring
    (operators/textstats.py::logreg_train): fits the Wiki-vs-crawl-style
    quality model ON-CLUSTER — labels derived deterministically from the
    source column, top-64-df vocabulary, 2 full-batch GD epochs from
    zero init (no RNG anywhere), each epoch two aggregate passes with
    the current weights folded in as a broadcast literal map — then
    scores every document with the trained weights through
    linear_score's contract. The oracle replays the SAME unrolled
    gradient descent in SQL; pytest additionally pins the fit to a
    numpy reference. Completes the q111 story: that query scores with
    derived weights, this one TRAINS them."""
    from .operators.textstats import linear_score, logreg_train

    docs = load(spark, sf_dir, "documents").withColumn(
        "label", (F.length("source") == 4).cast("double")
    )
    w, b = logreg_train(docs, vocab_size=64, epochs=2, lr=1.0)
    weights = spark.createDataFrame(
        sorted(w.items()), ["term", "weight"]
    )
    out = linear_score(docs, weights, bias=b)
    return out.select("doc_id", "n_tokens", F.round("prob", 6).alias("prob"))


@query(
    "q112_chunk_documents",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      FROM documents),
    meta AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) <= 64 THEN 1
                  ELSE CAST(ceil((len(t) - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
      FROM tok WHERE len(t) > 0)
    SELECT doc_id, CAST(k AS INT) AS chunk_index,
           array_to_string(t[k*48 + 1 : k*48 + 64], ' ') AS chunk,
           CAST(least(64, n - k*48) AS INT) AS chunk_tokens
    FROM meta, unnest(range(0, n_chunks)) AS u(k)
    """,
)
def q112(spark, sf_dir):
    """Sliding-window token chunking (64-token windows, 16 overlap) —
    operators/corpus.py::chunk_text, the context-window shaping step
    for embedding / RAG / pretraining pipelines. Pure per-row JVM
    expressions: tokenize once, posexplode the start offsets, slice +
    join per chunk; no shuffle anywhere."""
    from .operators.corpus import chunk_text

    docs = load(spark, sf_dir, "documents")
    return chunk_text(docs, chunk_tokens=64, overlap=16)


def _q113_oracle() -> str:
    from .operators.layout import zorder_sql

    z = zorder_sql({"l_quantity": (0.0, 51.0), "l_extendedprice": (900.0, 105000.0)}, bits=12)
    return f"""
    SELECT l_orderkey, l_linenumber, {z} AS zval,
           CAST({z} >> 18 AS INT) AS zbucket
    FROM lineitem
    """


@query("q113_zorder_layout", oracle=_q113_oracle())
def q113(spark, sf_dir):
    """Z-order (Morton) clustering values — operators/layout.py, the
    data-layout lever behind Delta OPTIMIZE ZORDER: interleaving the
    rank bits of (quantity, price) makes parquet row-group min/max
    stats tight on BOTH columns at once, so scans filtering either one
    prune most row groups after ``write_zordered``'s range-repartition.
    Pure codegen'd integer expression (no shuffle, no UDF); the oracle
    runs the same arithmetic via layout.zorder_sql — one generator
    emits both sides. zbucket (top 6 bits) is the contiguous Morton
    range a file would own."""
    from .operators.layout import zorder_layout

    df = load(spark, sf_dir, "lineitem")
    bounds = {"l_quantity": (0.0, 51.0), "l_extendedprice": (900.0, 105000.0)}
    return (
        zorder_layout(df, bounds, bits=12)
        .select(
            "l_orderkey",
            "l_linenumber",
            "zval",
            F.shiftright("zval", 18).cast("int").alias("zbucket"),
        )
    )


@query(
    "q114_correlation_matrix",
    oracle="""
    WITH c AS (SELECT corr(l_quantity, l_extendedprice) AS qty_price,
                      corr(l_quantity, l_discount) AS qty_disc,
                      corr(l_quantity, l_tax) AS qty_tax,
                      corr(l_extendedprice, l_discount) AS price_disc,
                      corr(l_extendedprice, l_tax) AS price_tax,
                      corr(l_discount, l_tax) AS disc_tax
               FROM lineitem)
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, ROUND(qty_price, 6) AS corr FROM c
    UNION ALL SELECT 'l_quantity', 'l_discount', ROUND(qty_disc, 6) FROM c
    UNION ALL SELECT 'l_quantity', 'l_tax', ROUND(qty_tax, 6) FROM c
    UNION ALL SELECT 'l_extendedprice', 'l_discount', ROUND(price_disc, 6) FROM c
    UNION ALL SELECT 'l_extendedprice', 'l_tax', ROUND(price_tax, 6) FROM c
    UNION ALL SELECT 'l_discount', 'l_tax', ROUND(disc_tax, 6) FROM c
    """,
)
def q114(spark, sf_dir):
    """Pairwise correlation matrix over the numeric measures — ONE
    aggregate pass computes all six Pearson coefficients (each corr is
    a mergeable moment sketch, so the scan reads the table once and the
    shuffle carries six fixed-size states), then an unpivot lays the
    matrix out long-form."""
    df = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    agg = df.agg(
        *[F.round(F.corr(a, b), 6).alias(f"c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack = ", ".join(f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs))
    return agg.select(
        F.expr(f"stack({len(pairs)}, {stack}) AS (col_a, col_b, corr)")
    )


@query(
    "q115_grouped_regression",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q115(spark, sf_dir):
    """Per-group OLS trend fit (ANSI regr_slope / regr_intercept /
    regr_r2 — identical definitions in Spark and DuckDB): one hash
    aggregate whose state is the fixed-size co-moment tuple, so a
    million groups cost the same shuffle as a count."""
    df = load(spark, sf_dir, "lineitem")
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
    )


@query(
    "q116_dup_span_removal",
    oracle=r"""
    WITH tokl AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
      FROM documents),
    grams AS (
      SELECT doc_id, CAST(k AS BIGINT) AS wpos,
             array_to_string(ts[k + 1 : k + 20], ' ') AS gram
      FROM tokl, unnest(range(0, greatest(len(ts) - 19, 0))) AS u(k)),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    covered AS (
      SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
      FROM grams JOIN dup USING (gram), unnest(range(wpos, wpos + 20)) AS v(p)),
    tok AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pos, ts[p + 1] AS tok
      FROM tokl, unnest(range(0, len(ts))) AS u(p)),
    kept AS (
      SELECT tok.doc_id, tok.pos, tok.tok FROM tok
      ANTI JOIN covered ON tok.doc_id = covered.doc_id AND tok.pos = covered.pos),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS kept_text,
             CAST(count(*) AS BIGINT) AS n_tokens_after
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id, COALESCE(r.kept_text, '') AS kept_text,
           CAST(t.n AS BIGINT) AS n_tokens_before,
           COALESCE(r.n_tokens_after, 0) AS n_tokens_after
    FROM (SELECT doc_id, len(ts) AS n FROM tokl WHERE len(ts) > 0) t
    LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q116(spark, sf_dir):
    """Exact duplicate-span removal (operators/corpus.py::
    remove_duplicate_spans) — the distributed form of the suffix-array
    substring dedup of Lee et al., ACL 2022: every 20-token window
    occurring 2+ times corpus-wide is cut from every document and the
    survivors are rejoined in order. The only corpus-wide shuffle
    groups on the window key: 8-byte xxhash64 rolling keys instead of
    ~120-byte span strings — exact modulo 2^-64 collisions, the same
    key class q86/q132 ship (measured 2x on the 30M-row fixture and ~7%
    at sf0.1 against string keys). Per-doc reconstruction is
    order-restored by array_sort, not collect order."""
    from .operators.corpus import remove_duplicate_spans

    docs = load(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, window=20, min_count=2)


@query(
    "q117_scd2_merge",
    oracle="""
    WITH dim AS (SELECT c_custkey, c_mktsegment AS segment,
                        TIMESTAMP '2023-01-01 00:00:00' AS valid_from,
                        CAST(NULL AS TIMESTAMP) AS valid_to FROM customer),
    upd AS (SELECT o_custkey AS c_custkey, o_orderdate AS ts,
                   'SEG-' || substr(o_orderpriority, 1, 1) AS segment
            FROM orders WHERE o_orderkey % 17 = 0),
    latest AS (SELECT c_custkey, ts, segment FROM (
        SELECT c_custkey, ts, segment,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY ts DESC, segment DESC) AS rn
        FROM upd) WHERE rn = 1),
    j AS (SELECT d.c_custkey AS dk, d.segment AS dseg, d.valid_from,
                 l.c_custkey AS uk, l.ts, l.segment AS useg
          FROM dim d FULL OUTER JOIN latest l ON d.c_custkey = l.c_custkey)
    SELECT dk AS c_custkey, dseg AS segment, valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to
      FROM j WHERE dk IS NOT NULL AND (uk IS NULL OR dseg = useg)
    UNION ALL
    SELECT dk, dseg, valid_from, ts
      FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
    UNION ALL
    SELECT COALESCE(dk, uk), useg, ts, CAST(NULL AS TIMESTAMP)
      FROM j WHERE uk IS NOT NULL AND (dk IS NULL OR dseg <> useg)
    """,
)
def q117(spark, sf_dir):
    """SCD type-2 merge (operators/scd.py::scd2_apply) — the
    history-keeping upsert a warehouse MERGE INTO performs, as a pure
    DataFrame transformation: changed keys close their open row and
    start a new one at the update timestamp, unchanged/unmatched rows
    pass through. One latest-per-key window over the update batch plus
    one full-outer equi-join on the dimension key."""
    from .operators.scd import scd2_apply

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2023-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = orders.where(F.col("o_orderkey") % 17 == 0).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderdate").alias("ts"),
        F.concat(F.lit("SEG-"), F.substring("o_orderpriority", 1, 1)).alias("segment"),
    )
    return scd2_apply(dim, updates, "c_custkey", ["segment"], ts_col="ts")


@query("z118_pagerank")
def q118(spark, sf_dir):
    """PageRank over the order->part bipartite projection (operators/
    graph.py::pagerank) — the domain-authority weighting step of a
    web-corpus curation recipe, run here on the orders graph: nodes
    are order/part buckets, edges the lineitem incidences. Rows-only:
    iterative float fixpoint (25+ relational rounds) is not a single
    SQL expression; exactness vs dense numpy power iteration is pinned
    by tests/test_operators.py::test_pagerank_vs_dense_power_iteration.
    5 rounds here (display convergence, not fixpoint — the operator
    takes iterations/cut_every for real runs); top-50 by (rank, node)."""
    from .operators.graph import pagerank

    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.pmod(F.col("l_orderkey"), F.lit(500))).alias("src"),
        (F.pmod(F.col("l_partkey"), F.lit(500)) + 1000).alias("dst"),
    )
    pr = pagerank(edges, iterations=5, cut_every=10)
    return (
        pr.select("node", F.round("rank", 8).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(50)
    )


# =====================================================================
# round 6 additions: graph census, association profiling, time-series
# resampling, skyline, Markov transitions
# =====================================================================

@query(
    "q119_triangle_census",
    oracle="""
    WITH e AS (
      SELECT DISTINCT least(l_orderkey % 20000, l_partkey % 20000) AS a,
                      greatest(l_orderkey % 20000, l_partkey % 20000) AS b
      FROM lineitem WHERE l_orderkey % 20000 <> l_partkey % 20000),
    deg AS (SELECT node, count(*) AS deg
            FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
            GROUP BY node),
    tri AS (SELECT count(*) AS n_triangles
            FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles,
           ROUND(3.0 * (SELECT n_triangles FROM tri)
                 / (SELECT sum(deg * (deg - 1) // 2) FROM deg), 6) AS global_clustering
    """,
)
def q119(spark, sf_dir):
    """Triangle / wedge census (operators/graph.py::triangle_count) —
    degree-ordered triangle counting (Suri & Vassilvitskii, WWW 2011):
    edges oriented low-degree -> high-degree bound every node's wedge
    fan-out by O(sqrt(m)), so the count survives power-law hubs that
    explode the naive wedge join. Three equi-join shuffles total."""
    from .operators.graph import triangle_count

    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.pmod(F.col("l_orderkey"), F.lit(20000)).alias("src"),
        F.pmod(F.col("l_partkey"), F.lit(20000)).alias("dst"),
    )
    return triangle_count(edges)


@query(
    "q120_mutual_information",
    oracle="""
    WITH joint AS (
      SELECT coalesce(o_orderstatus, chr(0) || 'null') AS a,
             coalesce(o_orderpriority, chr(0) || 'null') AS b,
             CAST(count(*) AS BIGINT) AS nab
      FROM orders GROUP BY 1, 2),
    ma AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM joint GROUP BY a),
    mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM joint GROUP BY b),
    tot AS (SELECT CAST(sum(nab) AS BIGINT) AS n FROM joint),
    cells AS (
      SELECT joint.*, na, nb, n
      FROM joint JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot),
    terms AS (
      SELECT n,
        (nab / CAST(n AS DOUBLE))
          * log2(nab / CAST(n AS DOUBLE) * n * n / (na * CAST(nb AS DOUBLE))) AS mi_term,
        -(nab / CAST(n AS DOUBLE)) * log2(nab / CAST(n AS DOUBLE)) AS h_term,
        (nab - na * nb / CAST(n AS DOUBLE)) * (nab - na * nb / CAST(n AS DOUBLE))
          / (na * nb / CAST(n AS DOUBLE)) AS chi_term,
        na * nb / CAST(n AS DOUBLE) AS exp_obs
      FROM cells),
    cards AS (
      SELECT CAST(count(DISTINCT a) AS BIGINT) AS card_a,
             CAST(count(DISTINCT b) AS BIGINT) AS card_b FROM joint)
    SELECT n, card_a, card_b,
           (card_a - 1) * (card_b - 1) AS dof,
           ROUND(sum(mi_term), 6) AS mi_bits,
           ROUND(sum(h_term), 6) AS h_joint_bits,
           ROUND(sum(chi_term) + any_value(n) - sum(exp_obs), 4) AS chi2
    FROM terms CROSS JOIN cards
    GROUP BY n, card_a, card_b
    """,
)
def q120(spark, sf_dir):
    """Mutual information / joint entropy / chi-square between order
    status and priority (operators/profile.py::association_stats) —
    one hash aggregate builds the contingency table; all information
    math runs on that |X| x |Y| frame with broadcast marginals, so the
    cost at 100 TB is the single groupBy scan."""
    from .operators.profile import association_stats

    orders = load(spark, sf_dir, "orders")
    return association_stats(orders, "o_orderstatus", "o_orderpriority")


@query(
    "q121_resample_interpolate",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s, value
      FROM events),
    got AS (
      SELECT event_type, (s // 21600) * 21600 AS b,
             CAST(count(*) AS BIGINT) AS n, ROUND(avg(value), 6) AS v
      FROM ev GROUP BY 1, 2),
    span AS (SELECT event_type, min(s) AS lo, max(s) AS hi FROM ev GROUP BY 1),
    grid AS (
      SELECT event_type, CAST(g AS BIGINT) AS b
      FROM span, unnest(range((lo // 21600) * 21600,
                              (hi // 21600) * 21600 + 1, 21600)) AS u(g)),
    j AS (
      SELECT grid.event_type, grid.b, COALESCE(got.n, 0) AS n, got.v
      FROM grid LEFT JOIN got
        ON grid.event_type = got.event_type AND grid.b = got.b),
    interp AS (
      SELECT event_type, b, n, v,
        last_value(v IGNORE NULLS) OVER w_f AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER w_f AS pt,
        first_value(v IGNORE NULLS) OVER w_b AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER w_b AS nt
      FROM j
      WINDOW
        w_f AS (PARTITION BY event_type ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_b AS (PARTITION BY event_type ORDER BY b
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, make_timestamp(b * 1000000) AS bucket, n, v,
      ROUND(CASE WHEN v IS NOT NULL THEN v
                 WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                   CASE WHEN nt = pt THEN pv
                        ELSE pv + (nv - pv)
                             * ((CAST(b AS DOUBLE) - pt) / (nt - pt)) END
            END, 6) AS v_filled
    FROM interp
    """,
)
def q121(spark, sf_dir):
    """Resample the event stream to a dense 6-hour grid per event type
    and linearly interpolate the gaps (operators/timeseries.py) — the
    pandas resample/interpolate pair as one aggregate + per-key window
    passes; the dense grid is keys x span/interval rows, independent
    of event count."""
    from .operators.timeseries import interpolate_linear, resample

    ev = load(spark, sf_dir, "events")
    r = resample(
        ev,
        "ts",
        21600,
        keys=["event_type"],
        aggs={
            "n": F.count(F.lit(1)),
            "v": F.round(F.avg("value"), 6),
        },
    )
    r = r.withColumn("n", F.coalesce(F.col("n"), F.lit(0)).cast("bigint"))
    out = interpolate_linear(
        r, "v", ts_col="bucket", keys=["event_type"], out_col="v_filled"
    )
    return out.select(
        "event_type", "bucket", "n", "v", F.round("v_filled", 6).alias("v_filled")
    )


@query(
    "q122_skyline",
    oracle="""
    WITH pts AS (
      SELECT o_orderkey, o_totalprice,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_s
      FROM orders WHERE o_orderkey % 4 = 0)
    SELECT p.o_orderkey, p.o_totalprice, p.od_s FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.o_totalprice >= p.o_totalprice AND q.od_s <= p.od_s
        AND (q.o_totalprice > p.o_totalprice OR q.od_s < p.od_s))
    """,
)
def q122(spark, sf_dir):
    """Skyline / Pareto front (operators/skyline.py) — the earliest
    high-value orders no other order beats on both (price: max,
    date: min). Two-phase distributed skyline: exact numpy dominance
    sweep per partition, then one bounded global refine over the union
    of local skylines — raw rows never funnel to one task."""
    from .operators.skyline import skyline

    orders = load(spark, sf_dir, "orders")
    pts = orders.where(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        "o_totalprice",
        F.unix_timestamp("o_orderdate").alias("od_s"),
    )
    return skyline(pts, {"o_totalprice": "max", "od_s": "min"})


@query(
    "q123_entropy_profile",
    oracle="""
    WITH pairs AS (
      SELECT 'lang' AS col_name, coalesce(lang, chr(0) || 'null') AS v
      FROM documents
      UNION ALL
      SELECT 'source', coalesce(source, chr(0) || 'null') FROM documents),
    h AS (SELECT col_name, v, CAST(count(*) AS BIGINT) AS cnt
          FROM pairs GROUP BY 1, 2),
    tot AS (SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1)
    SELECT h.col_name AS "column", n,
      CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
      CAST(sum(CASE WHEN v = chr(0) || 'null' THEN cnt ELSE 0 END) AS BIGINT)
        AS n_null,
      ROUND(sum(-(cnt / CAST(n AS DOUBLE)) * log2(cnt / CAST(n AS DOUBLE))), 6)
        AS entropy_bits,
      ROUND(max(cnt / CAST(n AS DOUBLE)), 6) AS top_share
    FROM h JOIN tot USING (col_name)
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def q123(spark, sf_dir):
    """Per-column entropy/distinct/null/top-share profile over the
    document corpus (operators/profile.py::entropy_profile) — ONE scan
    explodes (column, value) pairs into a single hash aggregate; the
    entropy math runs on the value histograms (rows = sum of column
    cardinalities)."""
    from .operators.profile import entropy_profile

    docs = load(spark, sf_dir, "documents")
    return entropy_profile(docs, ["lang", "source"])


@query(
    "q124_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS state,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_state
      FROM events),
    pairs AS (
      SELECT state, next_state, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_state IS NOT NULL GROUP BY 1, 2),
    marg AS (SELECT state, CAST(sum(n) AS BIGINT) AS rn FROM pairs GROUP BY 1)
    SELECT pr.state, pr.next_state, pr.n,
           ROUND(pr.n / CAST(rn AS DOUBLE), 6) AS p
    FROM pairs pr JOIN marg USING (state)
    """,
)
def q124(spark, sf_dir):
    """First-order Markov transition matrix of per-user event
    sequences (operators/window.py::transition_matrix) — one lead
    window over the (user, ts) timeline (the sessionize shuffle) plus
    a pair-count aggregate; probabilities normalize on the |S|^2
    matrix, never on raw events."""
    from .operators.window import transition_matrix

    ev = load(spark, sf_dir, "events")
    return transition_matrix(ev, "user_id", "ts", "event_type", tiebreak="event_id")


@query("z125_ewma")
def q125(spark, sf_dir):
    """Per-type exponentially weighted moving average of the event
    value stream (operators/timeseries.py::ewma) — the smoothing pass
    dashboards and anomaly scores run after resampling. Rows-only: the
    EWMA recurrence y_t = a*x_t + (1-a)*y_{t-1} is sequential per
    series (SQL needs a recursive CTE); exactness is pinned by
    tests/test_operators.py::test_ewma_vs_recurrence. Scale shape:
    applyInPandas per series key — the keyspace distributes, each
    series streams through one worker."""
    from .operators.timeseries import ewma

    ev = load(spark, sf_dir, "events")
    out = ewma(
        ev.select("event_type", "ts", "event_id", "value"),
        "value",
        "ts",
        ["event_type"],
        alpha=0.2,
        tiebreak=["event_id"],
    )
    return out.select("event_type", "event_id", F.round("ewma", 6).alias("ewma"))


@query(
    "q126_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT o_orderkey, o_totalprice,
             ln((((o_orderkey * 2654435761) % 4294967296) + 0.5)
                / 4294967296.0) / o_totalprice AS sample_score
      FROM orders WHERE o_totalprice > 0),
    top AS (
      -- order by the RAW score (the engine-side top-k does), not the
      -- rounded output alias, or boundary ties resolve differently
      SELECT * FROM w ORDER BY sample_score DESC, o_orderkey LIMIT 500)
    SELECT o_orderkey, o_totalprice,
           ROUND(sample_score, 9) + 0.0 AS sample_score  -- kill -0.0
    FROM top
    """,
)
def q126(spark, sf_dir):
    """Weighted sampling without replacement (operators/sampling.py::
    weighted_sample) — Efraimidis-Spirakis A-ES keys over
    value-weighted orders, uniforms derived from the Knuth
    multiplicative hash so the draw is deterministic across engines
    and partitionings. Global top-k plans as per-partition heads +
    driver merge (TakeOrderedAndProject), never a full sort."""
    from .operators.sampling import weighted_sample

    orders = load(spark, sf_dir, "orders")
    out = weighted_sample(orders, "o_orderkey", "o_totalprice", k=500)
    return out.select(
        "o_orderkey",
        "o_totalprice",
        (F.round("sample_score", 9) + F.lit(0.0)).alias("sample_score"),
    )


@query(
    "q127_rolling_zscore",
    oracle="""
    WITH scored AS (
      SELECT event_id, event_type, value,
        avg(value) OVER w AS m,
        stddev_samp(value) OVER w AS sd,
        count(value) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_id, event_type, value,
      ROUND(CASE WHEN c >= 5 AND sd > 0 THEN (value - m) / sd END, 5) AS zscore
    FROM scored
    """,
)
def q127(spark, sf_dir):
    """Rolling z-score anomaly signal per event type (operators/
    timeseries.py::rolling_zscore) — each value scored against the
    mean/stddev of its trailing 20 events; one row-bounded window pass
    over the per-key timeline, O(1) mergeable moment state per row."""
    from .operators.timeseries import rolling_zscore

    ev = load(spark, sf_dir, "events")
    out = rolling_zscore(
        ev, "value", "ts", ["event_type"], n_rows=20, min_obs=5,
        tiebreak=["event_id"],
    )
    return out.select(
        "event_id", "event_type", "value", F.round("zscore", 5).alias("zscore")
    )


@query(
    "q128_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    """,
)
def q128(spark, sf_dir):
    """Wide-to-long melt/unpivot (EzTable.melt, the inverse of q107's
    pivot — pandas melt parity): three measure columns become
    (measure, value) pairs per line item. Catalyst plans the unpivot
    as one Expand node — a narrow 3x row multiplication, zero
    shuffle."""
    t = ez(spark, sf_dir, "lineitem")
    return t.get("l_orderkey l_linenumber l_quantity l_extendedprice l_discount").melt(
        ["l_orderkey", "l_linenumber"], var_name="measure", value_name="value"
    ).df


@query(
    "q129_knn_cone",
    oracle=f"""
    WITH csky AS (SELECT c_custkey, {_PSEUDO_SKY} FROM customer),
         ssky AS (SELECT s_suppkey, (s_suppkey * 53) % 360 AS sra,
                         (s_suppkey % 167) - 83 AS sdec FROM supplier),
    pairs AS (
      SELECT c_custkey, s_suppkey,
             ROUND({_sphdist_sql('ra', 'dec', 'sra', 'sdec')}, 6) AS separation
      FROM csky CROSS JOIN ssky
      WHERE {_sphdist_sql('ra', 'dec', 'sra', 'sdec')} <= 8.0),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY separation, s_suppkey) AS knn_rank
      FROM pairs)
    SELECT c_custkey, s_suppkey, separation, knn_rank
    FROM ranked WHERE knn_rank <= 3
    """,
)
def q129(spark, sf_dir):
    """Bounded-radius k-nearest-neighbour spatial join (functions/
    astro.py::knn_cone) — the catalog cross-identification verb: each
    customer 'star' keeps its 3 closest supplier 'sources' within an
    8-degree cone. Candidates come from the dec-zone bucketed
    crossmatch (equi-join, never all-pairs); ranking is one window per
    left id over the ROUNDED separation (cross-engine-stable) with the
    right id as tiebreak."""
    from .functions.astro import knn_cone

    c = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "(c_custkey * 37) % 360 AS ra", "(c_custkey % 173) - 86 AS dec"
    )
    s = load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", "(s_suppkey * 53) % 360 AS sra", "(s_suppkey % 167) - 83 AS sdec"
    )
    out = knn_cone(
        c, s, k=3, radius_deg=8.0, id_left="c_custkey",
        ra_l="ra", dec_l="dec", ra_r="sra", dec_r="sdec", tiebreak="s_suppkey",
    )
    return out.select("c_custkey", "s_suppkey", "separation", "knn_rank")


@query(
    "q130_cohort_retention",
    oracle="""
    WITH act AS (SELECT DISTINCT o_custkey AS u,
                        date_trunc('month', o_orderdate) AS m FROM orders),
    coh AS (SELECT u, min(m) AS cohort FROM act GROUP BY u),
    j AS (SELECT cohort, datediff('month', cohort, m) AS months_since, act.u
          FROM act JOIN coh USING (u)),
    counts AS (SELECT cohort, CAST(months_since AS BIGINT) AS months_since,
                      CAST(count(DISTINCT u) AS BIGINT) AS active
               FROM j GROUP BY 1, 2),
    sizes AS (SELECT cohort, active AS cohort_size FROM counts
              WHERE months_since = 0)
    SELECT counts.cohort, months_since, active, cohort_size,
           ROUND(active / CAST(cohort_size AS DOUBLE), 6) AS retention
    FROM counts JOIN sizes USING (cohort)
    """,
)
def q130(spark, sf_dir):
    """Cohort retention matrix (operators/window.py::cohort_retention)
    — customers cohorted by first-order month, each cell the share of
    the cohort active n months later. All shuffles keyed on user or
    cohort; cohort sizes broadcast from the months_since=0 cells."""
    from .operators.window import cohort_retention

    orders = load(spark, sf_dir, "orders")
    return cohort_retention(orders, "o_custkey", "o_orderdate")


@query(
    "q131_pareto_contribution",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT SUM(revenue) AS total FROM rev),
    c AS (
      SELECT o_custkey, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey) AS cum
      FROM rev)
    SELECT o_custkey, CAST(revenue AS DOUBLE) AS revenue,
           ROUND(CAST(revenue AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
           ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
           (CAST(cum - revenue AS DOUBLE) / CAST(total AS DOUBLE)) < 0.8
             AS vital_few
    FROM c CROSS JOIN tot
    """,
)
def q131(spark, sf_dir):
    """Pareto / contribution analysis — revenue share, cumulative
    share in descending-revenue order, and the 80/20 'vital few' flag.
    The cumulative sum is the DISTRIBUTED prefix-sum
    (operators/window.py::global_cumsum): range repartition + local
    running window + literal offset map — no Exchange SinglePartition
    (the oracle's global window is exactly the plan this op avoids).
    Arithmetic runs in DECIMAL so the offset association is exact and
    cross-engine-stable; shares divide as doubles at the end. The grand
    total rides out of the prefix-sum's own per-partition-totals collect
    (``total_name``, r14) — the previous separate ``rev.agg(sum)`` +
    crossJoin re-scanned and re-aggregated the orders table once per
    run for one scalar the prefix-sum had already computed."""
    from .operators.window import global_cumsum

    orders = load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    c = global_cumsum(
        rev, "revenue", [F.col("revenue").desc(), F.col("o_custkey")], name="cum",
        total_name="total",
    )
    return c.select(
        "o_custkey",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(F.col("revenue").cast("double") / F.col("total").cast("double"), 6).alias("share"),
        F.round(F.col("cum").cast("double") / F.col("total").cast("double"), 6).alias("cum_share"),
        (
            (F.col("cum") - F.col("revenue")).cast("double")
            / F.col("total").cast("double")
            < 0.8
        ).alias("vital_few"),
    )


@query(
    "q132_trigram_similarity",
    oracle="""
    WITH g AS (
      SELECT DISTINCT doc_id AS id, gg AS g
      FROM documents,
           unnest(list_transform(range(1, greatest(length(lower(text)) - 2, 0) + 1),
                                 i -> substr(lower(text), CAST(i AS INTEGER), 3))) AS u(gg)),
    sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS ng FROM g GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM g a JOIN g b ON a.g = b.g AND a.id < b.id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_inter,
           sa.ng AS n_a, sb.ng AS n_b,
           ROUND(n_inter / CAST(sa.ng + sb.ng - n_inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE ROUND(n_inter / CAST(sa.ng + sb.ng - n_inter AS DOUBLE), 6) >= 0.8
    """,
)
def q132(spark, sf_dir):
    """Exact trigram-Jaccard similarity self-join (operators/dedup.py::
    trigram_similarity_pairs) — pg_trgm-style fuzzy document matching
    at scale via PREFIX FILTERING (AllPairs, Bayardo et al. WWW'07):
    the candidate equi-join runs only on each doc's |G|-ceil(t|G|)+1
    rarest grams under a global gram order, so frequent grams never
    explode the join; the oracle is the brute-force all-pairs form the
    prefix filter provably equals."""
    from .operators.dedup import trigram_similarity_pairs

    docs = load(spark, sf_dir, "documents")
    # max_gram_df=None pins the EXACT mode the brute-force oracle
    # checks (the default 'auto' profiles the corpus and resolves to
    # None here anyway — char-trigram df is flat — but an oracle query
    # must not let the data decide its own semantics). Grams are
    # xxhash64 ids, and char trigrams' bounded vocabulary broadcasts the
    # gram document-frequency table (see trigram_similarity_pairs).
    return trigram_similarity_pairs(docs, threshold=0.8, max_gram_df=None)


@query("z133_audio_metadata")
def q133(spark, sf_dir):
    """Header-only audio corpus profiling (operators/multimodal.py::
    audio_metadata): duration / sample rate / bitrate / VBR flag from
    container headers alone — MPEG frame-header walk (incl. ID3v2 skip
    and Xing/VBRI tags), RIFF/WAVE fmt chunk, FLAC STREAMINFO — with
    zero PCM decode, the scan a 100 TB audio lake runs before deciding
    what to transcode. Payloads are genuine file bytes fabricated
    executor-side (real WAV/FLAC encoders; MPEG streams are valid
    zero-payload CBR frames — the metadata path never reads payload
    bits). Rows-only: binary parsing is not SQL-expressible;
    ground truth is pinned by tests/test_audio_meta.py incl. a
    real-world MPEG-2 Layer III fixture."""
    import struct

    import pandas as pd

    from .functions.flac_codec import encode_flac
    from .functions.media_codecs import encode_wav
    from .operators.multimodal import audio_metadata

    # ordered limit: a bare limit() takes whatever rows arrive first,
    # making the fixture (hence the output) partition-layout-dependent
    ids = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    ).orderBy("id").limit(150)

    def gen(batches):
        import numpy as np

        brs = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

        def mpeg_frames(rng, n_frames):
            out = []
            for i in range(n_frames):
                br_idx = int(rng.randint(1, 15))
                kbps, rate_idx = brs[br_idx - 1], int(rng.randint(0, 3))
                rate = (44100, 48000, 32000)[rate_idx]
                pad = int(rng.randint(0, 2))
                h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
                h |= (br_idx << 12) | (rate_idx << 10) | (pad << 9)
                # one sample-rate per stream: pin rate_idx after frame 0
                if i == 0:
                    first_rate_idx = rate_idx
                else:
                    h = (h & ~(3 << 10)) | (first_rate_idx << 10)
                    rate = (44100, 48000, 32000)[first_rate_idx]
                n = 144 * kbps * 1000 // rate + pad
                out.append(struct.pack(">I", h) + b"\x00" * (n - 4))
            return b"".join(out)

        for b in batches:
            rows = []
            for mid in b["id"]:
                rng = np.random.RandomState(int(mid) % (2**31))
                sr = int((8000, 16000, 22050)[int(mid) % 3])
                n = int(rng.randint(sr // 4, sr))
                wav = (np.sin(np.linspace(0, 300.0, n)) * 2**13).astype("int16")
                rows.append({"media_id": int(mid), "data": encode_wav(wav, sr)})
                rows.append({"media_id": int(mid) + 2_000_000,
                             "data": encode_flac(wav, sample_rate=sr)})
                rows.append({"media_id": int(mid) + 4_000_000,
                             "data": mpeg_frames(rng, int(rng.randint(3, 12)))})
                if int(mid) % 17 == 0:
                    rows.append({"media_id": int(mid) + 6_000_000,
                                 "data": b"not an audio payload"})
            yield pd.DataFrame(rows)

    media = ids.repartition(8).mapInPandas(gen, "media_id long, data binary")
    return (
        audio_metadata(media)
        .groupBy("container", "meta_status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("duration_s"), 4).alias("avg_duration_s"),
            F.round(F.avg("bitrate_kbps"), 2).alias("avg_kbps"),
            F.sum(F.when(F.col("vbr"), 1).otherwise(0)).alias("n_vbr"),
        )
        .orderBy("container", "meta_status")
    )


@query(
    "q50a_knn_join",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS doc_id, b.vec_id AS vec_id,
             ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM e a CROSS JOIN e b),
    ranked AS (
      SELECT doc_id, vec_id, cosine,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT doc_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q134(spark, sf_dir):
    """Embedding k-NN self-join (operators/similarity.py::knn_join) —
    every document's 5 nearest neighbours over the whole corpus, both
    sides large: the IVF cell equi-join + cogrouped BLAS scoring path,
    never a cross join. Probing ALL cells makes the join exact (each
    corpus row lives in exactly one cell), which is what the oracle's
    brute-force all-pairs form checks; production sets nprobe <<
    n_cells for the approximate fast path whose recall is pinned by
    tests/test_operators.py::test_knn_join_recall_vs_exact. Ranking
    uses round_ndigits=6 (rounded-cosine, right-id tiebreak) — the
    same cross-engine-stable contract as q129's rounded separation."""
    from .operators.similarity import ivf_index, knn_join

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    n_cells = 8
    # trainer='driver' (r13): the coarse quantizer fits on the
    # hash-ordered driver sample (FAISS-style) instead of a per-call
    # distributed KMeans — build 1.9 s -> 0.4 s; under FULL probing
    # the join result is provably cell-independent (bit-equality vs
    # the mllib trainer pinned by pytest + this query's brute-force
    # oracle hash)
    indexed, cents = ivf_index(emb, n_cells=n_cells, trainer="driver")
    return knn_join(left, indexed, cents, k=5, nprobe=n_cells, round_ndigits=6)


@query(
    "q50b_knn_join_pq",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS doc_id, b.vec_id AS vec_id,
             ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM e a CROSS JOIN e b),
    ranked AS (
      SELECT doc_id, vec_id, cosine,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT doc_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q50b(spark, sf_dir):
    """PQ-COMPRESSED embedding k-NN join (similarity.py::knn_join with
    ``pq_codebooks``): the scoring cogroup ships the 16-byte PQ code
    per corpus vector instead of the 512-byte raw float array — the
    100 TB memory shape for the join. In-cell scoring is an ADC LUT
    gather, the per-left ADC top-(k*oversample) survivors are exactly
    rescored against the raw vectors (narrow id join), so with full
    probing and adequate oversample the result is IDENTICAL to the raw
    q50a path — this query hash-matches the same brute-force oracle.
    Round 9: runs under ``rescore='cogroup'`` — the unbounded-left
    form where NOTHING broadcasts (survivors rescored in a second
    cell-keyed cogroup whose numpy kernel replays the JVM fold order
    bit-for-bit) — so the driver oracle certifies the new mode;
    broadcast==cogroup equality is separately pinned by
    tests/test_round9.py. Recall under small oversample is pinned by
    tests/test_round8.py::test_knn_join_pq_recall."""
    from .operators.similarity import ivf_index, ivf_pq_encode, knn_join, pq_train

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    n_cells = 8
    # trainer='driver' (r13): same full-probe cell-independence
    # argument as q50a — the ADC candidate cut is a global top-K over
    # (negadc, rid), so cell assignment only affects grouping; build
    # 1.9 s -> 0.4 s measured, results bit-identical (pytest + oracle)
    indexed, cents = ivf_index(emb, n_cells=n_cells, trainer="driver")
    cb = pq_train(emb, m=16, k=256)
    enc = ivf_pq_encode(indexed, cb)
    # shard_corpus deliberately stays 1 (r13, measured): sharding the
    # 8-cell cogroup 4x was hypothesized to fix this row's ambient
    # hypersensitivity (8-way parallelism on a 32-thread host) but an
    # idle A/B read the sharded join SLOWER (4.3 s vs 3.0 s — fan-out
    # overhead dominates at 60k rows), and the row's stage split was
    # ivf_index 2.0 / pq_train 2.4 / join 3.0 s: over half the row is
    # per-rep TRAINING (the ivf term now 0.4 s via trainer='driver') — a
    # work class the JVM-only bench basket does not normalize. That is
    # WHY this row drifts against the basket; z156 (build-once
    # amortized, bucketed) is the drift row that tracks the production
    # probe path. Full decomposition in BASELINE.md round 13.
    return knn_join(
        left, enc, cents, k=5, nprobe=n_cells, round_ndigits=6,
        pq_codebooks=cb, pq_oversample=10, rescore="cogroup",
    )


@query(
    "q59a_heavy_hitters",
    oracle=r"""
    WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS value
                 FROM documents)
    SELECT value, CAST(count(*) AS BIGINT) AS n
    FROM tok GROUP BY value ORDER BY n DESC, value LIMIT 25
    """,
)
def q135(spark, sf_dir):
    """Exact top-25 corpus tokens (operators/frequent.py::
    heavy_hitters): per-partition mergeable Misra-Gries summaries
    bound the shuffle at candidates-only size (one zero-shuffle scan +
    one candidate-set aggregate), with a runtime guarantee check that
    the k-th candidate strictly beats every possible non-candidate —
    so the result is the EXACT top-k the oracle's full GROUP BY
    computes, at a shuffle cost independent of vocabulary size."""
    from .operators.frequent import heavy_hitters

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("value")
    )
    return heavy_hitters(toks, "value", k=25)
