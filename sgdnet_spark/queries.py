"""Query inventory (SURVEY.md §2) + DuckDB oracle SQL.

Each ``QUERIES[name]`` is ``(spark, sf_dir) -> DataFrame``; where the
semantics are ANSI-SQL-expressible, ``ORACLES[name]`` holds the DuckDB
equivalent run by the driver's correctness gate. Float outputs are
ROUNDed identically on both sides (grid ≥ 1e6 × the expected
cross-engine FP summation error) so value hashes compare stably;
integer/string outputs are exact.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sgdnet_spark.operators import audiofp, bpe, dedup, multimodal, phash, pii, similarity, text

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Golden constants for entries whose semantics have no SQL twin
# (iterative GLM solvers, hash-function-dependent candidate sets).
# Generated by tools/gen_constant_oracles.py at the driver's gate scale
# (sf0.01) and cross-validated by independent tests — the MLlib λ=0 MLE
# check for binomial/multinomial, KKT property tests for elastic net,
# recall-vs-exact tests for ANN — exactly the reference's strategy of
# pinning glmnet outputs as constants (tests/testthat/test-binomial.R).
# The driver gate then certifies the one thing constants CAN certify:
# that the solver's output has not drifted.
try:
    from sgdnet_spark._golden import GOLDEN
except ImportError:  # constants not generated yet: entries fall back to rows-only
    GOLDEN = {}

_DUCK_TYPES = {"int": "INTEGER", "bigint": "BIGINT", "double": "DOUBLE", "string": "VARCHAR"}


def _golden_sql(entry: dict) -> str:
    """Render a golden-constants entry as a typed VALUES relation."""
    cols, types, rows = entry["columns"], entry["types"], entry["rows"]

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    values = ",\n".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    casts = ", ".join(
        f'CAST(c{i} AS {_DUCK_TYPES[t]}) AS "{c}"' for i, (c, t) in enumerate(zip(cols, types))
    )
    alias = ", ".join(f"c{i}" for i in range(len(cols)))
    return f"SELECT {casts} FROM (VALUES\n{values}\n) t({alias})"


def register(name: str, oracle: str | None = None, golden: bool | str = False):
    """Register a query; ``oracle`` is its DuckDB SQL twin. ``golden=True``
    sources the oracle from generated constants; if BOTH are given the
    final oracle is their UNION ALL (the SQL part derives what the data
    can derive — e.g. the λ_max intercept-only rows — and constants
    cover the rest)."""

    def deco(fn):
        QUERIES[name] = fn
        sql = oracle
        if golden and name in GOLDEN:
            gsql = _golden_sql(GOLDEN[name])
            sql = f"{sql}\nUNION ALL\n{gsql}" if sql else gsql
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# Sub-entries: operators folded into long-format umbrella registry keys
# so the driver gate (which records at most 50 rows per round — see
# CORRECTNESS_r01..r06, exactly 50 rows each) covers 100% of the
# inventory at once. Each sub-entry keeps its own callable + oracle here
# for granular local checking (tools/check_oracles.py runs them too) and
# is melted — Spark side AND DuckDB side through the SAME column recipe —
# into its umbrella, so the umbrella's driver hash certifies exactly
# what the individual hashes did.
SUBQUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
SUBORACLES: dict[str, str] = {}


def register_sub(name: str, oracle: str | None = None, golden: bool | str = False):
    """Like ``register`` but into the sub-entry registry (not driver-facing)."""

    def deco(fn):
        SUBQUERIES[name] = fn
        sql = oracle
        if golden and name in GOLDEN:
            gsql = _golden_sql(GOLDEN[name])
            sql = f"{sql}\nUNION ALL\n{gsql}" if sql else gsql
        if sql is not None:
            SUBORACLES[name] = sql
        return fn

    return deco


def _melt_df(df: DataFrame, entry: str, key_cols: list[str], val_cols: list[str],
             cols: tuple[str, str, str, str] = ("op", "key", "metric", "v")) -> DataFrame:
    """Melt a wide frame to long format (entry, key, metric, value-as-double).

    Key columns must be int/string typed (float→string rendering differs
    across engines); numeric outputs go through ``val_cols`` where the
    double cast is exact for counts < 2^53 and pre-rounded floats."""
    c_entry, c_key, c_metric, c_v = cols
    # NULL-safe key render: concat_ws would SKIP a null part while the
    # SQL twin's '||' would propagate NULL — coalesce to a sentinel on
    # BOTH sides so a nullable key column can never diverge the engines
    key = (
        F.concat_ws(
            "|",
            *[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in key_cols],
        )
        if key_cols
        else F.lit("all")
    )
    # ONE pass over the sub-frame: explode a (metric, v) struct array
    # per row rather than union one scan per metric column — a union
    # re-evaluates the whole sub-plan (a GLM fit, a shingle pass) once
    # per metric at gate time
    mv = F.array(*[
        F.struct(F.lit(m).alias("m"), F.col(m).cast("double").alias("v"))
        for m in val_cols
    ])
    return df.select(
        F.lit(entry).alias(c_entry), key.alias(c_key), F.explode(mv).alias("_mv")
    ).select(c_entry, c_key, F.col("_mv.m").alias(c_metric), F.col("_mv.v").alias(c_v))


def _melt_sql(inner_sql: str, entry: str, key_cols: list[str], val_cols: list[str],
              cols: tuple[str, str, str, str] = ("op", "key", "metric", "v")) -> str:
    """DuckDB twin of ``_melt_df`` over an oracle subquery: the same
    one-evaluation melt (lateral UNNEST of a (metric, value) struct
    list) and the same NULL-safe key sentinel, so inner oracles — some
    of which are whole closed-form CTE pipelines — run once, not once
    per metric."""
    c_entry, c_key, c_metric, c_v = cols
    key = (" || '|' || ".join(
        f'COALESCE(CAST("{c}" AS VARCHAR), \'<null>\')' for c in key_cols
    ) if key_cols else "'all'")
    structs = ", ".join(
        f"{{'m': '{m}', 'v': CAST(\"{m}\" AS DOUBLE)}}" for m in val_cols
    )
    return (
        f"SELECT '{entry}' AS {c_entry}, {key} AS {c_key}, "
        f"__u.__mv.m AS {c_metric}, __u.__mv.v AS {c_v}\n"
        f"FROM ({inner_sql}), UNNEST([{structs}]) AS __u(__mv)"
    )


# Round 13 (optimization): per-(session, dir, table) DataFrame-HANDLE
# cache. Every spark.read.parquet(path) call pays a fresh driver-side
# file listing + parquet footer schema inference (measured 75-150 ms
# per call at sf0.1; at 100 TB the listing alone is worse — guide §6),
# and the bench's query constructions make dozens of such calls per
# pass. A DataFrame is an immutable lazy plan, so the same handle can
# be returned every time: NO data is cached — every action still scans
# the parquet files; only the listing/schema work is reused. Keyed by
# applicationId so a restarted session can never see a handle bound to
# a dead JVM.
_T_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def clear_table_cache(path: str | None = None) -> None:
    """Invalidate cached table handles (round 14, ADVICE r13).

    The `_t` cache assumes the INPUT TABLES ARE IMMUTABLE for the
    lifetime of a Spark application — true for the benchmark datasets
    and the normal 100 TB posture (raw tables are append/replace via
    new directories, never rewritten in place). A handle pins its file
    listing at creation, so any code that DOES rewrite a table
    directory in place within a live application must call this first
    (``path`` = the rewritten directory, or None to drop everything);
    the maintenance compaction path does so automatically. Without the
    call, a cached handle would read a stale (possibly deleted) file
    set."""
    if path is None:
        _T_CACHE.clear()
        return
    # realpath on both sides: a trailing slash, "..", "." or a symlink
    # spelling of the same directory must still hit
    norm = os.path.realpath(path)
    for key in [
        k for k in _T_CACHE
        if norm in (os.path.realpath(k[1]), os.path.realpath(f"{k[1]}/{k[2]}.parquet"))
    ]:
        del _T_CACHE[key]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # oracle comparisons assume UTC timestamp semantics (duckdb is tz-naive);
    # only touch session conf when it actually differs (conf writes
    # invalidate cached session state)
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _T_CACHE.get(key)
    if df is None:
        if name == "events":
            from sgdnet_spark.session import read_events

            df = read_events(spark, sf_dir)  # dual ts-encoding normalization
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _T_CACHE[key] = df
    return df


# --------------------------------------------------------------------------
# GLM feature set: 5 engineered features + gaussian label on lineitem
# --------------------------------------------------------------------------

FEATURE_NAMES = ["l_quantity", "l_discount", "l_tax", "x_month", "x_qty_disc"]
GAUSS_LABEL = "l_extendedprice"

FEATURES_SQL = """
    SELECT l_quantity AS l_quantity,
           l_discount AS l_discount,
           l_tax AS l_tax,
           CAST(month(l_shipdate) AS DOUBLE) AS x_month,
           l_quantity * l_discount AS x_qty_disc,
           l_extendedprice AS y,
           l_returnflag,
           l_orderkey, l_linenumber
    FROM lineitem
"""


def feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_discount").cast("double").alias("l_discount"),
        F.col("l_tax").cast("double").alias("l_tax"),
        F.month("l_shipdate").cast("double").alias("x_month"),
        (F.col("l_quantity") * F.col("l_discount")).alias("x_qty_disc"),
        F.col("l_extendedprice").alias("y"),
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
    )


# --- 1. feature_stats ------------------------------------------------------

_FEATURE_STATS_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS feature, ROUND(AVG({c}),4) AS mean, ROUND(STDDEV_POP({c}),4) AS std,"
    f" ROUND(MIN({c}),4) AS vmin, ROUND(MAX({c}),4) AS vmax FROM ({FEATURES_SQL})"
    for c in FEATURE_NAMES
)


@register("feature_stats", _FEATURE_STATS_ORACLE)
def feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardization statistics (reference src/utils.h:Standardize).

    ONE wide aggregation over ONE scan of lineitem (all 5×4 statistics
    in a single agg row, stacked to long form) — never one scan branch
    per feature."""
    f = feature_frame(spark, sf_dir)
    aggs = []
    for i, c in enumerate(FEATURE_NAMES):
        aggs += [
            F.round(F.avg(c), 4).alias(f"mean_{i}"),
            F.round(F.stddev_pop(c), 4).alias(f"std_{i}"),
            F.round(F.min(c), 4).alias(f"min_{i}"),
            F.round(F.max(c), 4).alias(f"max_{i}"),
        ]
    row = f.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', mean_{i}, std_{i}, min_{i}, max_{i}" for i, c in enumerate(FEATURE_NAMES)
    )
    return row.selectExpr(
        f"stack({len(FEATURE_NAMES)}, {stack_expr}) AS (feature, mean, std, vmin, vmax)"
    )


# --- 2. gram_corr_matrix ---------------------------------------------------

_PAIRS = [(a, b) for i, a in enumerate(FEATURE_NAMES) for b in FEATURE_NAMES[i:]]

_GRAM_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS f1, '{b}' AS f2, ROUND(SUM({a}*{b})/COUNT(*),4) AS gram,"
    f" ROUND(CORR({a}, {b}),6) AS corr FROM ({FEATURES_SQL})"
    for a, b in _PAIRS
)


@register("gram_corr_matrix", _GRAM_ORACLE)
def gram_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw second-moment matrix X'X/n (the single-pass sufficient
    statistic behind the gaussian path solver, SURVEY.md §3) plus the
    pairwise Pearson correlation of the same pairs — ONE wide aggregation
    over one scan, stacked to long form."""
    f = feature_frame(spark, sf_dir)
    aggs = [
        F.round(F.sum(F.col(a) * F.col(b)) / F.count("*"), 4).alias(f"g_{i}")
        for i, (a, b) in enumerate(_PAIRS)
    ] + [F.round(F.corr(a, b), 6).alias(f"c_{i}") for i, (a, b) in enumerate(_PAIRS)]
    row = f.agg(*aggs)
    stack_expr = ", ".join(f"'{a}', '{b}', g_{i}, c_{i}" for i, (a, b) in enumerate(_PAIRS))
    return row.selectExpr(f"stack({len(_PAIRS)}, {stack_expr}) AS (f1, f2, gram, corr)")


# --- 3. lambda_path (row s=0 is lambda_max) --------------------------------

_LMAX_EXPR = "GREATEST(" + ", ".join(
    f"ABS(COVAR_POP({c}, y)) / STDDEV_POP({c})" for c in FEATURE_NAMES
) + ")"


def _lambda_max_col(f: DataFrame) -> F.Column:
    return F.greatest(
        *[F.abs(F.covar_pop(c, "y")) / F.stddev_pop(c) for c in FEATURE_NAMES]
    )


_NLAMBDA, _LMR = 100, 1e-4

_LPATH_ORACLE = f"""
WITH lm AS (SELECT {_LMAX_EXPR} AS lambda_max FROM ({FEATURES_SQL}))
SELECT CAST(i AS BIGINT) AS s,
       ROUND(lambda_max * POW({_LMR}, i / ({_NLAMBDA} - 1.0)), 4) AS lambda
FROM lm, generate_series(0, {_NLAMBDA - 1}) t(i)
"""


@register("lambda_path", _LPATH_ORACLE)
def lambda_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nlambda log-spaced penalties (reference src/utils.h:144).

    The s=0 row IS lambda_max = max_j |<x~_j, y - ybar>| / n (reference
    src/families.h:121 LambdaMax) — one entry covers both operators."""
    f = feature_frame(spark, sf_dir)
    lm = f.agg(_lambda_max_col(f).alias("lambda_max"))
    return (
        lm.select("lambda_max", F.explode(F.sequence(F.lit(0), F.lit(_NLAMBDA - 1))).alias("i"))
        .select(
            F.col("i").cast("bigint").alias("s"),
            F.round(
                F.col("lambda_max") * F.pow(F.lit(_LMR), F.col("i") / F.lit(_NLAMBDA - 1.0)), 4
            ).alias("lambda"),
        )
    )


# --- 5. regr_univariate ----------------------------------------------------

_REGR_ORACLE = """
SELECT l_returnflag,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS icept,
       ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2
FROM lineitem GROUP BY l_returnflag
"""


@register("regr_univariate", _REGR_ORACLE)
def regr_univariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("icept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Analytics queries
# --------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q3_ORACLE = """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderpriority
FROM customer, orders, lineitem
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-01-01' AND l_shipdate > DATE '1998-01-01'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


@register("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("date"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)  # AQE broadcasts while small
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
GROUP BY n_name
"""


@register("q5_local_supplier", _Q5_ORACLE)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


_Q6_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


_Q10_ORACLE = """
SELECT c_custkey, c_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_returnflag = 'R'
  AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-07-01'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


@register("q10_returned_items", _Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_TOPN_ORACLE = """
SELECT p_brand, p_partkey, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part) t
WHERE rn <= 3
"""


@register("top_n_per_group", _TOPN_ORACLE)
def top_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


_SESSION_ORACLE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM g GROUP BY user_id
"""


@register("events_sessionize", _SESSION_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_s").cast("bigint").alias("n_sessions"), F.count("*").alias("n_events"))
    )


_WINDOWED_ORACLE = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


@register("events_windowed", _WINDOWED_ORACLE)
def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling-window aggregation
    (sgdnet_spark/streaming); identical grouping semantics."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


_Q2_ORACLE = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
j AS (
  SELECT p_partkey, p_brand, l_suppkey, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY s_acctbal, l_suppkey) AS rn
  FROM part, ps, supplier
  WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey AND p_size < 10)
SELECT p_partkey, p_brand, l_suppkey AS best_suppkey, ROUND(s_acctbal, 2) AS acctbal
FROM j WHERE rn = 1
"""


@register_sub("q2_min_cost_supplier", _Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 pattern: correlated min-per-group subquery as a window."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supp = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("p_partkey").orderBy("s_acctbal", "l_suppkey")
    return (
        ps.join(part, ps.l_partkey == part.p_partkey)
        .join(supp, ps.l_suppkey == supp.s_suppkey)  # AQE broadcasts while small
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey", "p_brand",
            F.col("l_suppkey").alias("best_suppkey"),
            F.round("s_acctbal", 2).alias("acctbal"),
        )
    )


# --- tpch_deep: 10 more TPC-H query patterns, one long-format entry --------
#
# q7/q8/q9/q11/q12/q13/q15/q17/q20/q21 adapted to the testdata star schema
# (no partsupp / commitdate / receiptdate / shipmode — supplycost is proxied
# by 0.55*p_retailprice, shipmode classes by ship-delay buckets). Uniform
# output (q, grp, metric, v) so ONE driver row hash-checks all ten; every
# sub-query is an independent DataFrame plan unioned at the end, so Catalyst
# optimizes each join tree separately (AQE broadcasts the small sides).

_TPCH_DEEP_ORACLE = """
SELECT 'q7' AS q, supp_nation || '|' || cust_nation || '|' || CAST(l_year AS VARCHAR) AS grp,
       'revenue' AS metric, ROUND(SUM(volume), 2) AS v
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year, l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND year(l_shipdate) IN (1997, 1998))
GROUP BY supp_nation, cust_nation, l_year
UNION ALL
SELECT 'q8', CAST(o_year AS VARCHAR), 'mkt_share',
       FLOOR(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END) / SUM(volume) * 1e6 + 0.5) / 1e6
FROM (SELECT year(o_orderdate) AS o_year, l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey AND c_nationkey = n2.n_nationkey
        AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        AND s_nationkey = n1.n_nationkey AND p_type = 'PROMO')
GROUP BY o_year
UNION ALL
SELECT 'q9', n_name || '|' || CAST(o_year AS VARCHAR), 'sum_profit', ROUND(SUM(amount), -1)
FROM (SELECT n_name, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) - 0.55 * p_retailprice * l_quantity AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey AND o_orderkey = l_orderkey
        AND s_nationkey = n_nationkey AND p_type = 'ECONOMY')
GROUP BY n_name, o_year
UNION ALL
SELECT 'q11', CAST(l_partkey AS VARCHAR), 'value', ROUND(v, 2)
FROM (SELECT l_partkey, SUM(l_extendedprice) AS v
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
      GROUP BY l_partkey) val
WHERE v > 0.0005 * (SELECT SUM(v) FROM (SELECT SUM(l_extendedprice) AS v
                                        FROM lineitem, supplier, nation
                                        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                                          AND n_name = 'NATION_3'
                                        GROUP BY l_partkey))
UNION ALL
SELECT 'q12', bucket, metric, CAST(COUNT(*) AS DOUBLE)
FROM (SELECT CASE WHEN d <= 30 THEN 'fast' WHEN d <= 90 THEN 'medium' ELSE 'slow' END AS bucket,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'high_line_count' ELSE 'low_line_count' END AS metric
      FROM (SELECT date_diff('day', o_orderdate, l_shipdate) AS d, o_orderpriority
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE year(l_shipdate) = 1998))
GROUP BY bucket, metric
UNION ALL
SELECT 'q13', CAST(c_count AS VARCHAR), 'custdist', CAST(COUNT(*) AS DOUBLE)
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey)
GROUP BY c_count
UNION ALL
SELECT 'q15', s_name, 'total_revenue', ROUND(r, 2)
FROM (SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS r
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY l_suppkey) rev
JOIN supplier ON s_suppkey = l_suppkey
WHERE r = (SELECT MAX(r) FROM (SELECT SUM(l_extendedprice * (1 - l_discount)) AS r
                               FROM lineitem
                               WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
                               GROUP BY l_suppkey))
UNION ALL
SELECT 'q17', 'all', 'avg_yearly', ROUND(SUM(l_extendedprice) / 7.0, 2)
FROM lineitem JOIN part ON p_partkey = l_partkey
JOIN (SELECT l_partkey AS pq_partkey, 0.5 * AVG(l_quantity) AS t
      FROM lineitem GROUP BY l_partkey) pq ON pq_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < t
UNION ALL
SELECT 'q20', n_name, 'n_suppliers', CAST(COUNT(*) AS DOUBLE)
FROM (SELECT l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO' AND year(l_shipdate) = 1997
      GROUP BY l_suppkey) shipped
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE qty > 80
GROUP BY n_name
UNION ALL
SELECT 'q21', n_name, 'numwait', CAST(COUNT(*) AS DOUBLE)
FROM (SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F') l
      JOIN (SELECT l_orderkey, MAX(l_shipdate) AS mx, COUNT(DISTINCT l_suppkey) AS ns
            FROM (SELECT l_orderkey, l_suppkey, l_shipdate
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  WHERE o_orderstatus = 'F')
            GROUP BY l_orderkey) m ON l.l_orderkey = m.l_orderkey
      WHERE m.ns >= 2 AND l.l_shipdate = m.mx
        AND date_diff('day', o_orderdate, l_shipdate) > 120) w
JOIN supplier ON w.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# NOTE: registered extended (with the seven folded TPC-H entries melted
# in) at the end of this file — see tpch_deep_full.
def tpch_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten TPC-H query patterns (Q7/8/9/11/12/13/15/17/20/21, schema-
    adapted) in one long-format frame: (q, grp, metric, v).

    Round 13 (optimization): the ten join trees are CONSTRUCTED on a
    thread pool — building them is a serial chain of py4j round trips
    (measured 1.4 s at sf0.1, pure driver latency, no Spark job), and
    py4j releases the GIL during each round trip so threads overlap it.
    Each tree is built by an independent closure over immutable
    DataFrames/Columns; the union consumes results in the same fixed
    order, so the plan and values are unchanged (guide §2.6)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    out = lambda df, q, grp, metric, v: df.select(  # noqa: E731
        F.lit(q).alias("q"), grp.alias("grp"), F.lit(metric).alias("metric"), v.alias("v")
    )

    # shared broadcast dimension frames (cheap to build, reused by
    # several trees below)
    n1 = F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nat.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")))
    n2r = F.broadcast(
        nat.join(reg.filter(F.col("r_name") == "ASIA"), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )

    # q7 — volume shipping between two nations, by year
    def build_q7():
        q7 = (
            li.filter(F.year("l_shipdate").isin(1997, 1998))
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(n1, supp.s_nationkey == F.col("sn_key"))
            .join(n2, cust.c_nationkey == F.col("cn_key"))
            .filter(
                ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
                | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
            )
            .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
            .agg(F.round(F.sum(rev), 2).alias("v"))
        )
        return out(q7, "q7", F.concat_ws("|", "supp_nation", "cust_nation", F.col("l_year").cast("string")), "revenue", F.col("v"))

    # q8 — national market share within ASIA-customer PROMO-part revenue
    def build_q8():
        q8 = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(part.filter(F.col("p_type") == "PROMO"), li.l_partkey == part.p_partkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(n1, supp.s_nationkey == F.col("sn_key"))
            .join(n2r, cust.c_nationkey == F.col("cn_key"))
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(
                text.rpos(
                    F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0.0)))
                    / F.sum(rev),
                    6,
                ).alias("v")
            )
        )
        return out(q8, "q8", F.col("o_year").cast("string"), "mkt_share", F.col("v"))

    # q9 — product profit by supplier nation and order year
    def build_q9():
        amount = rev - 0.55 * F.col("p_retailprice") * F.col("l_quantity")
        q9 = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(part.filter(F.col("p_type") == "ECONOMY"), li.l_partkey == part.p_partkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
            # tens grid: the profit expression subtracts two like-sized products,
            # so cross-engine summation error reaches cents at nation-year scale
            .agg(F.round(F.sum(amount), -1).alias("v"))
        )
        return out(q9, "q9", F.concat_ws("|", "n_name", F.col("o_year").cast("string")), "sum_profit", F.col("v"))

    # q11 — important parts by shipped value share from one nation's suppliers
    def build_q11():
        val = (
            li.join(supp, li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nat.filter(F.col("n_name") == "NATION_3")), supp.s_nationkey == nat.n_nationkey)
            .groupBy("l_partkey")
            .agg(F.sum("l_extendedprice").alias("val"))
        )
        tot = val.agg(F.sum("val").alias("tot"))
        q11 = (
            val.crossJoin(F.broadcast(tot))
            .filter(F.col("val") > 0.0005 * F.col("tot"))
            .select(F.col("l_partkey"), F.round("val", 2).alias("v"))
        )
        return out(q11, "q11", F.col("l_partkey").cast("string"), "value", F.col("v"))

    # q12 — ship-delay buckets × priority class line counts
    def build_q12():
        q12 = (
            li.filter(F.year("l_shipdate") == 1998)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                F.when(F.datediff("l_shipdate", "o_orderdate") <= 30, "fast")
                .when(F.datediff("l_shipdate", "o_orderdate") <= 90, "medium")
                .otherwise("slow")
                .alias("bucket"),
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high_line_count"
                ).otherwise("low_line_count").alias("metric"),
            )
            .groupBy("bucket", "metric")
            .agg(F.count("*").cast("double").alias("v"))
        )
        return q12.select(F.lit("q12").alias("q"), F.col("bucket").alias("grp"), "metric", "v")

    # q13 — customer order-count distribution
    def build_q13():
        q13 = (
            cust.join(
                orders.filter(F.col("o_orderpriority") != "4-NOT SPECIFIED"),
                cust.c_custkey == orders.o_custkey,
                "left",
            )
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count("*").cast("double").alias("v"))
        )
        return out(q13, "q13", F.col("c_count").cast("string"), "custdist", F.col("v"))

    # q15 — top supplier(s) by revenue in a quarter
    def build_q15():
        rev_q = (
            li.filter(
                (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
                & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
            )
            .groupBy("l_suppkey")
            .agg(F.sum(rev).alias("r"))
        )
        mx = rev_q.agg(F.max("r").alias("mx"))
        q15 = (
            rev_q.crossJoin(F.broadcast(mx))
            .filter(F.col("r") == F.col("mx"))
            .join(supp, F.col("l_suppkey") == supp.s_suppkey)
            .select(F.col("s_name"), F.round("r", 2).alias("v"))
        )
        return out(q15, "q15", F.col("s_name"), "total_revenue", F.col("v"))

    # q17 — small-quantity order revenue for one brand (avg_yearly)
    def build_q17():
        pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
            (0.5 * F.avg("l_quantity")).alias("t")
        )
        q17 = (
            li.join(part.filter(F.col("p_brand") == "Brand#1"), li.l_partkey == part.p_partkey)
            .join(pq, F.col("pq_partkey") == li.l_partkey)
            .filter(F.col("l_quantity") < F.col("t"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("v"))
        )
        return out(q17, "q17", F.lit("all"), "avg_yearly", F.col("v"))

    # q20 — suppliers with heavy 1997 PROMO shipments, per nation
    def build_q20():
        shipped = (
            li.filter(F.year("l_shipdate") == 1997)
            .join(part.filter(F.col("p_type") == "PROMO"), li.l_partkey == part.p_partkey)
            .groupBy("l_suppkey")
            .agg(F.sum("l_quantity").alias("qty"))
            .filter(F.col("qty") > 80)
        )
        q20 = (
            shipped.join(supp, F.col("l_suppkey") == supp.s_suppkey)
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").cast("double").alias("v"))
        )
        return out(q20, "q20", F.col("n_name"), "n_suppliers", F.col("v"))

    # q21 — suppliers who kept multi-supplier 'F' orders waiting
    def build_q21():
        lf = (
            li.join(orders.filter(F.col("o_orderstatus") == "F"), li.l_orderkey == orders.o_orderkey)
            .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
        )
        m = lf.groupBy("l_orderkey").agg(
            F.max("l_shipdate").alias("mx"), F.countDistinct("l_suppkey").alias("ns")
        )
        w = (
            lf.join(m, "l_orderkey")
            .filter(
                (F.col("ns") >= 2)
                & (F.col("l_shipdate") == F.col("mx"))
                & (F.datediff("l_shipdate", "o_orderdate") > 120)
            )
            .select("l_orderkey", "l_suppkey")
            .distinct()
        )
        q21 = (
            w.join(supp, F.col("l_suppkey") == supp.s_suppkey)
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").cast("double").alias("v"))
        )
        return out(q21, "q21", F.col("n_name"), "numwait", F.col("v"))

    from concurrent.futures import ThreadPoolExecutor

    builders = [build_q7, build_q8, build_q9, build_q11, build_q12,
                build_q13, build_q15, build_q17, build_q20, build_q21]
    with ThreadPoolExecutor(max_workers=8) as pool:
        frames = list(pool.map(lambda b: b(), builders))
    res = frames[0]
    for f in frames[1:]:
        res = res.unionByName(f)
    return res


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


@register_sub("q4_order_priority", _Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q14_ORACLE = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-07-01'
"""


@register_sub("q14_promo_revenue", _Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("date"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev), 6
            ).alias("promo_revenue_pct")
        )
    )


_Q16_ORACLE = """
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE l_partkey = p_partkey AND p_size IN (1, 5, 9, 14, 23)
GROUP BY p_brand, p_type
"""


@register_sub("q16_parts_supplier", _Q16_ORACLE)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 5, 9, 14, 23))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q18_ORACLE = """
SELECT o_orderkey, o_totalprice, ROUND(SUM(l_quantity), 2) AS total_qty
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
GROUP BY o_orderkey, o_totalprice
HAVING SUM(l_quantity) > 150
ORDER BY total_qty DESC, o_orderkey LIMIT 20
"""


@register_sub("q18_large_orders", _Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


_Q19_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, COUNT(*) AS n
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND ((p_type = 'PROMO'    AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
    OR (p_type = 'STANDARD' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 25)
    OR (p_type = 'LARGE'    AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 15 AND 40))
"""


@register_sub("q19_discounted_revenue", _Q19_ORACLE)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_type") == "PROMO") & sz.between(1, 15) & q.between(1, 15))
        | ((F.col("p_type") == "STANDARD") & sz.between(10, 30) & q.between(10, 25))
        | ((F.col("p_type") == "LARGE") & sz.between(20, 50) & q.between(15, 40))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


_Q22_ORACLE = """
SELECT c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01')
GROUP BY c_nationkey
"""


@register_sub("q22_global_sales", _Q22_ORACLE)
def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + NOT EXISTS → anti join (idle high-balance
    customers in the quarter)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("date"))
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal")).first()[0]
    return (
        cust.filter(F.col("c_acctbal") > float(avg_bal))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@register("rollup_revenue", _ROLLUP_ORACLE)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


_PIVOT_ORACLE = """
SELECT l_returnflag,
       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F,
       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O
FROM lineitem GROUP BY l_returnflag
"""


@register("pivot_linestatus", _PIVOT_ORACLE)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag", F.col("F").alias("qty_F"), F.col("O").alias("qty_O")
    )


_ASOF_ORACLE = """
SELECT p.event_id, p.user_id, c.event_id AS prior_click_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_s
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@register("asof_purchase_click", _ASOF_ORACLE)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): latest click at or before
    each purchase, per user."""
    from sgdnet_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = asof_join(purchases, clicks, on="ts", by="user_id", right_cols=["event_id", "ts"])
    return joined.select(
        "event_id",
        "user_id",
        F.col("event_id_r").alias("prior_click_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp("ts_r")).cast("bigint").alias("gap_s"),
    )


_JSON_ORACLE = """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("events_json_props", _JSON_ORACLE)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props column → typed buckets."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type", (k % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


_QUANTILE_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag
"""


@register("quantile_prices", _QUANTILE_ORACLE)
def quantile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (matches duckdb quantile_cont)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
    )


_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_total,
       ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
"""


@register("running_customer_total", _RUNNING_ORACLE)
def running_customer_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative windows with deterministic tie-break."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
            "running_total"
        ),
        F.row_number().over(w).alias("order_seq"),
    )


# --------------------------------------------------------------------------
# LLM-pipeline operators (24-35)
# --------------------------------------------------------------------------

# trim AFTER collapse (same order as text.norm_text): a trailing
# tab/newline survives trim (spaces only) and would become a phantom
# empty token on both engines
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"

_DEDUP_EXACT_ORACLE = f"""
WITH h AS (SELECT COALESCE(md5({_NORM_SQL}),
                           '__null__' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents)
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_unique,
       COUNT(*) - COUNT(DISTINCT h) AS n_dup_rows
FROM h
"""


@register("dedup_exact", _DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_stats(_t(spark, sf_dir, "documents"))


_JACCARD_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, FLOOR(c * 1.0 / (sa.sz + sb.sz - c) * 10000 + 0.5) / 10000 AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.5
"""


@register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


# The oracle is the EXHAUSTIVE all-pairs Jaccard: LSH banding
# (32 hashes / 8 bands) at threshold 0.5 has recall 1.0 on this corpus,
# and because minhash_lsh_pairs verifies candidates with exact Jaccard
# its precision is 1.0 by construction — so a hash match certifies that
# the bucketed scale path finds EXACTLY the pairs the exhaustive method
# finds. (A genuinely-missed band collision would surface as a row-count
# mismatch here, not silently pass.)
@register("dedup_minhash_lsh", _JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


@register("dedup_simhash", golden=True)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs within Hamming radius 8, pigeonhole
    blocking. The pair set depends on xxhash64 (no DuckDB twin), so the
    oracle is golden constants; recall within the radius is guaranteed
    by the blocking scheme and behavior on planted dupes is asserted in
    tests/test_operators.py."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=8)


_COS_NORM_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
"""

_EMB_COS_ORACLE = f"""
{_COS_NORM_SQL}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45
"""


@register("dedup_embedding_cosine", _EMB_COS_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)


# Same exhaustive oracle as the all-pairs entry: the bucketed LSH path
# reranks candidates with exact cosine (precision 1.0 by construction),
# so a hash match certifies recall 1.0 — the multi-table parameters put
# the per-pair miss probability at ~5e-4 in this threshold regime, and
# a genuinely missed pair would surface as a row-count mismatch.
@register("dedup_embedding_lsh", _EMB_COS_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed scale path for embedding near-dup (similarity.
    cosine_pairs_lsh): multi-table random-hyperplane candidates carry
    ids only through ONE self-join on (table, bucket); vectors join
    back once for the exact rerank — work scales with the near-dup
    rate, not n²."""
    return similarity.cosine_pairs_lsh(_t(spark, sf_dir, "embeddings"), threshold=0.45)


_ANN_ORACLE = f"""
{_COS_NORM_SQL},
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn FROM s)
SELECT query_id, nbr_id, ROUND(cos, 4) AS cos FROM r WHERE rn <= 5
"""


@register("ann_topk_bruteforce", _ANN_ORACLE)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register("ann_approx", golden=True)
def ann_approx(spark: SparkSession, sf_dir: str, force: bool = True) -> DataFrame:
    """The approximate-ANN scale paths in one long-format result:
    method='lsh' (random-hyperplane buckets), method='ivf'
    (distributed k-means coarse quantizer + nprobe inverted lists),
    and method='ivfpq' (round 10: product-quantization codes over the
    same inverted lists — ADC table-lookup scoring over the compressed
    corpus, exact cosine re-rank of the k·refine candidate pool; the
    FAISS IVFPQ design, operators/pq.py). Recall@k floors vs
    ann_topk_bruteforce are asserted in tests/test_operators.py,
    tests/test_ivf.py and tests/test_pq.py, and ivfpq's distributed
    fit/encode/ADC/re-rank chain is reproduced EXACTLY by a pure-numpy
    replay (tests/test_pq.py); method='mmr' (round 10, operators/mmr.py)
    diversifies the exact top-pool candidates with the greedy
    maximal-marginal-relevance sweep — quadratic only in the candidate
    POOL, one Arrow group per query, λ=1 ≡ plain top-k and a python
    replay asserted in tests/test_mmr.py. Round 11: the mmr row is fed
    by the IVFPQ candidate pool (mmr_rerank ∘ ivfpq_topk — the actual
    100 TB composition, where the diversifier consumes an approximate
    path's candidates, not an exact brute-force pool), and ONE ivfpq
    run serves both rows: k·refine is the same 50-candidate ADC pool
    either way, so the ivfpq row is the top-5-per-query slice of the
    k=25 re-rank — one coarse+PQ training instead of two. Round 12:
    ONE fused kmeans_pq_fit training serves the ivf, ivfpq AND mmr
    rows (5 iteration passes instead of 15, bit-identical models), and
    method='hybrid' certifies hybrid retrieval over the APPROXIMATE
    dense arm — BM25 top-20 RRF-fused with the shared pq25 re-rank's
    top-20 (rank = the unrounded-cosine ``with_rank`` cut; ``cos``
    carries the 6dp fused score for these rows; python replay in
    tests/test_fusion.py). Round 13: method='opq' certifies the
    OPQ-rotated variant (opq_fit_rotation + ivfpq_topk(opq=True),
    train_frac=0.25 — its quantizers live in the rotated space so the
    shared model cannot serve; numpy chain replay in tests/test_pq.py,
    recall floor above residual pinned in tests/test_recall.py), its
    training overlapped with the other producers. The neighbor sets
    depend on seeded hyperplanes / k-means / the greedy order — no SQL
    twin — so the driver checks golden constants for drift."""
    from sgdnet_spark.operators.ivf import ivf_topk
    from sgdnet_spark.operators.mmr import mmr_rerank
    from sgdnet_spark.operators.pq import ivfpq_topk, kmeans_pq_fit

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    lsh = similarity.lsh_topk(emb, q, k=5).withColumn("method", F.lit("lsh"))
    # ROUND 12, method='hybrid': the certified hybrid composition over
    # the APPROXIMATE dense arm — BM25 top-20 (more-like-this: docs 0-2
    # query through their text) RRF-fused with the ivfpq candidates'
    # top-20 (sliced from the SHARED pq25 re-rank by its
    # unrounded-cosine rank — zero additional dense compute). The
    # ``cos`` column carries the 6dp fused RRF score for these rows;
    # python replay from the two tier lists in tests/test_fusion.py.
    from sgdnet_spark.operators import bm25 as _bm25
    from sgdnet_spark.operators import fusion as _fusion

    docs = _t(spark, sf_dir, "documents")
    qd = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("q_text")
    )
    # ROUND 13: overlap the method rows' PROBE phases (VERDICT r12 item
    # 8). Post-training, each row's cost is a latency-bound chain of
    # small jobs + one corpus-scan stage — none saturates the 32 cores
    # the way training does (the measured-and-rejected arm-vs-training
    # overlap), so materializing the independent rows on a thread pool
    # compresses the serialized driver round-trips. Phase 1 forces the
    # four independent producers (lsh, ivf, the SHARED pq25 re-rank,
    # the bm25 lexical arm — whose corpus tokenize is eager at
    # construction); phase 2 forces the three pq25/lex consumers.
    # Checkpointing result-sized frames changes no values and the
    # union preserves fold order — hash-green either way.
    from concurrent.futures import ThreadPoolExecutor

    def _force(df):
        # ``force=False`` (test introspection): return the frames
        # UNCHECKPOINTED so the union's physical plan still exposes the
        # real pipelines — checkpointing collapses the returned plan to
        # RDD scans, which would leave the plan-snapshot pin vacuous
        # (tests/test_plans.py pins the unforced plan's shape)
        return df.localCheckpoint(eager=True) if force else df

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    # 7 workers / 9 tasks (4 root producers + ivf/pq on the model
    # future + 3 consumers on the pq future): blockers block only on
    # futures submitted BEFORE them, and the root producers are
    # submitted first so each always holds (or will get) a worker and
    # completes — no circular wait, so no deadlock; excess tasks queue
    # until a completion frees a slot
    # ROUND 13, method='opq': OPQ-rotated IVF-PQ (operators/pq.py
    # opq_fit_rotation — one moments pass + eigenvalue allocation; the
    # rotation is orthogonal so returned cosines are exact either way,
    # only candidate selection differs; recall floor pinned above
    # residual at equal bits in tests/test_recall.py). Trains its OWN
    # quantizers (they live in the rotated space — the shared model
    # cannot serve) on the train_frac=0.25 hash-sample, the documented
    # 100 TB training knob, overlapped with the other producers below.
    def build_opq():
        return _force(
            ivfpq_topk(
                emb, q, k_neighbors=5, n_lists=8, nprobe=3, refine=2,
                kmeans_iters=5, train_frac=0.25, opq=True,
            )
            .withColumn("method", F.lit("opq"))
            .select("method", "query_id", "nbr_id", "cos")
        )

    # ROUND 13 (optimization): the SHARED kmeans_pq_fit training — which
    # used to run eagerly BEFORE the pool, serializing its 5 iteration
    # passes ahead of every overlap — is now a pool task of its own,
    # overlapped with the OPQ row's independent training and the
    # lsh/lex producers (both trainings are per-iteration driver
    # round-trip chains that never saturate the cores; overlap ≈ max
    # instead of sum). ONE fused training still serves the ivf, ivfpq
    # AND mmr rows (5 passes, bit-identical models, tests/test_pq.py),
    # so the golden constants are unchanged. f_model is submitted FIRST
    # so it always holds a worker — the ivf/pq builders blocking on it
    # cannot deadlock the pool.
    with ThreadPoolExecutor(max_workers=7) as pool:
        f_model = pool.submit(kmeans_pq_fit, emb, k=8, m=8, ksub=16, iters=5)
        f_lsh = pool.submit(_force, lsh)
        f_lex = pool.submit(_bm25.bm25_topk, docs, qd, 20)
        f_opq = pool.submit(build_opq)

        def build_ivf():
            cents, _ = f_model.result()
            return _force(
                ivf_topk(
                    emb, q, k_neighbors=5, n_lists=8, nprobe=3, cents=cents
                ).withColumn("method", F.lit("ivf"))
            )

        def build_pq():
            # one training, THREE consumers (checkpointed: materialized
            # here, reused by pqr/div/hyb); pool = 25·2 = 50 candidates,
            # identical to k=5·10. with_rank carries the re-rank's
            # unrounded-cosine rank out as ``drn`` for the hybrid row's
            # dense arm; the ivfpq/mmr rows are computed exactly as
            # before (the rounded-cos window below), so their golden
            # rows are unchanged.
            return _force(
                ivfpq_topk(
                    emb, q, k_neighbors=25, nprobe=3, refine=2,
                    model=f_model.result(), with_rank=True,
                ).withColumnRenamed("rn", "drn")
            )

        f_ivf = pool.submit(build_ivf)
        f_pq = pool.submit(build_pq)

        def build_pqr():
            return _force(
                f_pq.result()
                .drop("drn")
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 5)
                .drop("rn")
                .withColumn("method", F.lit("ivfpq"))
            )

        def build_div():
            return _force(
                mmr_rerank(
                    f_pq.result().drop("drn"), emb, q, k_neighbors=5, lam=0.7
                )
                .withColumn("method", F.lit("mmr"))
                .select(
                    "method", "query_id", "nbr_id", F.round("cos", 4).alias("cos")
                )
            )

        def build_hyb():
            dense = (
                f_pq.result()
                .filter(F.col("query_id") < 3)
                .filter(F.col("drn") <= 20)
                .select(
                    "query_id",
                    F.col("nbr_id").alias("doc_id"),
                    F.col("drn").alias("rn"),
                )
            )
            return _force(
                _fusion.rrf_fuse([f_lex.result(), dense], k=10).select(
                    F.lit("hybrid").alias("method"),
                    "query_id",
                    F.col("doc_id").alias("nbr_id"),
                    F.col("fused").alias("cos"),
                )
            )

        f_pqr = pool.submit(build_pqr)
        f_div = pool.submit(build_div)
        f_hyb = pool.submit(build_hyb)
        lsh_r, ivf_r, opq_r = f_lsh.result(), f_ivf.result(), f_opq.result()
        pqr_r, div_r, hyb_r = f_pqr.result(), f_div.result(), f_hyb.result()
    return (
        lsh_r.unionByName(ivf_r)
        .unionByName(pqr_r)
        .unionByName(div_r)
        .unionByName(hyb_r)
        .unionByName(opq_r)
        .select("method", "query_id", "nbr_id", "cos")
    )


_TOKCOUNT_ORACLE = f"""
SELECT doc_id, 'ws' AS tokenizer,
       CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
       CAST(length({_NORM_SQL}) AS BIGINT) AS n_aux
FROM documents
UNION ALL
SELECT doc_id, 'bpe' AS tokenizer,
       CAST(len(regexp_extract_all({_NORM_SQL}, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(regexp_extract_all({_NORM_SQL}, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_aux
FROM documents
"""


@register("text_token_count", _TOKCOUNT_ORACLE)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish tokenization counts, long format: one row
    per (doc, tokenizer). n_aux = normalized char count for 'ws',
    distinct sub-token count for 'bpe'. (Merged driver entry — the two
    tokenizers were separate registry keys through round 2.)"""
    docs = _t(spark, sf_dir, "documents")
    ws = text.token_count(docs).select(
        "doc_id",
        F.lit("ws").alias("tokenizer"),
        F.col("n_tokens"),
        F.col("n_chars_norm").alias("n_aux"),
    )
    bpe = text.token_count_bpe(docs).select(
        "doc_id",
        F.lit("bpe").alias("tokenizer"),
        F.col("n_bpe_tokens").alias("n_tokens"),
        F.col("n_bpe_unique").alias("n_aux"),
    )
    return ws.unionByName(bpe)


_STOP_SQL = "['" + "', '".join(text.STOPWORDS) + "']"

_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS tk, CAST(length({_NORM_SQL}) AS DOUBLE) AS nc
  FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(tk) AS DOUBLE) AS n,
         CAST(len(list_filter(tk, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE) AS n_stop,
         nc
  FROM t)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       FLOOR(n_stop / n * 10000 + 0.5) / 10000 AS stopword_ratio,
       FLOOR((nc - (n - 1)) / n * 10000 + 0.5) / 10000 AS mean_token_len,
       FLOOR((n_stop / n * 0.4
             + LEAST(n / 100.0, 1.0) * 0.4
             + LEAST(((nc - (n - 1)) / n) / 8.0, 1.0)* 0.2) * 10000 + 0.5) / 10000 AS quality
FROM m
"""


@register("text_quality", _QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_t(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    langs = sorted(text.LANG_PROFILES)
    score_cols = ",\n         ".join(
        f"FLOOR(len(list_filter(tk, x -> list_contains(['"
        + "', '".join(text.LANG_PROFILES[lang])
        + f"'], x))) * 1.0 / len(tk) * 1000000 + 0.5) / 1000000 AS s_{lang}"
        for lang in langs
    )
    # argmax with lexicographic tie-break: first lang that is >= all later ones
    cases = []
    for i, lang in enumerate(langs):
        conds = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1:])
        cases.append(f"WHEN {conds} THEN '{lang}'" if conds else f"ELSE '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " END"
    greatest = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS tk FROM documents),
s AS (SELECT doc_id, lang,
         {score_cols}
      FROM t)
SELECT doc_id, {case_sql} AS pred_lang, {greatest} AS pred_score,
       CAST(lang = ({case_sql}) AS BIGINT) AS matches_label
FROM s
"""


@register("text_langid", _langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_t(spark, sf_dir, "documents"))


_FP_ORACLE = f"""
SELECT doc_id, 'md5' AS method, md5({_NORM_SQL}) AS fp FROM documents
UNION ALL
SELECT doc_id, 'winnow' AS method, fp FROM (
  WITH n AS (SELECT doc_id, {_NORM_SQL} AS s FROM documents),
  h AS (SELECT doc_id,
          list_transform(generate_series(1, greatest(length(s) - 7, 0)),
                         i -> md5(substring(s, i, 8))) AS hs
        FROM n),
  w AS (SELECT doc_id,
          CASE WHEN len(hs) >= 16
                 THEN list_transform(generate_series(1, len(hs) - 15),
                                     i -> list_min(hs[i:i+15]))
               WHEN len(hs) > 0 THEN [list_min(hs)]
               ELSE [] END AS fps
        FROM h)
  SELECT DISTINCT doc_id, unnest(fps) AS fp FROM w)
"""


@register("text_fingerprint", _FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document md5 + winnowing (Schleimer et al.) rolling local
    fingerprints, long format: (doc, method, fp). (Merged driver entry —
    'text_winnow' was a separate registry key through round 2.)"""
    docs = _t(spark, sf_dir, "documents")
    md5 = text.fingerprint(docs).select("doc_id", F.lit("md5").alias("method"), "fp")
    win = text.winnow_fingerprints(docs).select(
        "doc_id", F.lit("winnow").alias("method"), "fp"
    )
    return md5.unionByName(win)


# --- text_mining: corpus n-gram statistics + per-doc TF-IDF ----------------

_TEXT_MINING_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
SELECT 'bigram_topk' AS q, b AS grp, 'count' AS metric, CAST(n AS DOUBLE) AS v
FROM (SELECT b, COUNT(*) AS n
      FROM (SELECT t[i] || ' ' || t[i+1] AS b
            FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM t))
      GROUP BY b ORDER BY n DESC, b LIMIT 20)
UNION ALL
SELECT 'unigram_topk', w, 'count', CAST(n AS DOUBLE)
FROM (SELECT w, COUNT(*) AS n
      FROM (SELECT unnest(t) AS w FROM t)
      GROUP BY w ORDER BY n DESC, w LIMIT 30)
UNION ALL
SELECT 'tfidf_top', CAST(doc_id AS VARCHAR) || '|' || term, 'tfidf', score
FROM (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM (SELECT tfc.doc_id, tfc.term,
               FLOOR(tf * ln(nd * 1.0 / df) * 1e6 + 0.5) / 1e6 AS score
        FROM (SELECT doc_id, term, COUNT(*) AS tf
              FROM (SELECT doc_id, unnest(t) AS term FROM t WHERE doc_id < 50)
              GROUP BY doc_id, term) tfc
        JOIN (SELECT term, COUNT(DISTINCT doc_id) AS df
              FROM (SELECT doc_id, unnest(t) AS term FROM t)
              GROUP BY term) dfc ON tfc.term = dfc.term
        CROSS JOIN (SELECT COUNT(*) AS nd FROM documents)))
WHERE rn = 1
"""


@register("text_mining", _TEXT_MINING_ORACLE)
def text_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mining trio in one long-format frame (q, grp, metric, v):
    global top-20 bigrams, top-30 unigrams (Zipf head), and each
    document's top TF-IDF term (docs 0-49; idf over the whole corpus).

    All counting is explode + groupBy (two shuffles each, map-side
    combined); ranking ties break on the ROUNDED score then term so
    both engines agree at the 1e-6 grid."""
    from sgdnet_spark.session import spread_small_input

    docs = _t(spark, sf_dir, "documents")
    toks = spread_small_input(docs).select("doc_id", text.tokens("text").alias("t"))
    t = F.col("t")
    uni = toks.select("doc_id", F.explode("t").alias("w"))
    idx = F.when(F.size(t) >= 2, F.sequence(F.lit(0), F.size(t) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    bg = toks.select(
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.element_at(t, i + 1), F.element_at(t, i + 2)))
        ).alias("b")
    )
    top_bg = bg.groupBy("b").agg(F.count("*").alias("n")).orderBy(F.desc("n"), F.asc("b")).limit(20)
    top_uni = uni.groupBy("w").agg(F.count("*").alias("n")).orderBy(F.desc("n"), F.asc("w")).limit(30)

    nd = float(docs.count())  # scalar aggregate (metadata-only on parquet)
    tfc = uni.filter(F.col("doc_id") < 50).groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfc = uni.select("doc_id", "w").distinct().groupBy("w").agg(F.count("*").alias("df"))
    rn_w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("w"))
    tfidf = (
        tfc.join(dfc, "w")
        .withColumn("score", text.rpos(F.col("tf") * F.log(F.lit(nd) / F.col("df")), 6))
        .withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") == 1)
    )

    def shape(df, q, grp, v):
        return df.select(
            F.lit(q).alias("q"), grp.alias("grp"),
            F.lit("count" if q != "tfidf_top" else "tfidf").alias("metric"),
            v.cast("double").alias("v"),
        )

    return (
        shape(top_bg, "bigram_topk", F.col("b"), F.col("n"))
        .unionByName(shape(top_uni, "unigram_topk", F.col("w"), F.col("n")))
        .unionByName(
            shape(
                tfidf, "tfidf_top",
                F.concat_ws("|", F.col("doc_id").cast("string"), F.col("w")),
                F.col("score"),
            )
        )
    )


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.5),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical FROM reach GROUP BY a
"""


@register("dedup_components", _COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: iterative min-label propagation (checked
    against a recursive-CTE transitive closure in duckdb).

    Pairs come from the MinHash+LSH scale path (bucketed candidates,
    exact-Jaccard verification — never the all-pairs shingle self-join),
    while the oracle derives them exhaustively: the hash match doubles
    as an LSH recall check."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    return dedup.duplicate_components(pairs)


_CLEAN_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
dups AS (
  SELECT DISTINCT id_b AS doc_id FROM inter
  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.5),
quality AS (
  SELECT doc_id, len({_TOKENS_SQL}) AS n_tokens FROM documents)
SELECT d.doc_id, q.n_tokens
FROM documents d JOIN quality q ON d.doc_id = q.doc_id
WHERE d.doc_id NOT IN (SELECT doc_id FROM dups) AND q.n_tokens >= 20
"""


@register("corpus_clean", _CLEAN_ORACLE)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cleaning pipeline: drop near-duplicates (keep the
    lower doc_id of each pair) and too-short documents — the composition
    a training-data pipeline actually runs.

    Near-dup pairs come from MinHash+LSH (the 100 TB path: bucketed
    candidates + exact verification), hash-checked against the
    exhaustive all-pairs oracle."""
    docs = _t(spark, sf_dir, "documents")
    dups = dedup.minhash_lsh_pairs(docs, threshold=0.5).select(
        F.col("id_b").alias("doc_id")
    ).distinct()
    kept = docs.join(dups, "doc_id", "left_anti")
    tok = text.token_count(kept).select("doc_id", "n_tokens")
    return (
        kept.join(tok, "doc_id")
        .filter(F.col("n_tokens") >= 20)
        .select("doc_id", "n_tokens")
    )


# The oracle recomputes every dimension from the deterministic
# generation rule (sha256(text) digest bytes), WITHOUT decoding — while
# the Spark side parses them out of the real BMP/WAV payload bytes. A
# hash match therefore certifies the whole encode → decode → extract →
# frame-sample chain. hexbyte(i) = i-th byte of the sha256 hex digest.
_MM_HEXBYTE = (
    "(16 * (strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
    " + strpos('0123456789abcdef', substr(h, {p} + 1, 1)) - 1)"
)


def _ph_hexbyte(idx_sql: str) -> str:
    """Digest byte at a COMPUTED index (0-31) of hex digest column h."""
    return (
        "(16 * (strpos('0123456789abcdef', substr(h, 2 * ({e}) + 1, 1)) - 1)"
        " + strpos('0123456789abcdef', substr(h, 2 * ({e}) + 2, 1)) - 1)"
    ).format(e=idx_sql)


def _ph_gray(yi_sql: str, xi_sql: str) -> str:
    """gray = r+g+b of the generation-rule pixel at (yi, xi): the image
    is np.resize(digest, (h, w, 3)) — a row-major cyclic tiling of the
    32 digest bytes — so channel c lives at digest[((yi*w + xi)*3 + c)
    % 32]. Integer-exact, engine-neutral (mirrors phash.py's gray)."""
    base = f"((({yi_sql}) * w + ({xi_sql})) * 3)"
    return " + ".join(_ph_hexbyte(f"({base} + {c}) % 32") for c in range(3))


# perceptual-hash CTE block: per-image dHash/aHash (phash.py's integer
# recipe replayed from the generation rule — no decoding), exact
# all-pairs hamming degree at the blocking radius. Shared by the
# multimodal_phash sub-oracle and the multimodal_meta umbrella oracle.
_PH_RADIUS = 6
_PH_BIT_SUM = (
    "CAST(SUM(CASE WHEN bit THEN CASE WHEN k = 63 THEN -9223372036854775808 "
    "ELSE 1::BIGINT << k END ELSE 0 END) AS BIGINT)"
)
_PH_CTES = f"""pb AS (SELECT doc_id, sha256(text) AS h FROM documents
         WHERE doc_id % 2 = 0),
pdim AS (SELECT doc_id, h,
                16 + {_MM_HEXBYTE.format(p=1)} % 48 AS w,
                16 + {_MM_HEXBYTE.format(p=3)} % 48 AS ih
         FROM pb),
gd AS (SELECT doc_id, ys.y AS y, xs.x AS x,
              {_ph_gray("(ys.y * ih) // 8", "(xs.x * w) // 9")} AS g
       FROM pdim,
            (SELECT unnest(generate_series(0, 7)) AS y) ys,
            (SELECT unnest(generate_series(0, 8)) AS x) xs),
ga AS (SELECT doc_id, ys.y AS y, xs.x AS x,
              {_ph_gray("(ys.y * ih) // 8", "(xs.x * w) // 8")} AS g
       FROM pdim,
            (SELECT unnest(generate_series(0, 7)) AS y) ys,
            (SELECT unnest(generate_series(0, 7)) AS x) xs),
dbits AS (SELECT l.doc_id, l.y * 8 + l.x AS k, l.g > r.g AS bit
          FROM gd l JOIN gd r
            ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
          WHERE l.x < 8),
dhv AS (SELECT doc_id, {_PH_BIT_SUM} AS dhash FROM dbits GROUP BY doc_id),
asum AS (SELECT doc_id, SUM(g) AS s FROM ga GROUP BY doc_id),
abits AS (SELECT ga.doc_id, ga.y * 8 + ga.x AS k, 64 * ga.g > asum.s AS bit
          FROM ga JOIN asum USING (doc_id)),
ahv AS (SELECT doc_id, {_PH_BIT_SUM} AS ahash FROM abits GROUP BY doc_id),
phv AS (SELECT doc_id, dhash, ahash FROM dhv JOIN ahv USING (doc_id)),
ppair AS (SELECT a.doc_id AS ia, b.doc_id AS ib
          FROM phv a JOIN phv b
            ON a.doc_id < b.doc_id
           AND bit_count(xor(a.dhash, b.dhash)) <= {_PH_RADIUS}),
pdeg AS (SELECT doc_id, COUNT(*) AS nd
         FROM (SELECT ia AS doc_id FROM ppair
               UNION ALL SELECT ib AS doc_id FROM ppair)
         GROUP BY doc_id),
phf AS (SELECT phv.doc_id, phv.dhash, phv.ahash,
               CAST(COALESCE(pdeg.nd, 0) AS BIGINT) AS n_neardups
        FROM phv LEFT JOIN pdeg USING (doc_id))"""

_PHASH_ORACLE = f"WITH {_PH_CTES}\nSELECT * FROM phf"

# acoustic-fingerprint CTE block: per-clip 64-bit energy-delta sign
# fingerprint (audiofp.py's integer recipe replayed from the WAV
# generation rule — samples are digest[i % 32]*64 - 8192, n = 256 +
# digest[2]*8 — no decoding), exact all-pairs hamming degree at the
# blocking radius. Shared by the multimodal_audiofp sub-oracle and the
# multimodal_meta umbrella oracle (the _PH_CTES pattern).
_AF_CTES = f"""ab AS (SELECT doc_id, sha256(text) AS h FROM documents
         WHERE doc_id % 2 = 1),
adim AS (SELECT doc_id, h, 256 + {_ph_hexbyte("2")} * 8 AS n FROM ab),
aidx AS (SELECT doc_id, h, n, unnest(generate_series(0, n - 1)) AS i FROM adim),
asamp AS (SELECT doc_id, (i * 65) // n AS w,
                 ABS({_ph_hexbyte("i % 32")} * 64 - 8192) AS v
          FROM aidx),
aen AS (SELECT doc_id, w, SUM(v) AS e FROM asamp GROUP BY 1, 2),
fbit AS (SELECT l.doc_id, l.w AS k, l.e > r.e AS bit
         FROM aen l JOIN aen r ON r.doc_id = l.doc_id AND r.w = l.w + 1
         WHERE l.w < 64),
afv AS (SELECT doc_id, {_PH_BIT_SUM} AS afp FROM fbit GROUP BY doc_id),
fpair AS (SELECT a.doc_id AS ia, b.doc_id AS ib
          FROM afv a JOIN afv b
            ON a.doc_id < b.doc_id
           AND bit_count(xor(a.afp, b.afp)) <= {_PH_RADIUS}),
fdeg AS (SELECT doc_id, COUNT(*) AS nd
         FROM (SELECT ia AS doc_id FROM fpair
               UNION ALL SELECT ib AS doc_id FROM fpair)
         GROUP BY doc_id),
aff AS (SELECT afv.doc_id, afv.afp,
               CAST(COALESCE(fdeg.nd, 0) AS BIGINT) AS n_neardups
        FROM afv LEFT JOIN fdeg USING (doc_id))"""

_AUDIOFP_ORACLE = f"WITH {_AF_CTES}\nSELECT * FROM aff"


@register_sub("multimodal_audiofp", _AUDIOFP_ORACLE)
def multimodal_audiofp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint audio near-dup tier (operators/audiofp.py):
    real PCM WAV payloads decoded to a 64-bit energy-delta sign
    fingerprint (single-band Haitsma & Kalker), paired by the text
    tier's pigeonhole hamming blocking, reported per clip as
    (doc_id, afp, n_neardups). The DuckDB oracle replays the
    fingerprint bit-for-bit from the sha256 generation rule WITHOUT
    decoding a byte, then takes the exact all-pairs hamming degree —
    so a hash match certifies encode → decode → windowed energy →
    delta-sign → blocked pairing end-to-end, and the blocking's
    recall-1.0 claim is checked against an exhaustive oracle at every
    gate run (the multimodal_phash pattern, completing the image+audio
    near-dup family)."""
    media = multimodal.attach_media(_t(spark, sf_dir, "documents"))
    return audiofp.audio_neardup_degree(media, max_hamming=_PH_RADIUS).select(
        F.col("id").alias("doc_id"), "afp", "n_neardups"
    )


@register_sub("multimodal_phash", _PHASH_ORACLE)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup tier (operators/phash.py): real
    BMP payloads decoded to 64-bit dHash/aHash, paired by the text
    tier's pigeonhole hamming blocking, reported per image as
    (doc_id, dhash, ahash, n_neardups). The DuckDB oracle replays both
    hashes bit-for-bit from the sha256 generation rule WITHOUT decoding
    a byte, then takes the exact all-pairs hamming degree — so a hash
    match certifies encode → decode → grayscale → resample → hash →
    blocked pairing end-to-end, and the blocking's recall-1.0 claim is
    checked against an exhaustive oracle at every gate run."""
    media = multimodal.attach_media(_t(spark, sf_dir, "documents"))
    return phash.image_neardup_degree(media, max_hamming=_PH_RADIUS).select(
        F.col("id").alias("doc_id"), "dhash", "ahash", "n_neardups"
    )
_MM_ORACLE = f"""
WITH b AS (
    SELECT doc_id,
           {_MM_HEXBYTE.format(p=1)} AS b0,
           {_MM_HEXBYTE.format(p=3)} AS b1,
           {_MM_HEXBYTE.format(p=5)} AS b2
    FROM (SELECT doc_id, sha256(text) AS h FROM documents)
), dims AS (
    SELECT doc_id,
           doc_id % 2 = 0 AS is_img,
           16 + b0 % 48 AS iw, 16 + b1 % 48 AS ih,
           256 + b2 * 8 AS n_samples
    FROM b
)
SELECT dims.doc_id,
       CASE WHEN is_img THEN 'image' ELSE 'audio' END AS media_type,
       CAST(CASE WHEN is_img
                 THEN 54 + ih * (3 * iw + (4 - (3 * iw) % 4) % 4)
                 ELSE 44 + 2 * n_samples END AS BIGINT) AS n_bytes,
       CAST(CASE WHEN is_img THEN iw ELSE 0 END AS BIGINT) AS width,
       CAST(CASE WHEN is_img THEN ih ELSE 0 END AS BIGINT) AS height,
       CAST(CASE WHEN is_img THEN 1
                 ELSE CAST(CEIL(n_samples / 400.0) AS BIGINT) END AS BIGINT) AS n_frames,
       CAST(CASE WHEN is_img THEN 0 ELSE 8000 END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN is_img THEN 1
                 ELSE LEAST(4, CAST(CEIL(n_samples / 400.0) AS BIGINT)) END AS BIGINT)
           AS n_sampled_frames,
       phf.dhash, phf.ahash, phf.n_neardups,
       aff.afp, aff.n_neardups AS afp_neardups
FROM dims LEFT JOIN phf ON phf.doc_id = dims.doc_id
          LEFT JOIN aff ON aff.doc_id = dims.doc_id
"""
# splice the perceptual-hash + acoustic-fingerprint CTE blocks into the
# umbrella oracle (audio rows take NULL image-hash columns and image
# rows NULL afp columns through the LEFT JOINs, like Spark's)
_MM_ORACLE = _MM_ORACLE.replace(
    "WITH b AS (", f"WITH {_PH_CTES},\n{_AF_CTES},\nb AS (", 1
)


@register("multimodal_meta", _MM_ORACLE)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal chain on REAL bytes: encode each document
    into a genuine BMP image / PCM WAV clip (pure-numpy codecs,
    operators/media_codec.py) → batch decode + feature-extract →
    frame sampling, joined per doc, plus (round 10) the near-dup tier
    for BOTH media kinds — perceptual-hash on image rows
    (multimodal_phash sub-entry: dHash / aHash / blocked hamming
    degree; NULL on audio rows) and acoustic-fingerprint on audio rows
    (multimodal_audiofp sub-entry: energy-delta sign fingerprint /
    blocked hamming degree; NULL on image rows). Every output value is
    parsed from the actual payload bytes; the DuckDB oracle recomputes
    the expectation from the generation rule independently."""
    media = multimodal.attach_media(_t(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media).drop("content_mean")
    frames = (
        multimodal.sample_frames(media, max_frames=4)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sampled_frames"))
    )
    ph = phash.image_neardup_degree(media, max_hamming=_PH_RADIUS).select(
        F.col("id").alias("doc_id"), "dhash", "ahash", "n_neardups"
    )
    af = audiofp.audio_neardup_degree(media, max_hamming=_PH_RADIUS).select(
        F.col("id").alias("doc_id"), "afp",
        F.col("n_neardups").alias("afp_neardups"),
    )
    return (
        feats.join(frames, "doc_id")
        .join(ph, "doc_id", "left")
        .join(af, "doc_id", "left")
    )


# --------------------------------------------------------------------------
# GLM fits — the reference's core surface (R/sgdnet.R, predict, score, cv).
#
# The gaussian entries run RIDGE (alpha=0) on 3 features with an explicit
# lambda grid so that DuckDB can verify the full pipeline — standardize,
# per-lambda solve, unstandardize, dev_ratio, interpolation, scoring, CV —
# in closed form ((R + lam I)^-1 b via Cramer's rule on the correlation
# matrix; reference tests/testthat/test-gaussian.R:33 cross-checks ridge
# the same way). The iterative families (binomial/multinomial/elastic-net)
# are not SQL-expressible: those stay rows-only here and are verified by
# tests/test_kkt_property.py, test_distributed_solver.py, and the MLlib
# cross-check backend.
# --------------------------------------------------------------------------

_R3 = ["l_quantity", "l_discount", "x_month"]
_RIDGE_LAMBDAS = [0.5, 0.1, 0.01, 0.001, 0.0]  # descending; last = OLS


def _det3(M) -> str:
    """SQL for det of a 3x3 matrix of SQL expressions (cofactor row 0)."""

    def d2(a, b, c, d):
        return f"(({a})*({d}) - ({b})*({c}))"

    return (
        f"(({M[0][0]})*{d2(M[1][1], M[1][2], M[2][1], M[2][2])}"
        f" - ({M[0][1]})*{d2(M[1][0], M[1][2], M[2][0], M[2][2])}"
        f" + ({M[0][2]})*{d2(M[1][0], M[1][1], M[2][0], M[2][1])})"
    )


def _ridge_stats_sql(filter_sql: str = "", feats: list[str] | None = None,
                     targets: list[str] | None = None) -> str:
    """Aggregate list for the ridge closed form: means/stds of the 3
    features, their correlations, and per-target y stats/covariances
    (aliases suffixed ``_t{c}`` when more than one target)."""
    feats = feats or _R3
    targets = targets or ["y"]
    filt = f" FILTER (WHERE {filter_sql})" if filter_sql else ""
    parts = [f"COUNT(*){filt} AS n"]
    for t_idx, t in enumerate(targets):
        sfx = f"_t{t_idx}" if len(targets) > 1 else ""
        parts.append(f"AVG({t}){filt} AS ym{sfx}")
        parts.append(f"VAR_POP({t}){filt} AS vy{sfx}")
        for i, c in enumerate(feats):
            parts.append(f"COVAR_POP({c}, {t}){filt} AS c{i}y{sfx}")
    for i, c in enumerate(feats):
        parts.append(f"AVG({c}){filt} AS mu{i}")
        parts.append(f"STDDEV_POP({c}){filt} AS sd{i}")
    for i in range(3):
        for j in range(i + 1, 3):
            parts.append(f"CORR({feats[i]}, {feats[j]}){filt} AS r{i}{j}")
    return ",\n       ".join(parts)


def _ridge_solve_exprs(suffix: str = "", pf: list[float] | None = None) -> dict[str, str]:
    """Closed-form ridge solution as SQL expressions over the stats
    aliases of _ridge_stats_sql plus a `lambda` column.

    beta_std = (R + lam diag(pf))^-1 b with R the feature correlation
    matrix and b_i = cov(x_i, y)/sd_i; then unstandardized
    beta_i = beta_std_i/sd_i, a0 = ym - sum beta_i mu_i,
    dev_ratio = 1 - rss/n/var(y) with
    rss/n = vy - 2 b.beta_std + beta_std' R beta_std.

    ``suffix`` selects a target's stats aliases (``_t{c}``) for the
    multi-response (mgaussian) closed form; feature stats are shared.
    ``pf`` gives the three RESCALED penalty factors for the differential-
    penalty ridge (glm_penalty_factor); default = uniform penalty.
    """
    if pf is None:
        diags = ['(1.0 + "lambda")'] * 3
    else:
        diags = [f'(1.0 + "lambda"*{v!r})' for v in pf]
    R = [[diags[i] if i == j else f"r{min(i, j)}{max(i, j)}" for j in range(3)] for i in range(3)]
    b = [f"(c{i}y{suffix}/sd{i})" for i in range(3)]
    det = _det3(R)
    bs = []
    for i in range(3):
        Mi = [[(b[r] if c == i else R[r][c]) for c in range(3)] for r in range(3)]
        bs.append(f"({_det3(Mi)} / {det})")
    beta = [f"({bs[i]} / sd{i})" for i in range(3)]
    a0 = f"(ym{suffix} - (" + " + ".join(f"{beta[i]}*mu{i}" for i in range(3)) + "))"
    quad = " + ".join(f"{bs[i]}*{bs[i]}" for i in range(3)) + " + 2*(" + " + ".join(
        f"{bs[i]}*{bs[j]}*r{i}{j}" for i in range(3) for j in range(i + 1, 3)
    ) + ")"
    rss_n = f"(vy{suffix} - 2*({' + '.join(f'{b[i]}*{bs[i]}' for i in range(3))}) + ({quad}))"
    out = {"a0": a0, "dev_ratio": f"(1.0 - {rss_n}/vy{suffix})", "rss_n": rss_n}
    for i in range(3):
        out[f"b{i}"] = beta[i]
    return out


_LAM_VALUES_SQL = "(VALUES " + ", ".join(
    f"({i}, {lam!r})" for i, lam in enumerate(_RIDGE_LAMBDAS)
) + ') t(s, "lambda")'

_SOL = _ridge_solve_exprs()

_RIDGE_SOL_CTE = f"""
f AS ({FEATURES_SQL}),
rm AS (SELECT {_ridge_stats_sql()} FROM f),
lam AS (SELECT CAST(s AS INTEGER) AS s, CAST("lambda" AS DOUBLE) AS "lambda" FROM {_LAM_VALUES_SQL}),
sol AS (SELECT s, "lambda",
               {_SOL['a0']} AS a0,
               {_SOL['b0']} AS b0, {_SOL['b1']} AS b1, {_SOL['b2']} AS b2,
               {_SOL['dev_ratio']} AS devr, {_SOL['rss_n']} AS rss_n, n
        FROM rm CROSS JOIN lam)
"""

_GLM_PATH_ORACLE = f"""
WITH {_RIDGE_SOL_CTE}
SELECT s, ROUND("lambda", 6) AS lambda, ROUND(a0, 2) AS a0,
       ROUND(b0, 2) AS b_quantity, ROUND(b1, 2) AS b_discount, ROUND(b2, 2) AS b_month,
       CAST(3 AS INTEGER) AS df, ROUND(devr, 6) AS dev_ratio
FROM sol
"""


def _ridge_path_frame(spark, fit, extra=None, extra_schema: str = "",
                      include_df: bool = True):
    """Long-format path frame for the 3-feature ridge driver entries
    (s, lambda, a0, b_quantity, b_discount, b_month[, df], dev_ratio)
    — THE one construction behind glm_gaussian_path / glm_weighted_path
    / glm_penalty_factor / glm_relaxed (previously four copies whose
    rounding digits and column names had to stay in lockstep with their
    oracles by hand). ``extra(fit, i)`` appends entry-specific columns
    declared in ``extra_schema``."""
    rows = []
    for i in range(fit.nlambda):
        r = {
            "s": int(i),
            "lambda": round(float(fit.lambdas[i]), 6),
            "a0": round(float(fit.a0[i]), 2),
            "b_quantity": round(float(fit.beta[0, i]), 2),
            "b_discount": round(float(fit.beta[1, i]), 2),
            "b_month": round(float(fit.beta[2, i]), 2),
        }
        if include_df:
            r["df"] = int(fit.df[i])
        r["dev_ratio"] = round(float(fit.dev_ratio[i]), 6)
        if extra is not None:
            r.update(extra(fit, i))
        rows.append(r)
    schema = ("s int, lambda double, a0 double, b_quantity double, "
              "b_discount double, b_month double, "
              + ("df int, " if include_df else "")
              + "dev_ratio double"
              + (", " + extra_schema if extra_schema else ""))
    return spark.createDataFrame(rows, schema=schema)


def _ridge_fit(spark, sf_dir, lambdas=None):
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir)
    return sgdnet(f, _R3, "y", family="gaussian", alpha=0.0,
                  lambdas=lambdas or _RIDGE_LAMBDAS)


@register("glm_gaussian_path", _GLM_PATH_ORACLE)
def glm_gaussian_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian path fit with per-(s, feature) coefficient values,
    hash-checked against the DuckDB closed form (ridge via Cramer on the
    correlation matrix). Exercises standardize -> path solve ->
    unstandardize -> dev_ratio end-to-end."""
    fit = _ridge_fit(spark, sf_dir)
    return _ridge_path_frame(spark, fit)


# --------------------------------------------------------------------------
# Model-based quality filtering (operators/qprobe.py): the GPT-3 / CCNet
# classifier gate as a closed-form linear probe, so featurize → fit →
# score → select replays end-to-end in DuckDB via the same Cramer
# machinery as the ridge GLM entries. The oracle recomputes the probe's
# sufficient statistics, solves the 3x3 ridge system, re-scores every
# document on the 1e-4 grid, and re-derives the top-30% cutoff.
# --------------------------------------------------------------------------

_QPROBE_LAM = 0.05
_QPROBE_FRAC = 0.3
_QPROBE_SOL = _ridge_solve_exprs()

_QPROBE_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS tk,
                  CAST(length({_NORM_SQL}) AS DOUBLE) AS nc
           FROM documents),
m AS (SELECT doc_id,
             CAST(len(tk) AS DOUBLE) AS n_tok,
             CAST(len(list_filter(tk, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE) AS n_stop,
             nc, CAST(lang = 'en' AS DOUBLE) AS y
      FROM t),
f AS (SELECT doc_id, y,
             n_stop / n_tok AS f0,
             LEAST(n_tok / 100.0, 1.0) AS f1,
             LEAST(((nc - (n_tok - 1)) / n_tok) / 8.0, 1.0) AS f2
      FROM m),
rm AS (SELECT {_ridge_stats_sql(feats=["f0", "f1", "f2"])} FROM f),
lam AS (SELECT CAST({_QPROBE_LAM!r} AS DOUBLE) AS "lambda"),
sol AS (SELECT {_QPROBE_SOL['a0']} AS a0, {_QPROBE_SOL['b0']} AS b0,
               {_QPROBE_SOL['b1']} AS b1, {_QPROBE_SOL['b2']} AS b2
        FROM rm CROSS JOIN lam),
sc AS (SELECT doc_id,
              FLOOR((a0 + b0*f0 + b1*f1 + b2*f2) * 10000 + 0.5) / 10000 AS qscore
       FROM f CROSS JOIN sol),
cut AS (SELECT FLOOR(quantile_cont(qscore, {1.0 - _QPROBE_FRAC!r}) * 10000 + 0.5) / 10000 AS c
        FROM sc)
SELECT doc_id, qscore, CAST(qscore > c AS BIGINT) AS selected
FROM sc CROSS JOIN cut
"""


@register_sub("quality_filter", _QPROBE_ORACLE)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: fit a ridge linear probe of the
    target-language weak label on three text-quality features (ONE
    sufficient-statistics pass — the GLM tier's flat-in-n design),
    score every document from a 4-scalar broadcast, keep the top 30%
    above a grid-rounded percentile cutoff. Hash-checked against a
    DuckDB twin that replays featurize → Cramer ridge solve → score →
    cutoff → selection end-to-end."""
    from sgdnet_spark.operators import qprobe

    docs = _t(spark, sf_dir, "documents")
    return qprobe.quality_probe(docs, select_frac=_QPROBE_FRAC, lam=_QPROBE_LAM)


# --------------------------------------------------------------------------
# Fuzzy string-similarity join (operators/fuzzy.py): SymSpell deletion-
# neighborhood blocking + exact Levenshtein verify. The benchmark tables
# carry no typos, so the entry synthesizes a deterministic typo per
# distinct part name (delete the char at hash_u32(name,'typo') %
# length — the source_rank generation-rule pattern) and finds EVERY
# pair within edit distance 1 over the names+typos universe. The
# oracle is the EXHAUSTIVE all-pairs levenshtein — a hash match
# certifies blocking recall 1.0 (the dedup_minhash_lsh precedent).
# --------------------------------------------------------------------------

_FUZZY_U32 = "CAST(('0x' || substr(md5(s || 'typo'), 1, 8)) AS BIGINT)"

_FUZZY_ORACLE = f"""
WITH names AS (SELECT DISTINCT p_name AS s FROM part WHERE length(p_name) >= 3),
typo AS (
  SELECT DISTINCT substr(s, 1, p) || substr(s, p + 2) AS s
  FROM (SELECT s, CAST({_FUZZY_U32} % length(s) AS INTEGER) AS p FROM names)
),
uni AS (SELECT s FROM names UNION SELECT s FROM typo WHERE length(s) >= 3)
SELECT a.s AS s_a, b.s AS s_b, levenshtein(a.s, b.s) AS dist
FROM uni a JOIN uni b ON a.s < b.s
WHERE levenshtein(a.s, b.s) <= 1
"""


@register_sub("fuzzy_part_names", _FUZZY_ORACLE)
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: every pair of part-name strings
    (originals + one deterministic hash-positioned typo each) within
    Levenshtein distance 1, found via the <=k-deletion-neighborhood
    variant join (candidates scale with n*L, not n^2) and verified
    with the exact built-in levenshtein. Hash-matching the DuckDB
    all-pairs oracle certifies blocking recall 1.0."""
    from sgdnet_spark.operators import fuzzy
    from sgdnet_spark.operators.sampling import hash_u32

    names = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_name").alias("s"))
        .where(F.length("s") >= 3)
        .distinct()
    )
    pos = (hash_u32(F.col("s"), "typo") % F.length("s")).cast("int")
    typo = names.select(
        F.concat(
            F.col("s").substr(F.lit(1), pos),
            F.col("s").substr(pos + F.lit(2), F.length("s")),
        ).alias("s")
    )
    return fuzzy.fuzzy_self_join(
        names.unionByName(typo), "s", max_dist=1, min_len=3
    )


@register("glm_binomial_path", golden=True)
def glm_binomial_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elastic-net logistic path, full long-format coefficients —
    hash-checked against golden constants (the λ=0 MLE endpoint of this
    solver is independently pinned against the MLlib backend in
    tests/test_mllib_and_sources.py, and every path point satisfies the
    KKT conditions per tests/test_kkt_property.py; the driver gate
    certifies no drift)."""
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir).withColumn("is_return", (F.col("l_returnflag") == "R").cast("string"))
    fit = sgdnet(f, FEATURE_NAMES, "is_return", family="binomial", alpha=0.5, nlambda=30,
                 lambda_min_ratio=1e-2)
    return fit.path_frame(spark)


@register("glm_multinomial_path", golden=True)
def glm_multinomial_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lasso softmax path, full long-format coefficients — hash-checked
    against golden constants (cross-validated the same way as
    glm_binomial_path)."""
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir)
    fit = sgdnet(f, FEATURE_NAMES, "l_returnflag", family="multinomial", alpha=1.0, nlambda=20,
                 lambda_min_ratio=1e-2)
    return fit.path_frame(spark)


_MG_FEATS = ["l_discount", "l_tax", "x_month"]
_MG_TARGETS = ["y", "l_quantity"]


def _mridge_oracle() -> str:
    """Multi-response ridge closed form: each target solves its own
    (R + lam I) beta = b system on the SHARED feature correlation
    matrix (with alpha=0 the group penalty decouples per response);
    joint dev_ratio = 1 - sum_c rss_c / sum_c var_c — exactly
    glm/path.py::mgaussian_path semantics. Output mirrors path_frame's
    long format, one row per (s, target, '(Intercept)'+feature)."""
    per_t = [_ridge_solve_exprs(suffix=f"_t{c}") for c in range(len(_MG_TARGETS))]
    sol_cols = []
    for c in range(len(_MG_TARGETS)):
        sol_cols.append(f"{per_t[c]['a0']} AS a0_t{c}")
        for i in range(3):
            sol_cols.append(f"{per_t[c][f'b{i}']} AS b{i}_t{c}")
        sol_cols.append(f"{per_t[c]['rss_n']} AS rssn_t{c}")
    devr = "ROUND(1.0 - (rssn_t0 + rssn_t1)/(vy_t0 + vy_t1), 6)"
    arms = []
    for c, tgt in enumerate(_MG_TARGETS):
        for feat_name, col in [("(Intercept)", f"a0_t{c}")] + [
            (f, f"b{i}_t{c}") for i, f in enumerate(_MG_FEATS)
        ]:
            arms.append(
                f"SELECT s, ROUND(\"lambda\", 6) AS lambda, CAST(3 AS INTEGER) AS df,\n"
                f"       {devr} AS dev_ratio, '{tgt}' AS class,\n"
                f"       '{feat_name}' AS feature, ROUND({col}, 4) AS coef FROM sol"
            )
    return (
        f"WITH f AS ({FEATURES_SQL}),\n"
        f"rm AS (SELECT {_ridge_stats_sql(feats=_MG_FEATS, targets=_MG_TARGETS)} FROM f),\n"
        f'lam AS (SELECT CAST(s AS INTEGER) AS s, CAST("lambda" AS DOUBLE) AS "lambda"'
        f" FROM {_LAM_VALUES_SQL}),\n"
        f'sol AS (SELECT s, "lambda", vy_t0, vy_t1, {", ".join(sol_cols)}\n'
        f"        FROM rm CROSS JOIN lam)\n" + "\nUNION ALL\n".join(arms)
    )


@register("glm_mgaussian_path", _mridge_oracle())
def glm_mgaussian_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-response gaussian RIDGE path (alpha=0, explicit lambdas) on
    two targets — every (s, target, feature) coefficient, intercept, and
    the joint dev_ratio are hash-checked against the per-target Cramer
    closed form in DuckDB. (Group-lasso mgaussian — alpha>0, row-group
    soft thresholding — is exercised in tests/test_multinomial_mgaussian.py;
    its iterative solution has no SQL twin.)"""
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir)
    fit = sgdnet(f, _MG_FEATS, _MG_TARGETS, family="mgaussian", alpha=0.0,
                 lambdas=_RIDGE_LAMBDAS, thresh=1e-12)
    return fit.path_frame(spark)


# --- glm_weighted_path: sample weights + offset (round-5 GLM extensions,
# reference R/sgdnet.R:341 TODOs) get their own driver row. Weighted+offset
# gaussian ridge is closed-form, so the oracle re-derives the WHOLE fit —
# weighted standardization, weighted correlation Cramer solve,
# unstandardize, weighted dev_ratio — from weighted SUMs in SQL. The
# glmnet weights-sum-to-n rescale cancels in every ratio, so raw weights
# work verbatim. Weight = 1+l_linenumber; offset = the discount amount
# (the fit models the discounted price with the discount as a fixed
# linear-predictor term), so the offset materially shifts every statistic.


def _wridge_oracle() -> str:
    x = _R3
    sums = ["COUNT(*) AS n", "SUM(w) AS W",
            "SUM(w*yp) AS sy", "SUM(w*yp*yp) AS syy"]
    for i in range(3):
        sums += [f"SUM(w*{x[i]}) AS s{i}", f"SUM(w*{x[i]}*{x[i]}) AS s{i}{i}",
                 f"SUM(w*{x[i]}*yp) AS s{i}y"]
    for i in range(3):
        for j in range(i + 1, 3):
            sums.append(f"SUM(w*{x[i]}*{x[j]}) AS s{i}{j}")
    mm = ["*", "sy/W AS ym", "syy/W - (sy/W)*(sy/W) AS vy"]
    for i in range(3):
        mm += [f"s{i}/W AS mu{i}",
               f"SQRT(s{i}{i}/W - (s{i}/W)*(s{i}/W)) AS sd{i}",
               f"s{i}y/W - (s{i}/W)*(sy/W) AS c{i}y"]
    rr = ["*"] + [
        f"(s{i}{j}/W - mu{i}*mu{j})/(sd{i}*sd{j}) AS r{i}{j}"
        for i in range(3) for j in range(i + 1, 3)
    ]
    sol = _ridge_solve_exprs()
    return f"""
WITH f AS (SELECT l_quantity, l_discount, CAST(month(l_shipdate) AS DOUBLE) AS x_month,
                  1.0 + l_linenumber AS w,
                  l_extendedprice - l_extendedprice * l_discount AS yp
           FROM lineitem),
raw AS (SELECT {', '.join(sums)} FROM f),
mm AS (SELECT {', '.join(mm)} FROM raw),
rm AS (SELECT {', '.join(rr)} FROM mm),
lam AS (SELECT CAST(s AS INTEGER) AS s, CAST("lambda" AS DOUBLE) AS "lambda" FROM {_LAM_VALUES_SQL}),
sol AS (SELECT s, "lambda",
               {sol['a0']} AS a0,
               {sol['b0']} AS b0, {sol['b1']} AS b1, {sol['b2']} AS b2,
               {sol['dev_ratio']} AS devr
        FROM rm CROSS JOIN lam)
SELECT s, ROUND("lambda", 6) AS lambda, ROUND(a0, 2) AS a0,
       ROUND(b0, 2) AS b_quantity, ROUND(b1, 2) AS b_discount, ROUND(b2, 2) AS b_month,
       CAST(3 AS INTEGER) AS df, ROUND(devr, 6) AS dev_ratio
FROM sol
"""


@register("glm_weighted_path", _wridge_oracle())
def glm_weighted_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted + offset gaussian ridge path (weights_col/offset_col —
    extensions beyond reference R/sgdnet.R, its :341 TODO list) —
    every coefficient, intercept, and dev_ratio hash-checked against the
    weighted-Cramer closed form re-derived in DuckDB. Exercises the
    glmnet weights-sum-to-n rescale, weighted standardization, the
    offset-as-shifted-label gaussian identity, and weighted deviance
    end-to-end through the same solver the elastic-net fits use."""
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir).select(
        *_R3,
        (F.lit(1.0) + F.col("l_linenumber")).alias("w"),
        (F.col("y") * F.col("l_discount")).alias("o"),
        "y",
    )
    fit = sgdnet(f, _R3, "y", family="gaussian", alpha=0.0,
                 lambdas=_RIDGE_LAMBDAS, weights_col="w", offset_col="o")
    return _ridge_path_frame(spark, fit)


@register("glm_poisson_path", golden=True)
def glm_poisson_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted poisson (log link) elastic-net path with a log-exposure
    offset — the rate-model use case (count response, exposure offset;
    family='poisson' extends the reference's gaussian/binomial/
    multinomial/mgaussian set). Oracle = golden constants; the solver is
    independently cross-validated against MLlib GeneralizedLinearRegression
    (family='poisson', weightCol/offsetCol) at λ=0 and by KKT property
    tests along the weighted path (tests/test_weights_offset.py); the
    driver gate certifies no drift."""
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir).select(
        "l_discount", "l_tax", "x_month",
        (F.lit(1.0) + F.lit(10.0) * F.col("l_discount")).alias("w"),
        F.log(F.lit(1.0) + F.col("l_linenumber")).alias("o"),
        F.col("l_quantity").alias("cnt"),
    )
    fit = sgdnet(f, ["l_discount", "l_tax", "x_month"], "cnt", family="poisson",
                 alpha=0.5, nlambda=20, lambda_min_ratio=1e-2,
                 weights_col="w", offset_col="o")
    return fit.path_frame(spark)


@register("glm_multinomial_grouped", golden=True)
def glm_multinomial_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-penalty softmax path WITH per-class offsets — the two
    round-6 GLM extensions in one driver row (reference R/sgdnet.R:265
    leaves type_multinomial='grouped' open; glmnet's offset-matrix form
    is the n×k offset). Features enter or leave the model for all
    classes jointly (group soft-threshold over each feature's k class
    coefficients), and each class carries its own fixed linear-predictor
    term. Oracle = golden constants; the solver is cross-validated by
    group-KKT stationarity, joint-support, alpha=0 ridge-equivalence,
    and exact zero-offset-equivalence tests
    (tests/test_multinomial_mgaussian.py, tests/test_weights_offset.py);
    the driver gate certifies no drift."""
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir).select(
        *FEATURE_NAMES,
        "l_returnflag",
        # per-class offsets in sorted-class order (A, N, R): deterministic
        # row functions large enough to shift every path point
        (F.lit(3.0) * F.col("l_discount")).alias("o_a"),
        (F.lit(0.05) * F.col("x_month")).alias("o_n"),
        (F.lit(-5.0) * F.col("l_tax")).alias("o_r"),
    )
    fit = sgdnet(f, FEATURE_NAMES, "l_returnflag", family="multinomial",
                 alpha=1.0, nlambda=10, lambda_min_ratio=1e-2,
                 type_multinomial="grouped", offset_col=["o_a", "o_n", "o_r"])
    return fit.path_frame(spark)


# --- glm_penalty_factor: differential penalties (glmnet penalty.factor /
# exclude — options the reference's uniform-penalty surface lacks but its
# declared glmnet-compat target exposes). Ridge with per-feature factors
# stays closed-form: beta_std = (R + lam*diag(pf))^-1 b with the RESCALED
# factors on the diagonal, and an excluded feature drops out of the
# system exactly — so DuckDB re-derives every number. Raw factors
# (2, 0.5, 1) over the three live features rescale by 3/3.5 (finite
# factors sum to their count); l_tax is excluded (infinite factor).

_PF_RAW = (2.0, 0.5, 1.0)
_PF_SCALED = [v * (3 / 3.5) for v in _PF_RAW]
_PF_SOL = _ridge_solve_exprs(pf=_PF_SCALED)

_PF_ORACLE = f"""
WITH f AS ({FEATURES_SQL}),
rm AS (SELECT {_ridge_stats_sql()} FROM f),
lam AS (SELECT CAST(s AS INTEGER) AS s, CAST("lambda" AS DOUBLE) AS "lambda" FROM {_LAM_VALUES_SQL}),
sol AS (SELECT s, "lambda",
               {_PF_SOL['a0']} AS a0,
               {_PF_SOL['b0']} AS b0, {_PF_SOL['b1']} AS b1, {_PF_SOL['b2']} AS b2,
               {_PF_SOL['dev_ratio']} AS devr
        FROM rm CROSS JOIN lam)
SELECT s, ROUND("lambda", 6) AS lambda, ROUND(a0, 2) AS a0,
       ROUND(b0, 2) AS b_quantity, ROUND(b1, 2) AS b_discount, ROUND(b2, 2) AS b_month,
       CAST(0.0 AS DOUBLE) AS b_tax, CAST(3 AS INTEGER) AS df, ROUND(devr, 6) AS dev_ratio
FROM sol
"""


@register("glm_penalty_factor", _PF_ORACLE)
def glm_penalty_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-penalty ridge path: per-feature penalty factors
    (glmnet penalty.factor semantics — rescaled so finite factors sum to
    their count) plus an excluded feature (glmnet exclude == infinite
    factor; the coefficient is identically zero and the feature drops
    out of the normal equations exactly). Every coefficient, intercept,
    and dev_ratio is hash-checked against the per-feature-diagonal
    Cramer closed form re-derived in DuckDB; the elastic-net (CD/FISTA)
    behavior of the same options is pinned by tests/test_penalty_factor.py
    (drop-column equivalence, projected KKT, MLlib bound-constrained
    cross-check)."""
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir)
    feats = [*_R3, "l_tax"]
    fit = sgdnet(f, feats, "y", family="gaussian", alpha=0.0,
                 lambdas=_RIDGE_LAMBDAS,
                 penalty_factor=[*_PF_RAW, 1.0], exclude=[3])
    # b_tax unrounded by design: exclude=[3] must drop it to EXACTLY 0.0
    return _ridge_path_frame(
        spark, fit,
        extra=lambda f, i: {"b_tax": float(f.beta[3, i])},
        extra_schema="b_tax double",
    )


# --- glm_relaxed: the relaxed (debiased) companion path (glmnet
# relax=TRUE — absent from the reference's surface). On a ridge path the
# active set is always the full feature set, so the relaxed refit is
# exactly the OLS fit — closed form like everything else here: DuckDB
# re-derives BOTH the penalized coefficients (Cramer with the ridge
# diagonal) and the relaxed ones (the same Cramer at lambda = 0), plus
# both dev_ratios. The sparse-support (lasso) relax behavior is pinned
# by the OLS-on-support oracle tests in tests/test_relax.py.

_SOL0 = {k: v.replace('"lambda"', '0.0') for k, v in _ridge_solve_exprs().items()}

_RELAX_ORACLE = f"""
WITH {_RIDGE_SOL_CTE},
sol0 AS (SELECT {_SOL0['a0']} AS a0,
                {_SOL0['b0']} AS b0, {_SOL0['b1']} AS b1, {_SOL0['b2']} AS b2,
                {_SOL0['dev_ratio']} AS devr
         FROM rm)
SELECT sol.s, ROUND(sol."lambda", 6) AS lambda,
       ROUND(sol.a0, 2) AS a0, ROUND(sol.b0, 2) AS b_quantity,
       ROUND(sol.b1, 2) AS b_discount, ROUND(sol.b2, 2) AS b_month,
       ROUND(sol.devr, 6) AS dev_ratio,
       ROUND(sol0.a0, 2) AS ra0, ROUND(sol0.b0, 2) AS rb_quantity,
       ROUND(sol0.b1, 2) AS rb_discount, ROUND(sol0.b2, 2) AS rb_month,
       ROUND(sol0.devr, 6) AS dev_ratio_relaxed
FROM sol CROSS JOIN sol0
"""


@register("glm_relaxed", _RELAX_ORACLE)
def glm_relaxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relaxed (debiased) fit path — glmnet relax=TRUE semantics, an
    extension beyond the reference surface: every lambda's active set
    gets an UNPENALIZED refit, blended by coef/predict(gamma=). On this
    ridge path the active set is the full feature set, so DuckDB
    re-derives the penalized AND the relaxed coefficients (and both
    dev_ratios) in closed form — the whole relax machinery (refit,
    unstandardize, dev_ratio_relaxed) is hash-checked end-to-end; the
    sparse-support behavior is pinned by tests/test_relax.py."""
    from sgdnet_spark.glm import sgdnet

    fit = sgdnet(feature_frame(spark, sf_dir), _R3, "y", family="gaussian",
                 alpha=0.0, lambdas=_RIDGE_LAMBDAS, relax=True)
    return _ridge_path_frame(
        spark, fit, include_df=False,
        extra=lambda f, i: {
            "ra0": round(float(f.a0_relaxed[i]), 2),
            "rb_quantity": round(float(f.beta_relaxed[0, i]), 2),
            "rb_discount": round(float(f.beta_relaxed[1, i]), 2),
            "rb_month": round(float(f.beta_relaxed[2, i]), 2),
            "dev_ratio_relaxed": round(float(f.dev_ratio_relaxed[i]), 6),
        },
        extra_schema="ra0 double, rb_quantity double, rb_discount double, "
                     "rb_month double, dev_ratio_relaxed double",
    )


# --- decontaminate: benchmark-overlap scrub (dedup.contamination_flags).
# Benchmark = every 20th document; a corpus document is contaminated if
# it shares any word-4-gram with the benchmark set. The oracle rebuilds
# the same k-grams as strings (the Spark side compares 64-bit k-gram
# hashes — same equivalence, as with the Jaccard oracle).

_DECON_K = 4
_DECON_GRAM = " || ' ' || ".join(f"t[i+{j}]" for j in range(_DECON_K))

_DECON_ORACLE = f"""
WITH toks AS (SELECT doc_id, {{tokens}} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_DECON_K - 1})) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, {_DECON_GRAM} AS g FROM idx),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM sh s JOIN bench USING (g) WHERE s.doc_id % 20 <> 0 GROUP BY 1
"""


@register_sub("decontaminate", _DECON_ORACLE.format(tokens=_TOKENS_SQL))
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test decontamination: flag corpus documents sharing any
    word-4-gram with a benchmark split (every 20th document stands in
    for the eval set). The benchmark's distinct-gram set broadcasts; the
    corpus side is one narrow shingle pass plus an id-keyed count
    (dedup.contamination_flags — the scrub every LLM training pipeline
    runs before training)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return dedup.contamination_flags(corpus, bench, k=_DECON_K).select(
        F.col("id").alias("doc_id"), F.col("n_overlap")
    )


# --- decontaminate_fuzzy: NEAR-duplicate benchmark decontamination
# (dedup.fuzzy_contamination_flags) — the GPT-3 §C / PaLM-style fuzzy
# scrub: a lightly-edited eval example leaked into the crawl shares no
# exact long k-gram but sits at high word-3-gram Jaccard. The synthetic
# docs carry no planted leaks, so the entry PLANTS one deterministic
# near-duplicate per benchmark doc (each %20==1 document's text becomes
# its predecessor benchmark doc's text + one appended token — the
# text_pii/source_rank generation-rule pattern), and the oracle runs
# the EXHAUSTIVE corpus×bench Jaccard over the same construction: a
# hash match certifies the LSH banding path's recall 1.0 on this data
# (the dedup_minhash_lsh precedent; precision is 1.0 by construction —
# exact verify on candidates).

_DECON_FUZZY_ORACLE = """
WITH raw AS (SELECT doc_id, text FROM documents),
bench0 AS (SELECT doc_id, text FROM raw WHERE doc_id % 20 = 0),
corpus0 AS (
  SELECT doc_id, text FROM raw WHERE doc_id % 20 NOT IN (0, 1)
  UNION ALL
  SELECT doc_id + 1 AS doc_id, text || ' plantedleak' AS text FROM bench0),
ctoks AS (SELECT doc_id, {tokens} AS t FROM corpus0),
btoks AS (SELECT doc_id, {tokens} AS t FROM bench0),
csh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM ctoks)),
bsh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM btoks)),
csz AS (SELECT doc_id, COUNT(*) AS sz FROM csh GROUP BY 1),
bsz AS (SELECT doc_id, COUNT(*) AS sz FROM bsh GROUP BY 1),
inter AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS c
          FROM csh c JOIN bsh b ON c.g = b.g GROUP BY 1, 2)
SELECT inter.doc_id AS doc_id, inter.bench_id AS bench_id,
       FLOOR(c * 1.0 / (ca.sz + cb.sz - c) * 10000 + 0.5) / 10000 AS jaccard
FROM inter JOIN csz ca ON ca.doc_id = inter.doc_id
           JOIN bsz cb ON cb.doc_id = inter.bench_id
WHERE c * 1.0 / (ca.sz + cb.sz - c) >= 0.8
"""


# --- bm25_retrieval: Okapi BM25 sparse lexical retrieval
# (operators/bm25.py) — the lexical complement of the dense ANN tier,
# used for retrieval-based dedup/curation (query-based corpus auditing,
# benchmark-similarity mining). Inverted-index shape: the query term
# relation broadcasts, the one corpus-sized shuffle carries only
# touched posting lists, df/N/avgdl are Zipf-small/scalar aggregates.
# Every step is ANSI-expressible — the oracle replays the exact formula
# (Lucene idf variant, k1=1.2, b=0.75), scores grid-rounded at 4 dp on
# both sides (the text_lm_score summed-ln precedent).

_BM25_QUERIES = [
    ("q1", "spark table join fast"),
    ("q2", "window agg group batch"),
    ("q3", "hash merge sort scan"),
]

_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)

_BM25_SC_CTES = f"""
WITH q(query_id, q_text) AS (VALUES {_BM25_VALUES}),
qt AS (SELECT DISTINCT query_id, unnest(string_split(q_text, ' ')) AS term FROM q),
vocab AS (SELECT DISTINCT term FROM qt),
toks AS (SELECT doc_id, {{tokens}} AS t FROM documents),
tr AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, dl, CAST(COUNT(*) AS DOUBLE) AS tf
       FROM tr JOIN vocab USING (term) GROUP BY 1, 2, 3),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(len(t)) AS avgdl FROM toks),
dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY 1),
sc AS (SELECT qt.query_id, tf.doc_id,
              SUM(ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
                  * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
       FROM tf JOIN dft USING (term) CROSS JOIN stats JOIN qt USING (term)
       GROUP BY 1, 2)"""

_BM25_ORACLE = f"""{_BM25_SC_CTES},
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
             AS rn FROM sc)
SELECT query_id, doc_id, FLOOR(score * 10000 + 0.5) / 10000 AS score, CAST(rn AS INTEGER) AS rn
FROM r WHERE rn <= 10
"""

# round 12: the relevance-floor mode — same scoring CTEs, a pure filter
# on the RAW score instead of the per-query top-k window (the 100 TB
# corpus-audit sweep; the Spark plan carries NO window, plan-asserted
# in tests/test_bm25.py). Threshold 1.4 sits >= 7e-6 from every actual
# score at sf0.001/0.01/0.1, so the raw-score cut cannot straddle an
# engine-rounding boundary.
_BM25_FLOOR_ORACLE = f"""{_BM25_SC_CTES}
SELECT query_id, doc_id, FLOOR(score * 10000 + 0.5) / 10000 AS score
FROM sc WHERE score >= 1.4
"""


def _bm25_scored_shared(spark: SparkSession, sf_dir: str):
    """The one scored (query_id, doc_id, score) relation BOTH bm25 rows
    consume — built once per umbrella evaluation so the top-k and the
    relevance-floor rows share the single corpus tokenize (the
    text_scrub shared-spans precedent; the tf checkpoint inside
    _scored_inmemory is the expensive pass)."""
    from sgdnet_spark.operators import bm25

    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id string, q_text string")
    return bm25._scored_inmemory(
        _t(spark, sf_dir, "documents"), qdf, 1.2, 0.75,
        "text", "doc_id", "q_text", "query_id", 64,
    )


@register_sub("bm25_retrieval", _BM25_ORACLE.format(tokens=_TOKENS_SQL))
def bm25_retrieval(spark: SparkSession, sf_dir: str, scored=None) -> DataFrame:
    """BM25 top-10 documents for three fixed keyword queries:
    (query_id, doc_id, score, rn), ties by doc_id."""
    from sgdnet_spark.operators import bm25

    if scored is None:
        scored = _bm25_scored_shared(spark, sf_dir)
    if scored is None:  # empty/untokenizable corpus — typed empty frame
        return bm25._empty_result(spark, "string", "bigint", with_rn=True)
    return bm25._topk(scored, 10)


@register_sub("bm25_floor", _BM25_FLOOR_ORACLE.format(tokens=_TOKENS_SQL))
def bm25_floor(spark: SparkSession, sf_dir: str, scored=None) -> DataFrame:
    """Round 12: relevance-floor BM25 — every (query_id, doc_id, score)
    with raw score ≥ 1.4, NO per-query top-k window (bm25_filter, the
    corpus-audit sweep shape)."""
    from sgdnet_spark.operators import bm25

    if scored is None:
        scored = _bm25_scored_shared(spark, sf_dir)
    if scored is None:  # empty/untokenizable corpus — typed empty frame
        return bm25._empty_result(spark, "string", "bigint", with_rn=False)
    return bm25._floor(scored, 1.4)


# --- phrase_scan: exact-phrase matching over token positions (round
# 13, operators/bm25.py::phrase_match) — the GPT-3 appendix-C
# exact-match contamination scrub at PHRASE granularity: which
# documents contain this exact consecutive token sequence, and how
# many times. The classic positional-index intersection as one anchor
# aggregation (anchor = pos − offset; an occurrence is an anchor
# covering all k phrase offsets) — zero UDFs, and the DuckDB twin
# replays token positions with the same raw-array enumeration. The
# indexed variant (write_bm25_index(positions=True) →
# phrase_match_indexed) is equality-asserted against this in-memory
# path in tests/test_bm25.py; at 100 TB it touches only the phrase
# vocabulary's term-hash buckets, never the text.

_PHRASE_QUERIES = [
    ("p1", "table table"),
    ("p2", "scan slow"),
    ("p3", "value table part"),
]

_PHRASE_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _PHRASE_QUERIES)

_PHRASE_ORACLE = f"""
WITH p(query_id, phrase) AS (VALUES {_PHRASE_VALUES}),
pt AS (SELECT query_id, string_split(phrase, ' ') AS t FROM p),
qt AS (SELECT query_id, t[i+1] AS term, i AS off
       FROM pt, LATERAL unnest(range(len(t))) AS u(i)),
kk AS (SELECT query_id, COUNT(DISTINCT off) AS k FROM qt GROUP BY 1),
toks AS (SELECT doc_id, {{tokens}} AS t FROM documents),
dt AS (SELECT doc_id, t[i+1] AS term, i AS pos
       FROM toks, LATERAL unnest(range(len(t))) AS u(i)),
j AS (SELECT qt.query_id, dt.doc_id, dt.pos - qt.off AS anchor, qt.off
      FROM dt JOIN qt USING (term) WHERE dt.pos >= qt.off),
cov AS (SELECT query_id, doc_id, anchor, COUNT(DISTINCT off) AS c
        FROM j GROUP BY 1, 2, 3),
hits AS (SELECT cov.query_id, cov.doc_id
         FROM cov JOIN kk USING (query_id) WHERE c = kk.k)
SELECT query_id, doc_id, COUNT(*) AS n_occurrences FROM hits GROUP BY 1, 2
"""


@register_sub("phrase_scan", _PHRASE_ORACLE.format(tokens=_TOKENS_SQL))
def phrase_scan(spark: SparkSession, sf_dir: str, positions=None) -> DataFrame:
    """Exact-phrase occurrence counts for three fixed phrases over the
    documents table: (query_id, doc_id, n_occurrences). ``positions``
    forwards a caller-shared corpus positions relation (corpus_prep
    tokenizes once for this row and proximity_scan's)."""
    from sgdnet_spark.operators import bm25

    phr = spark.createDataFrame(_PHRASE_QUERIES, "query_id string, phrase string")
    return bm25.phrase_match(
        _t(spark, sf_dir, "documents"), phr, positions=positions
    )


# --- proximity_scan: windowed co-occurrence (round 13,
# operators/bm25.py::proximity_match) — the UNORDERED complement of
# phrase_scan (Lucene's sloppy-span shape): all of a query's terms
# inside one W-token window, catching near-verbatim text that reorders
# or interleaves a few words. One match-sized self-join per (query,
# doc) over the vocabulary-restricted positions; n_spans counts the
# anchor positions whose window covers all k terms. Pure integer
# output — the DuckDB twin replays the identical aggregation.

_PROX_QUERIES = [
    ("x1", "spark merge batch"),
    ("x2", "hash vector"),
    ("x3", "customer query line"),
]
_PROX_WINDOW = 8

_PROX_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _PROX_QUERIES)

_PROX_ORACLE = f"""
WITH p(query_id, q_text) AS (VALUES {_PROX_VALUES}),
qt AS (SELECT DISTINCT query_id, unnest(string_split(q_text, ' ')) AS term FROM p),
kk AS (SELECT query_id, COUNT(DISTINCT term) AS k FROM qt GROUP BY 1),
toks AS (SELECT doc_id, {{tokens}} AS t FROM documents),
dt AS (SELECT doc_id, t[i+1] AS term, i AS pos
       FROM toks, LATERAL unnest(range(len(t))) AS u(i)),
m AS (SELECT qt.query_id, dt.doc_id, dt.pos, dt.term
      FROM dt JOIN qt USING (term)),
j AS (SELECT a.query_id, a.doc_id, a.pos AS apos, b.term
      FROM m a JOIN m b ON a.query_id = b.query_id AND a.doc_id = b.doc_id
                       AND b.pos >= a.pos AND b.pos < a.pos + {_PROX_WINDOW}),
cov AS (SELECT query_id, doc_id, apos, COUNT(DISTINCT term) AS c
        FROM j GROUP BY 1, 2, 3),
hits AS (SELECT cov.query_id, cov.doc_id
         FROM cov JOIN kk USING (query_id) WHERE c = kk.k)
SELECT query_id, doc_id, COUNT(*) AS n_spans FROM hits GROUP BY 1, 2
"""


# --- containment_scan: asymmetric near-dup pairs (round 13,
# operators/dedup.py::containment_pairs) — Broder containment
# |A∩B| / min(|A|, |B|): the quote/subset/boilerplate-inclusion case
# symmetric Jaccard structurally misses. Same inverted shingle index
# as the jaccard oracle; only the denominator changes.

_CONTAIN_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       FLOOR(c * 1.0 / LEAST(sa.sz, sb.sz) * 10000 + 0.5) / 10000 AS containment
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE c * 1.0 / LEAST(sa.sz, sb.sz) >= 0.6
"""


@register_sub("containment_scan", _CONTAIN_ORACLE)
def containment_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs ≥ 0.6 over the documents table:
    (id_a, id_b, containment)."""
    return dedup.containment_pairs(_t(spark, sf_dir, "documents"), threshold=0.6)


@register_sub("proximity_scan", _PROX_ORACLE.format(tokens=_TOKENS_SQL))
def proximity_scan(spark: SparkSession, sf_dir: str, positions=None) -> DataFrame:
    """Windowed co-occurrence counts for three fixed term sets over the
    documents table: (query_id, doc_id, n_spans), window=8.
    ``positions`` forwards a caller-shared corpus positions relation
    (corpus_prep tokenizes once for this row and phrase_scan's)."""
    from sgdnet_spark.operators import bm25

    q = spark.createDataFrame(_PROX_QUERIES, "query_id string, q_text string")
    return bm25.proximity_match(
        _t(spark, sf_dir, "documents"), q, window=_PROX_WINDOW,
        positions=positions,
    )


def _match_positions_shared(spark: SparkSession, sf_dir: str):
    """The ONE union-vocabulary corpus positions relation the phrase
    and prox umbrella rows share: tokenize+posexplode the documents
    table once, keep only positions of terms either scan can use, and
    lazily localCheckpoint so the umbrella's single action materializes
    it exactly once for both consumers (guide §1.2: remove duplicate
    passes). Each scan still applies its own vocabulary restriction,
    so a union superset changes no values.

    The vocabulary is derived by Python str.split over the fixed query
    constants — safe because every query term is a bare [a-z]+ word the
    engine tokenizer maps to itself (pinned by
    tests/test_bm25.py::test_match_positions_shared_vocab_covers)."""
    from sgdnet_spark.operators import bm25

    terms = sorted(
        {t for _, txt in _PHRASE_QUERIES + _PROX_QUERIES for t in txt.split()}
    )
    dt = bm25._corpus_positions(_t(spark, sf_dir, "documents"), "text", "doc_id")
    return dt.filter(F.col("term").isin(terms)).localCheckpoint(eager=False)


def _corpus_match_shared(spark: SparkSession, sf_dir: str):
    """ONE corpus tokenize+posexplode pass for every umbrella stage
    that matches query terms against the documents table: the bm25
    scored relation (top-k + floor rows), the hybrid row's LEXICAL arm,
    and the phrase/prox positions — previously three separate corpus
    passes (guide §1.2: remove duplicate passes).

    Returns (scored, lex, positions):
    - ``scored``: the (query_id, doc_id, score) relation both bm25 rows
      consume — same tf/dft/stats inputs as bm25._scored_inmemory's
      small branch, so scores are bit-identical;
    - ``lex``: the hybrid row's BM25 top-20 list (bm25_topk contract —
      equality with the standalone path asserted in tests);
    - ``positions``: the (doc_id, pos, term) relation for the
      phrase/prox scans (each still applies its own vocabulary
      restriction — the union superset changes no values).

    The ONE materialized relation is restricted to the UNION of the
    four consumers' vocabularies (postings-sized, never corpus-sized —
    the bm25 one-scan design), carries dl for the tf consumers, and the
    corpus stats ride the same job as observe() metrics. Falls back to
    (None, None, positions) for an untokenizable corpus — the callers'
    typed-empty/None handling is unchanged."""
    from pyspark.sql import Observation

    from sgdnet_spark.operators import bm25

    docs = _t(spark, sf_dir, "documents")
    # query vocabularies, all bounded: the bm25 constants and the
    # hybrid more-like-this texts tokenize through the ENGINE tokenizer
    # over driver-local rows (one tiny LocalRelation job — term
    # semantics cannot drift between paths); phrase/prox terms are the
    # python-split constants (pinned safe by
    # tests/test_bm25.py::test_match_positions_shared_vocab_covers)
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id string, q_text string")
    hq_rows = (
        docs.filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), F.col("text").alias("q_text"))
        .collect()
    )
    local_hq = spark.createDataFrame(hq_rows, "query_id bigint, q_text string")
    bq_terms = [
        (r["query_id"], r["term"])
        for r in bm25._q_terms(qdf, "q_text", "query_id").collect()
    ]
    hq_terms = [
        (r["query_id"], r["term"])
        for r in bm25._q_terms(local_hq, "q_text", "query_id").collect()
    ]
    pp_terms = {t for _, txt in _PHRASE_QUERIES + _PROX_QUERIES for t in txt.split()}
    vocab = sorted(
        {t for _, t in bq_terms} | {t for _, t in hq_terms} | pp_terms
    )
    if not vocab:
        return None, None, None

    obs = Observation()
    doc_base = docs.select(
        F.col("doc_id").alias("doc_id"), text.tokens("text").alias("t")
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).alias("sum_dl"),
        F.count(F.size("t")).alias("n_dl"),
    )
    base = (
        doc_base.select(
            "doc_id",
            F.size("t").cast("double").alias("dl"),
            F.posexplode("t").alias("pos", "term"),
        )
        .filter(F.col("term").isin(vocab))
        .select("doc_id", "dl", F.col("pos").cast("bigint").alias("pos"), "term")
        .localCheckpoint(eager=True)
    )
    try:
        st = obs.get
    except Exception:
        if base.isEmpty():  # provably-empty corpus pruned the metrics
            return None, None, None
        raise
    positions = base.select("doc_id", "pos", "term")
    if not st or not st.get("n_dl"):
        return None, None, positions  # no tokenizable docs
    n_docs = float(st["n_docs"])
    avgdl = float(st["sum_dl"]) / float(st["n_dl"])

    def scored_for(qt_rows, qid_type):
        terms = sorted({t for _, t in qt_rows})
        q_rel = spark.createDataFrame(qt_rows, f"query_id {qid_type}, term string")
        tf = (
            base.filter(F.col("term").isin(terms))
            .groupBy("doc_id", "term", "dl")
            .agg(F.count("*").cast("double").alias("tf"))
        )
        dft = tf.groupBy("term").agg(F.count("*").cast("double").alias("dft"))
        return bm25._with_score(
            tf, dft, q_rel, n_docs, avgdl, 1.2, 0.75, hint_broadcast=True
        )

    scored = scored_for(bq_terms, "string") if bq_terms else None
    lex = bm25._topk(scored_for(hq_terms, "bigint"), 20) if hq_terms else None
    return scored, lex, positions


# --- hybrid_retrieval: reciprocal-rank fusion of the lexical and dense
# tiers (operators/fusion.py; Cormack, Clarke & Büttcher SIGIR 2009) —
# how production search/curation stacks actually combine BM25 with
# embedding cosine: ranks need no score calibration. The query set is
# the "more-like-this" shape (documents 0-2 query the corpus through
# BOTH their text and their embedding); fusion is candidate-list-sized
# (one union + one groupBy + a top-k window). Ranks are cut on the RAW
# scores in both engines (the ann_topk/bm25 precedent) and every fused
# score is a sum of 1/(60+rank) over integer ranks — bit-identical
# across engines, grid-rounded 6 dp.

_HYBRID_ORACLE = f"""
WITH q AS (SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 3),
qt AS (SELECT DISTINCT query_id, unnest({{tokens}}) AS term FROM q),
vocab AS (SELECT DISTINCT term FROM qt),
toks AS (SELECT doc_id, {{tokens}} AS t FROM documents),
tr AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, dl, CAST(COUNT(*) AS DOUBLE) AS tf
       FROM tr JOIN vocab USING (term) GROUP BY 1, 2, 3),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(len(t)) AS avgdl FROM toks),
dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY 1),
sc AS (SELECT qt.query_id, tf.doc_id,
              SUM(ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
                  * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
       FROM tf JOIN dft USING (term) CROSS JOIN stats JOIN qt USING (term)
       GROUP BY 1, 2),
lex AS (SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
        FROM sc),
lexc AS (SELECT query_id, doc_id, rn FROM lex WHERE rn <= 20),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
dq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n WHERE vec_id < 3),
ds AS (SELECT query_id, c.vec_id AS doc_id,
              list_dot_product(qe, c.e) / (qn * c.nrm) AS cos
       FROM dq JOIN n c ON c.vec_id <> dq.query_id),
dr AS (SELECT query_id, doc_id,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rn
       FROM ds),
drc AS (SELECT query_id, doc_id, rn FROM dr WHERE rn <= 20),
u AS (SELECT query_id, doc_id, 1.0 / (60 + rn) AS c FROM lexc
      UNION ALL
      SELECT query_id, doc_id, 1.0 / (60 + rn) AS c FROM drc),
f AS (SELECT query_id, doc_id, SUM(c) AS fused FROM u GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, fused,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY fused DESC, doc_id) AS rn
      FROM f)
SELECT query_id, doc_id, FLOOR(fused * 1000000 + 0.5) / 1000000 AS fused,
       CAST(rn AS INTEGER) AS rn
FROM r WHERE rn <= 10
"""


@register_sub("hybrid_retrieval", _HYBRID_ORACLE.format(tokens=_TOKENS_SQL))
def hybrid_retrieval(spark: SparkSession, sf_dir: str, lex=None) -> DataFrame:
    """Hybrid lexical+dense top-10 for three more-like-this queries:
    (query_id, doc_id, fused, rn), RRF with k0=60 over BM25 top-20 and
    exact-cosine top-20. ``lex`` forwards a caller-prebuilt lexical
    top-20 list (the corpus_prep shared-corpus-pass pattern — values
    must equal bm25_topk's, asserted in tests)."""
    from sgdnet_spark.operators import fusion

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qd = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("q_text")
    )
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    return fusion.hybrid_topk(
        docs, emb, qd.join(qv, "query_id"), k=10, pool=20, lex=lex
    )


@register_sub("decontaminate_fuzzy", _DECON_FUZZY_ORACLE.format(tokens=_TOKENS_SQL))
def decontaminate_fuzzy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-level) decontamination: (doc_id, bench_id,
    jaccard) for corpus documents whose word-3-gram Jaccard against a
    benchmark document is ≥ 0.8. Benchmark side broadcasts as band
    keys; the corpus takes ONE signature pass; exact Jaccard verifies
    candidates only."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    near = bench.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" plantedleak")).alias("text"),
    )
    corpus = docs.filter(~(F.col("doc_id") % 20).isin(0, 1)).unionByName(near)
    out = dedup.fuzzy_contamination_flags(corpus, bench, threshold=0.8)
    return out.select(F.col("id").alias("doc_id"), "bench_id", "jaccard")


# --- text_repetition: Gopher-style repetition quality signals
# (text.repetition_stats) — boilerplate/looping text that near-dup
# passes miss because nothing repeats across documents.

_REPETITION_ORACLE = """
WITH toks0 AS (SELECT doc_id, {tokens} AS t FROM documents),
toksf AS (SELECT * FROM toks0 WHERE len(t) >= 2),
tokc AS (SELECT doc_id, w, COUNT(*) AS c
         FROM (SELECT doc_id, unnest(t) AS w FROM toksf) GROUP BY 1, 2),
toka AS (SELECT doc_id, SUM(c) AS n_tok, MAX(c) AS top_tok FROM tokc GROUP BY 1),
bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toksf)),
bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
bga AS (SELECT doc_id, SUM(c) AS n_big, MAX(c) AS top_big, COUNT(*) AS uniq_big
        FROM bgc GROUP BY 1)
SELECT toka.doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       FLOOR((top_tok / n_tok) * 10000.0 + 0.5) / 10000.0 AS top_token_frac,
       FLOOR((top_big / n_big) * 10000.0 + 0.5) / 10000.0 AS top_bigram_frac,
       FLOOR((1.0 - uniq_big / n_big) * 10000.0 + 0.5) / 10000.0 AS dup_bigram_frac
FROM toka JOIN bga ON toka.doc_id = bga.doc_id
"""


@register_sub("text_repetition", _REPETITION_ORACLE.format(tokens=_TOKENS_SQL))
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (Rae et al. 2021 'Gopher' quality
    rules): most-frequent-token share, most-frequent-bigram share, and
    duplicate-bigram fraction — the within-document boilerplate tier
    that complements text_quality's length/punctuation/stopword tier.
    Counts-only shuffles; the DuckDB oracle re-derives every ratio."""
    return text.repetition_stats(_t(spark, sf_dir, "documents"))


# --- text_hash_score: model-based quality scoring (text.hash_score)
# Linear scorer over hashed bag-of-words (fastText-style filter stage).
# Buckets AND weights are md5-derived so DuckDB replays the exact score;
# every weight is a dyadic rational k/2^32, so document sums are exact
# in IEEE double in ANY summation order — no rounding anywhere.

_HS_B = 4096
_HS_SALT = "qs"

_HASH_SCORE_ORACLE = f"""
WITH toks AS (SELECT doc_id, {{tokens}} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
b AS (SELECT doc_id,
             CAST(('0x' || substr(md5(w || '{_HS_SALT}b'), 1, 8)) AS BIGINT) % {_HS_B} AS j
      FROM tok),
wv AS (SELECT doc_id,
              CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '{_HS_SALT}w'), 1, 8)) AS BIGINT)
              / 4294967296.0 - 0.5 AS wv
       FROM b)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(wv) AS score
FROM wv GROUP BY 1
"""


@register_sub("text_hash_score", _HASH_SCORE_ORACLE.format(tokens=_TOKENS_SQL))
def text_hash_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: linear model over hashed
    bag-of-words features (text.hash_score) — the filter stage after
    the rule tiers. The linear model folds to a per-token weight sum:
    zero shuffle besides the final id-keyed agg, O(tokens) codegen, the
    right shape for scoring 100 TB. A learned weight vector broadcasts
    as a literal array (tests train a sparse GLM on the same hashed
    features); the registered variant uses md5-derived weights so the
    DuckDB oracle replays bucketing AND scoring exactly."""
    return text.hash_score(
        _t(spark, sf_dir, "documents"), n_buckets=_HS_B, salt=_HS_SALT
    )


# --- text_pii: PII detection + redaction (operators/pii.py) — the
# C4/RefinedWeb/Dolma scrub stage. The synthetic documents carry no
# digits at all, so the query plants PII deterministically FROM doc_id
# (same generation rule in both engines — the multimodal_meta pattern):
# the regex automata then genuinely detect and redact it on both sides,
# which is what the oracle certifies (Java-regex/RE2 parity included).

_PII_AUG_SQL = """
    text ||
    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com now' ELSE '' END ||
    CASE WHEN doc_id % 4 = 0 THEN ' call 555-123-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
         || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END ||
    CASE WHEN doc_id % 7 = 0 THEN ' id 123-45-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
    CASE WHEN doc_id % 6 = 0 THEN ' card 5500-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234-'
         || lpad(CAST(doc_id % 7919 AS VARCHAR), 4, '0') ELSE '' END
"""

_PII_ORACLE = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
SELECT doc_id,
  {pii.count_sql('t', 'email')} AS n_email,
  {pii.count_sql('t', 'phone')} AS n_phone,
  {pii.count_sql('t', 'ipv4')} AS n_ipv4,
  {pii.count_sql('t', 'ssn')} AS n_ssn,
  {pii.count_sql('t', 'cc')} AS n_cc,
  {pii.cc_valid_sql('t')} AS n_cc_valid,
  length({pii.redact_sql('t')}) AS red_len
FROM aug
"""


@register_sub("text_pii", _PII_ORACLE)
def text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: per-document match counts for email/phone/IPv4/SSN
    shapes plus the post-redaction length. Pure codegen regexes
    (operators/pii.py) — one narrow map fused into the scan, the right
    shape at 100 TB; patterns restricted to the Java-regex/RE2 common
    subset so the DuckDB oracle runs the SAME automata."""
    did = F.col("doc_id")

    def _maybe(cond: F.Column, *parts: F.Column) -> F.Column:
        return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))

    aug = F.concat(
        F.col("text"),
        _maybe(did % 3 == 0, F.lit(" contact user"), did.cast("string"),
               F.lit("@example.com now")),
        _maybe(did % 4 == 0, F.lit(" call 555-123-"),
               F.lpad((did % 10000).cast("string"), 4, "0")),
        _maybe(did % 5 == 0, F.lit(" from 10."), (did % 256).cast("string"),
               F.lit(".0."), (did % 250).cast("string")),
        _maybe(did % 7 == 0, F.lit(" id 123-45-"),
               F.lpad((did % 10000).cast("string"), 4, "0")),
        # round 11: 16-digit card shape whose Luhn VALIDITY varies with
        # doc_id — the oracle replays the checksum per document
        _maybe(did % 6 == 0, F.lit(" card 5500-"),
               F.lpad((did % 10000).cast("string"), 4, "0"),
               F.lit("-1234-"),
               F.lpad((did % 7919).cast("string"), 4, "0")),
    )
    df = _t(spark, sf_dir, "documents").withColumn("t", aug)
    df = pii.pii_counts(df, "t")
    df = pii.cc_valid_count(df, "t")
    df = pii.redact(df, "t", out_col="red")
    return df.select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "n_ssn",
        "n_cc", "n_cc_valid",
        F.length("red").alias("red_len"),
    )


# --- text_lm_score: bigram-LM fluency scoring (text.lm_score) — the
# KenLM-perplexity filter stage (CCNet/RefinedWeb gate documents on LM
# log-prob; this is the n-gram analog, model trained on the corpus
# itself). Training = two count shuffles; scoring = one equi-join of
# the bigram stream against the model relation. ln at fixed rounding
# hash-matches DuckDB (the tfidf precedent).

_LM_K = 0.1

_LM_SCORE_ORACLE = f"""
WITH toks0 AS (SELECT doc_id, {{tokens}} AS t FROM documents),
toksf AS (SELECT * FROM toks0 WHERE len(t) >= 2),
pairs AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
          FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM toksf)),
bgc AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(cb) AS cw FROM bgc GROUP BY 1),
voc AS (SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT unnest(t) AS w FROM toksf)),
scored AS (
  SELECT p.doc_id,
         ln((COALESCE(bgc.cb, 0) + {_LM_K}) / (ctx.cw + {_LM_K} * voc.v)) AS lp
  FROM pairs p
  LEFT JOIN bgc ON p.w1 = bgc.w1 AND p.w2 = bgc.w2
  JOIN ctx ON p.w1 = ctx.w1
  CROSS JOIN voc)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       FLOOR(AVG(lp) * 10000.0 + 0.5) / 10000.0 AS avg_logp
FROM scored GROUP BY 1
"""


@register_sub("text_lm_score", _LM_SCORE_ORACLE.format(tokens=_TOKENS_SQL))
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring over documents: add-k smoothed bigram
    log-probability averaged per document (text.lm_score). The model
    (text.fit_lm) is one map-side-combined count shuffle folded to a
    per-context successor-map relation; scoring is ONE broadcast left
    equi-join of the bigram stream — zero stream shuffles, like
    hash_score. Unseen/pruned bigrams fall to the smoothed floor, so
    min_count model pruning is a size/resolution knob, not a plan
    change; fit_lm + model= reuses a fitted model across corpora."""
    return text.lm_score(_t(spark, sf_dir, "documents"), k_smooth=_LM_K)


# --- text_lm_buckets: CCNet perplexity bucketing (text.lm_buckets) —
# the gate that follows LM scoring: corpus quantile cutoffs of avg_logp
# (F.percentile == quantile_cont, the quantile_prices precedent; both
# engines round the cutoffs to the same 1e-4 grid the scores live on,
# so boundary comparisons cannot diverge) bucket each document
# 0=head/1=middle/2=tail.

_LM_BUCKETS_ORACLE = f"""
WITH scored AS ({_LM_SCORE_ORACLE.format(tokens=_TOKENS_SQL)}),
cut AS (SELECT FLOOR(quantile_cont(avg_logp, 1.0/3.0) * 10000.0 + 0.5) / 10000.0 AS c_lo,
               FLOOR(quantile_cont(avg_logp, 2.0/3.0) * 10000.0 + 0.5) / 10000.0 AS c_hi
        FROM scored)
SELECT doc_id, n_bigrams, avg_logp,
       CAST(CASE WHEN avg_logp > c_hi THEN 0
                 WHEN avg_logp > c_lo THEN 1
                 ELSE 2 END AS INTEGER) AS bucket
FROM scored, cut
"""


@register_sub("text_lm_buckets", _LM_BUCKETS_ORACLE)
def text_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity buckets over documents:
    lm_score + exact-interpolated tercile cutoffs + codegen bucketing
    (text.lm_buckets)."""
    return text.lm_buckets(_t(spark, sf_dir, "documents"), k_smooth=_LM_K)


# --- text_line_dedup: corpus-level line deduplication (dedup.line_scrub)
# — the CCNet/RefinedWeb/Dolma boilerplate-removal stage. The synthetic
# docs carry no newlines, so the registered query synthesizes line
# boundaries deterministically (the text_pii generation-rule pattern): a
# per-source boilerplate header line (planted cross-doc duplicate: every
# source shares it across its 25 docs) plus the document's tokens
# re-joined in 4-token lines (organic cross-doc dups from the shared
# vocabulary). The rebuilt clean text is certified value-exact across
# engines via an md5-u32 fingerprint (hash_u32's recipe) — order
# preservation included, since any reordering changes the fingerprint.

_LINE_M = 4  # tokens per synthesized line


def _lined_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sgdnet_spark.session import spread_small_input

    # chunking as ONE regex pass over the normalized text (every
    # _LINE_M-th space becomes a newline; the remainder tokens stay on
    # the last line) — identical strings to slice-per-chunk synthesis
    # but ~15x cheaper (measured at sf1: transform(sequence, slice(...))
    # with column offsets ran interpreted at 13.8 s CPU; the regex is
    # one codegen scan), and spread BEFORE the synthesis so the single-
    # file testdata scan doesn't serialize it onto two tasks
    d = spread_small_input(_t(spark, sf_dir, "documents"))
    body = F.regexp_replace(
        text.norm_text("text"), r"((\S+ ){" + str(_LINE_M - 1) + r"}\S+) ", "$1\n"
    )
    header = F.concat(F.lit("begin "), F.col("source"), F.lit(" standard header"))
    return d.select("doc_id", F.concat(header, F.lit("\n"), body).alias("text"))


_LINE_NORM = "trim(regexp_replace(lower(ls[pos]), '\\s+', ' ', 'g'))"

_LINE_DEDUP_ORACLE = f"""
WITH lined AS (SELECT doc_id,
  'begin ' || source || ' standard header' || chr(10) ||
  regexp_replace({{norm}}, '((\\S+ ){{{{{_LINE_M - 1}}}}}\\S+) ', '\\1' || chr(10), 'g') AS text
  FROM documents),
lx AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS pos
       FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined)),
lines AS (SELECT doc_id, pos, ls[pos] AS line, {_LINE_NORM} AS lnorm FROM lx),
lines2 AS (SELECT * FROM lines WHERE lnorm <> ''),
flg AS (SELECT lnorm FROM (SELECT DISTINCT doc_id, lnorm FROM lines2)
        GROUP BY 1 HAVING COUNT(*) >= 2),
agg AS (SELECT l.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CASE WHEN f.lnorm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
        COALESCE(string_agg(l.line, chr(10) ORDER BY l.pos) FILTER (WHERE f.lnorm IS NULL),
                 '') AS text_clean
        FROM lines2 l LEFT JOIN flg f ON l.lnorm = f.lnorm GROUP BY 1)
SELECT doc_id, n_lines, n_dup_lines,
       CAST(length(text_clean) AS BIGINT) AS clean_len,
       CAST(('0x' || substr(md5(text_clean || 'lfp'), 1, 8)) AS BIGINT) AS clean_fp
FROM agg
"""


@register_sub("text_line_dedup", _LINE_DEDUP_ORACLE.format(norm=_NORM_SQL))
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line deduplication over deterministically-lined
    documents: lines appearing in >= 2 distinct docs (the planted
    per-source header + organic 4-token collisions) are removed from
    every document, order preserved (dedup.line_scrub). The cleaned
    text rides the numeric melt as an md5-u32 fingerprint + length."""
    from sgdnet_spark.operators.sampling import hash_u32

    out = dedup.line_scrub(_lined_documents(spark, sf_dir), min_docs=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        F.length("text_clean").cast("bigint").alias("clean_len"),
        hash_u32(F.col("text_clean"), "lfp").alias("clean_fp"),
    )


# --- corpus_sample: deterministic sampling / splitting / corpus mixing
# (operators/sampling.py — the training-data-pipeline tier). Every
# decision is a pure function of md5(doc_id || salt), so DuckDB replays
# the exact keep/split decisions: stratified per-language sampling, a
# train/val/test split, a global char-budget downsample (rate from ONE
# aggregation), and corpus mixing to target language proportions (the
# scarcest-source rule T = min_s avail_s/w_s).

_STRAT_FRACS = {"en": 0.5, "zh": 1.0, "es": 0.25, "de": 0.25, "fr": 0.5}
_SPLIT_W = {"train": 0.8, "val": 0.1, "test": 0.1}
_CHAR_BUDGET = 50000.0
_MIX_W = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}
# temperature for the (share)^alpha smoothed mix (XLM-R/mT5 rule)
_TMIX_ALPHA = 0.3


def _usql(salt: str) -> str:
    return (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || "
        f"'{salt}'), 1, 8)) AS BIGINT) / 4294967296.0"
    )


def _corpus_sample_oracle() -> str:
    from sgdnet_spark.operators.sampling import split_thresholds

    fr = ", ".join(f"('{k}', {v!r})" for k, v in _STRAT_FRACS.items())
    mw = ", ".join(f"('{k}', {v!r})" for k, v in _MIX_W.items())
    t0, t1 = split_thresholds(_SPLIT_W)
    names = list(_SPLIT_W)
    return f"""
WITH d AS (SELECT doc_id, lang, n_chars,
                  {_usql('strat')} AS u_strat,
                  {_usql('split')} AS u_split,
                  {_usql('budget')} AS u_budget,
                  {_usql('mix')} AS u_mix,
                  {_usql('tmix')} AS u_tmix
           FROM documents),
fr(lang, f) AS (VALUES {fr}),
strat AS (SELECT 'stratified' AS op, lang AS key,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS n_chars
          FROM d JOIN fr USING (lang) WHERE u_strat < f GROUP BY lang),
spl AS (SELECT 'split' AS op,
               CASE WHEN u_split < {t0!r} THEN '{names[0]}'
                    WHEN u_split < {t1!r} THEN '{names[1]}'
                    ELSE '{names[2]}' END AS key,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM d GROUP BY 2),
bud AS (SELECT 'budget' AS op, 'sampled' AS key,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM d
        WHERE u_budget < LEAST(1.0, {_CHAR_BUDGET!r} / (SELECT SUM(n_chars) FROM d))),
avail AS (SELECT lang, SUM(n_chars) AS ac FROM d GROUP BY lang),
mw(lang, w) AS (VALUES {mw}),
tt AS (SELECT MIN(ac / w) AS t FROM avail JOIN mw USING (lang)),
rates AS (SELECT lang, w * (SELECT t FROM tt) / ac AS r
          FROM avail JOIN mw USING (lang)),
mx AS (SELECT 'mix' AS op, lang AS key,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS n_chars
       FROM d JOIN rates USING (lang) WHERE u_mix < r GROUP BY lang),
tw AS (SELECT lang, pow(ac / (SELECT SUM(ac) FROM avail), {_TMIX_ALPHA!r}) AS w
       FROM avail),
tt2 AS (SELECT MIN(ac / w) AS t FROM avail JOIN tw USING (lang)),
trates AS (SELECT lang, w * (SELECT t FROM tt2) / ac AS r
           FROM avail JOIN tw USING (lang)),
tmx AS (SELECT 'tmix' AS op, lang AS key,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM d JOIN trates USING (lang) WHERE u_tmix < r GROUP BY lang)
SELECT * FROM strat
UNION ALL SELECT * FROM spl
UNION ALL SELECT * FROM bud
UNION ALL SELECT * FROM mx
UNION ALL SELECT * FROM tmx
"""


@register_sub("corpus_sample", _corpus_sample_oracle())
def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data sampling, four operators in long
    format (op, key, n_docs, n_chars): per-language stratified sampling,
    train/val/test split assignment, char-budget downsampling (rate from
    one aggregation), and corpus mixing to target language shares. All
    keep/split decisions are md5(doc_id||salt) hash fractions — narrow,
    reproducible, partitioning-independent, and replayed EXACTLY by the
    DuckDB oracle (operators/sampling.py)."""
    from sgdnet_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def agg(df, op, key):
        return df.groupBy(key).agg(
            F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
        ).select(F.lit(op).alias("op"), F.col(key).cast("string").alias("key"),
                 "n_docs", "n_chars")

    strat = agg(S.stratified_sample(docs, "lang", _STRAT_FRACS), "stratified", "lang")
    spl = agg(S.split_assign(docs, _SPLIT_W), "split", "split")
    sampled, _rate = S.sample_to_budget(docs, _CHAR_BUDGET)
    bud = sampled.agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    ).select(F.lit("budget").alias("op"), F.lit("sampled").alias("key"),
             "n_docs", "n_chars")
    mixed, _rates = S.mix_corpora(docs, "lang", _MIX_W)
    mx = agg(mixed, "mix", "lang")
    tmixed, _trates = S.temperature_mix(docs, "lang", alpha=_TMIX_ALPHA)
    tm = agg(tmixed, "tmix", "lang")
    return (
        strat.unionByName(spl).unionByName(bud).unionByName(mx).unionByName(tm)
    )


# --- pack_sequences: concat-and-chunk token packing (training prep)
# Within each source, documents concatenate in doc_id order into one
# token stream cut every _PACK_BUDGET tokens (GPT-style packing; docs
# may span chunks). Placement is a pure function of the per-group
# running token count — ONE window per group, no global sort (at 100 TB
# the group key is (source, shard): packing is per training shard, so
# running sums parallelize across shards). operators/sampling.py.

_PACK_BUDGET = 128

_PACK_ORACLE = f"""
WITH t AS (SELECT doc_id, source,
                  CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM t)
SELECT doc_id, source, n_tokens,
       CAST(s // {_PACK_BUDGET} AS BIGINT) AS chunk_first,
       CAST(s % {_PACK_BUDGET} AS BIGINT) AS chunk_offset,
       CAST((s + greatest(n_tokens, 1) - 1) // {_PACK_BUDGET} AS BIGINT) AS chunk_last,
       CAST((s + greatest(n_tokens, 1) - 1) // {_PACK_BUDGET}
            - s // {_PACK_BUDGET} + 1 AS BIGINT) AS chunks_spanned
FROM c
"""


@register_sub("pack_sequences", _PACK_ORACLE)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing for training-data prep: per
    source, docs concatenate in doc_id order and split at a fixed token
    budget; each doc's (chunk_first, chunk_offset, chunk_last) placement
    is replayed exactly by the DuckDB window oracle
    (operators/sampling.py:pack_sequences)."""
    from sgdnet_spark.operators import sampling as S
    from sgdnet_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(tokens("text")).cast("bigint")
    )
    return S.pack_sequences(docs, _PACK_BUDGET, "n_tok")


# --- embedding_semdedup: SemDeDup semantic deduplication (Abbas et al.
# 2023) — k-means clusters confine the pairwise-cosine quadratic, then
# the keep-min-id domination rule drops points with a >= 1-eps neighbor
# of smaller id in the same cluster (similarity.semdedup). kmeans is
# iterative float math with no SQL twin, so the oracle is golden
# constants (the ann_approx/dedup_simhash pattern), cross-validated by
# an EXACT numpy replay given the same deterministic centroids
# (tests/test_ivf.py) plus a planted-exact-duplicate drop check.
# eps=0.55 puts the 1-eps threshold at 0.45 — the corpus' near-dup
# cosine regime established by dedup_embedding_cosine — so the driver
# row carries real kept/dropped signal, not all-kept.


@register_sub("embedding_semdedup", golden=True)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: per-vector (cluster, kept,
    nn_sim) keep/drop decisions, the consumable form of semantic
    dedup (near-dup pairs are the other two embedding entries).

    k_clusters scales with n (target cluster size ~32, the paper's
    n-proportional clustering) so the cluster-confined pair quadratic
    stays LINEAR in corpus size: fixed k was measured 360 s CPU at sf1
    (clusters grow with n -> pair work grows n^2/k); n/32 keeps per-
    cluster work constant. At the driver gate scale (500 vectors) this
    derives k=16 — exactly the previous constant, so golden values are
    unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    k = max(2, int(round(emb.count() / 32)))
    return similarity.semdedup(emb, eps=0.55, k_clusters=k, iters=3)


# --- embedding_whiten: PCA whitening of the embedding column
# (operators/whiten.py) — the preprocessing stage retrieval/dedup
# pipelines run before similarity search (whitened cosine ≈ Mahalanobis
# similarity; truncation compacts the ANN index). Fit = ONE distributed
# moments pass ((dim²+dim+1)-sized partials, the GLM sufficient-
# statistic shape) + a driver-side 64×64 eigh with a deterministic
# sign rule; transform = a zero-shuffle Arrow map over the broadcast
# (μ, W). No SQL twin for the eigendecomposition, so the oracle is
# golden constants (the embedding_semdedup pattern) cross-validated by
# an exact numpy replay + identity-covariance / partitioning-
# independence / streaming-twin tests (tests/test_whiten.py).


@register_sub("embedding_whiten", golden=True)
def embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-4 whitened principal components per embedding vector
    (descending eigenvalue order, 4 dp) plus ``maha`` — the FULL
    whitened norm (= eps-regularized Mahalanobis distance to the corpus
    mean). maha is invariant to every LAPACK-arbitrary choice in the
    eigendecomposition (eigenvector signs, rotation within degenerate
    eigenspaces — tests/test_whiten.py), so the golden gate carries a
    basis-free check alongside the pc columns; the pc columns
    themselves are stable on this corpus because the top eigengaps are
    wide relative to the 4 dp rounding (asserted in tests)."""
    from sgdnet_spark.operators import whiten as _w

    emb = _t(spark, sf_dir, "embeddings")
    mu, wm, _ = _w.fit_whitener(emb)
    out = _w.whiten(emb, mu, wm)
    return out.select(
        F.col("id").alias("vec_id"),
        *[F.round(F.element_at("w", i + 1), 4).alias(f"pc{i + 1}") for i in range(4)],
        F.round(
            F.sqrt(F.aggregate("w", F.lit(0.0), lambda a, v: a + v * v)), 4
        ).alias("maha"),
    )


# --- corpus_cluster_balance: cluster-balanced selection
# (sampling.cluster_balance) — mix_corpora's scarcest-source rule keyed
# on k-means embedding clusters instead of provenance: the
# diversity-balancing curation stage (DataComp/SemDeDup-family
# pipelines rebalance over semantic clusters so no topic dominates).
# kmeans float assignment has no SQL twin, so the oracle is golden
# constants (the embedding_semdedup pattern), cross-validated by an
# exact python replay of assignment → counts → scarcest-cluster rates →
# md5-fraction keep decisions plus share/partitioning-independence
# properties (tests/test_sampling.py).


@register_sub("corpus_cluster_balance", golden=True)
def corpus_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform cluster-share selection over the embeddings table:
    per-vector (vec_id, cluster, kept) decisions — every keep a pure
    function of md5(id || salt), rates fit by ONE count aggregation."""
    from sgdnet_spark.operators import sampling

    out, _ = sampling.cluster_balance(
        _t(spark, sf_dir, "embeddings"), k_clusters=8, iters=3
    )
    return out.select(F.col("id").alias("vec_id"), "cluster", "kept")


# --- bpe_merges: distributed BPE tokenizer training (operators/bpe.py)
# — the subword-vocabulary stage (Sennrich et al. 2016). One corpus pass
# builds the Zipf-small (word, count) relation; each merge is one
# map-side-combined pair-count agg + a 1-row argmax + a codegen
# greedy-left rewrite, localCheckpoint-ed so Catalyst analysis stays
# constant per iteration. The merge loop is iterative argmax — no SQL
# twin — so the oracle is golden constants, cross-validated by an EXACT
# python replay of counts/tie-breaks/overlap semantics plus an
# apply_bpe round-trip (tests/test_operators.py).


@register_sub("bpe_merges", golden=True)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge table learned from the documents corpus: (rank, left,
    right, pair_count), deterministic (count DESC, left ASC, right ASC)
    argmax per rank (bpe.bpe_learn)."""
    return bpe.bpe_learn(_t(spark, sf_dir, "documents"), n_merges=24, min_freq=2)


# --- source_rank: PageRank centrality as a corpus quality prior
# (operators/graph.py) — the Common-Crawl-curation pattern of ranking
# hosts by link centrality and feeding the rank into sampling/mixing.
# The synthetic docs carry no links, so the registered query synthesizes
# a deterministic citation graph from doc_id (the text_pii/line_dedup
# generation-rule pattern): doc i cites doc hash_u32(i,'cite') % n, and
# the edge is (source(i) -> source(cited)). The fixed-iteration update
# is SQL-expressible, so the oracle UNROLLS the same 12 iterations as
# CTE stages r0..r12 — cross-engine float drift cannot accumulate
# because the damping update is a contraction (factor 0.85 < 1), and
# both sides round the final rank to 6 dp.

_PR_ITERS = 12


_PPR_SEEDS = 3  # teleport seed set: the 3 lexicographically-first sources


def _source_rank_stage(tag: str, ppr: bool, n_iter: int = _PR_ITERS) -> str:
    """One PageRank replay stage. ``ppr=False`` is classic uniform
    teleport (t = 1/k — algebraically identical to the round-8 oracle);
    ``ppr=True`` is the personalized variant: teleport concentrated
    uniformly on a deterministic seed set (the lexicographically-first
    _PPR_SEEDS sources), replaying pagerank(teleport=seeds) — the
    rank-relative-to-a-trusted-set curation form. Both use the one
    update rank = (1-d)·t + d·(contrib + dangling_mass·t), init r0 = t."""
    head = """SELECT * FROM (
WITH docs AS (SELECT doc_id, source FROM documents),
cnt AS (SELECT COUNT(*) AS n FROM docs),
edges AS MATERIALIZED (
  SELECT d.source AS src, d2.source AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM docs d
  JOIN docs d2 ON d2.doc_id =
    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'cite'), 1, 8)) AS BIGINT)
      % (SELECT n FROM cnt)
  GROUP BY 1, 2),
outw AS MATERIALIZED (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
trans AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.ow AS p
          FROM edges e JOIN outw o ON o.src = e.src),
nodes AS MATERIALIZED (SELECT DISTINCT source AS node FROM docs),
kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM nodes),
inw AS (SELECT dst, CAST(SUM(w) AS BIGINT) AS in_w FROM edges GROUP BY dst),
dang AS MATERIALIZED (SELECT node FROM nodes
         WHERE node NOT IN (SELECT DISTINCT src FROM edges)),"""
    if ppr:
        head += f"""
seeds AS MATERIALIZED (SELECT node FROM nodes ORDER BY node LIMIT {_PPR_SEEDS}),
tvec AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN 1.0 / (SELECT COUNT(*) FROM seeds) ELSE 0.0 END AS t
  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),"""
    else:
        head += """
tvec AS MATERIALIZED (SELECT node, 1.0 / (SELECT k FROM kk) AS t FROM nodes),"""
    head += """
r0 AS MATERIALIZED (SELECT node, t AS rank FROM tvec)"""
    its = []
    for i in range(1, n_iter + 1):
        # dangling-mass redistribution mirrors graph.pagerank's update
        # exactly; on the synthesized contiguous-id citation graph the
        # dang set is empty (every source has out-edges), but the oracle
        # must not silently implement a DIFFERENT equation than the
        # operator it certifies. MATERIALIZED is load-bearing: DuckDB
        # inlines plain CTEs per reference, and with r{i-1} referenced
        # twice (contrib + dangling sum) the unrolled tree would expand
        # 2^12-fold (measured: file-handle exhaustion re-scanning the
        # parquet thousands of times)
        its.append(
            f"""r{i} AS MATERIALIZED (
  SELECT n.node,
         (1 - 0.85) * tv.t + 0.85 * (COALESCE(c.c, 0)
           + (SELECT COALESCE(SUM(r.rank), 0) FROM r{i - 1} r
              JOIN dang dg ON dg.node = r.node) * tv.t)
           AS rank
  FROM nodes n JOIN tvec tv ON tv.node = n.node
  LEFT JOIN (
    SELECT t.dst AS node, SUM(t.p * r.rank) AS c
    FROM trans t JOIN r{i - 1} r ON r.node = t.src GROUP BY t.dst) c
  ON c.node = n.node)"""
        )
    tail = f"""
SELECT '{tag}' AS mode, r.node AS source,
       CAST(COALESCE(i.in_w, 0) AS BIGINT) AS in_w,
       ROUND(r.rank, 6) AS rank
FROM r{n_iter} r LEFT JOIN inw i ON i.dst = r.node )"""
    return head + ",\n" + ",\n".join(its) + tail


def _source_hits_stage(n_iter: int = _PR_ITERS) -> str:
    """HITS replay stage (round 10): hub/auth power iterations unrolled
    as CTE pairs — each half-step is one weighted-sum aggregate over the
    edge relation plus a scalar L2 normalizer (CASE-guarded so an
    edgeless graph yields zeros, mirroring graph.hits). Normalization
    pins the scale every half-step and non-principal components decay
    geometrically, so cross-engine float drift contracts (the pagerank
    contraction argument); both sides round to 6 dp."""
    head = """SELECT * FROM (
WITH docs AS (SELECT doc_id, source FROM documents),
cnt AS (SELECT COUNT(*) AS n FROM docs),
edges AS MATERIALIZED (
  SELECT d.source AS src, d2.source AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM docs d
  JOIN docs d2 ON d2.doc_id =
    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'cite'), 1, 8)) AS BIGINT)
      % (SELECT n FROM cnt)
  GROUP BY 1, 2),
nodes AS MATERIALIZED (SELECT DISTINCT source AS node FROM docs),
kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM nodes),
inw AS (SELECT dst, CAST(SUM(w) AS BIGINT) AS in_w FROM edges GROUP BY dst),
h0 AS MATERIALIZED (SELECT node, 1.0 / sqrt((SELECT k FROM kk)) AS s FROM nodes)"""
    its = []
    for i in range(1, n_iter + 1):
        for tag, prev, efrom, eto in (
            (f"a{i}", f"h{i - 1}", "src", "dst"),
            (f"h{i}", f"a{i}", "dst", "src"),
        ):
            its.append(
                f"""{tag}r AS MATERIALIZED (
  SELECT n.node, COALESCE(x.r, 0.0) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.{eto} AS node, SUM(e.w * p.s) AS r
    FROM edges e JOIN {prev} p ON p.node = e.{efrom} GROUP BY e.{eto}) x
  ON x.node = n.node),
{tag} AS MATERIALIZED (
  SELECT node, CASE WHEN z > 0 THEN r / z ELSE 0.0 END AS s
  FROM {tag}r, (SELECT sqrt(SUM(r * r)) AS z FROM {tag}r))"""
            )
    tail = f"""
SELECT 'hub' AS mode, h.node AS source,
       CAST(COALESCE(i.in_w, 0) AS BIGINT) AS in_w, ROUND(h.s, 6) AS rank
FROM h{n_iter} h LEFT JOIN inw i ON i.dst = h.node
UNION ALL
SELECT 'auth' AS mode, a.node AS source,
       CAST(COALESCE(i.in_w, 0) AS BIGINT) AS in_w, ROUND(a.s, 6) AS rank
FROM a{n_iter} a LEFT JOIN inw i ON i.dst = a.node )"""
    return head + ",\n" + ",\n".join(its) + tail


def _source_rank_oracle(n_iter: int = _PR_ITERS) -> str:
    return (
        _source_rank_stage("pr", False, n_iter)
        + "\nUNION ALL\n"
        + _source_rank_stage("ppr", True, n_iter)
        + "\nUNION ALL\n"
        + _source_hits_stage(n_iter)
    )


@register_sub("source_rank", _source_rank_oracle())
def source_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link centrality over the synthesized source citation graph in
    four modes of one (mode, source, in_w, rank) frame: mode='pr' is
    classic uniform-teleport PageRank, mode='ppr' (round 9)
    personalizes the teleport onto the lexicographically-first 3
    sources (the trusted-seed curation variant), and mode='hub'/'auth'
    (round 10) are Kleinberg HITS hubs/authorities — the
    quality-by-citation prior complementing PageRank's random-surfer
    one (graph.hits; the oracle unrolls the normalized power iterations
    as CTE pairs). The corpus-pass edge relation is built ONCE and
    localCheckpoint-ed; all four ranks run on it."""
    from sgdnet_spark.operators import graph as G
    from sgdnet_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    n = docs.count()
    cites = docs.select(
        F.col("source").alias("src"),
        (sampling.hash_u32(F.col("doc_id"), "cite") % n).alias("cited"),
    )
    d2 = docs.select(F.col("doc_id").alias("cited"), F.col("source").alias("dst"))
    edges = (
        cites.join(d2, "cited")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
        # the corpus pass runs once; both teleport modes (and inw) read
        # the node-graph-sized checkpoint
        .localCheckpoint(eager=True)
    )
    # seed universe = ALL document sources (the oracle's nodes CTE), not
    # edge endpoints: a source with no citation edges would otherwise
    # diverge the seed sets (round-9 advice — today every source IS an
    # endpoint by generator construction, but don't depend on it)
    seeds = (
        docs.select(F.col("source").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_PPR_SEEDS)
    )
    inw = edges.groupBy("dst").agg(F.sum("w").cast("bigint").alias("in_w"))

    # Round 13 (optimization): the three solver runs (pr, ppr, hits)
    # are independent chains of small driver jobs over the SAME
    # checkpointed edge relation — a thread pool overlaps their setup
    # checkpoints/collects (guide §2.6); the union consumes results in
    # the fixed mode order, so values are unchanged.
    def run_pr(tag, tele):
        pr = G.pagerank(edges, weight="w", damping=0.85, n_iter=_PR_ITERS,
                        teleport=tele)
        return pr.join(inw, pr.node == inw.dst, "left").select(
            F.lit(tag).alias("mode"),
            F.col("node").alias("source"),
            F.coalesce(F.col("in_w"), F.lit(0)).cast("bigint").alias("in_w"),
            F.round("rank", 6).alias("rank"),
        )

    # node universe = ALL document sources (the oracle's nodes CTE and
    # its 1/sqrt(k) init) — the same don't-depend-on-endpoint-coverage
    # hardening the PPR seeds got in round 9
    def run_hits():
        ht = G.hits(
            edges, weight="w", n_iter=_PR_ITERS,
            nodes=docs.select("source").distinct(),
        )
        return [
            ht.join(inw, ht.node == inw.dst, "left").select(
                F.lit(tag).alias("mode"),
                F.col("node").alias("source"),
                F.coalesce(F.col("in_w"), F.lit(0)).cast("bigint").alias("in_w"),
                F.round(tag, 6).alias("rank"),
            )
            for tag in ("hub", "auth")
        ]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_pr = pool.submit(run_pr, "pr", None)
        f_ppr = pool.submit(run_pr, "ppr", seeds)
        f_hits = pool.submit(run_hits)
        parts = [f_pr.result(), f_ppr.result()] + f_hits.result()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- text_repeated_spans: ExactSubstr-style repeated-span detection
# (dedup.repeated_spans — Lee et al. 2022 arXiv:2107.06499): character
# spans occurring >= 2 times anywhere in the corpus, found via
# content-defined mod-p window sampling (no suffix array) and merged
# per doc by a gaps-and-islands window pass. Both the md5 window
# selection and the island merge are ANSI-expressible, so the DuckDB
# twin replays detection AND merging exactly; the registered entry
# reports per-doc span stats over ALL docs (zero-span docs included).

_XS_K = 32
_XS_P = 4

# detection CTE block (normalized text -> merged spans), shared by the
# stats oracle and the scrub oracle below
_XS_SP_CTES = f"""d AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
g0 AS (SELECT doc_id, t,
              unnest(generate_series(1, CAST(length(t) AS BIGINT) - {_XS_K} + 1))
                AS pos
       FROM d),
g AS (SELECT doc_id, pos, md5(substr(t, CAST(pos AS INT), {_XS_K}) || 'xs') AS h
      FROM g0),
sel AS (SELECT * FROM g
        WHERE CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % {_XS_P} = 0),
rep AS (SELECT h FROM sel GROUP BY h HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, pos FROM sel JOIN rep USING (h)),
isl AS (SELECT doc_id, pos,
          CASE WHEN pos > COALESCE(MAX(pos + {_XS_K} - 1) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
               THEN 1 ELSE 0 END AS brk
        FROM hits),
grp AS (SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS gid
        FROM isl),
sp AS (SELECT doc_id, MIN(pos) AS s_start, MAX(pos) + {_XS_K} - 1 AS s_end
       FROM grp GROUP BY doc_id, gid)"""

_REPEATED_SPANS_ORACLE = f"""
WITH {_XS_SP_CTES}
SELECT d.doc_id, CAST(COUNT(sp.s_start) AS BIGINT) AS n_spans,
       CAST(COALESCE(SUM(sp.s_end - sp.s_start + 1), 0) AS BIGINT) AS dup_chars,
       CAST(COALESCE(MAX(sp.s_end - sp.s_start + 1), 0) AS BIGINT) AS longest
FROM d LEFT JOIN sp ON sp.doc_id = d.doc_id
GROUP BY d.doc_id
"""


@register_sub("text_repeated_spans", _REPEATED_SPANS_ORACLE)
def text_repeated_spans(spark: SparkSession, sf_dir: str,
                        spans: DataFrame | None = None) -> DataFrame:
    """Per-doc repeated-span stats (n_spans, dup_chars, longest) from
    dedup.repeated_spans — the substring-granularity dedup signal a
    scrub stage cuts or down-weights on. ``spans`` reuses a precomputed
    detection relation (the text_scrub umbrella shares ONE detection
    pass between this and the scrub stage)."""
    from sgdnet_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    sp = spans if spans is not None else dedup.repeated_spans(
        docs, k=_XS_K, mod_p=_XS_P
    )
    agg = sp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("s_end") - F.col("s_start") + 1).cast("bigint").alias(
            "dup_chars"
        ),
        F.max(F.col("s_end") - F.col("s_start") + 1).cast("bigint").alias(
            "longest"
        ),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
        F.coalesce("longest", F.lit(0)).cast("bigint").alias("longest"),
    )


# --- text_scrub_spans: the REMOVAL half of ExactSubstr dedup (Lee et
# al. cut every occurrence of a duplicated substring) — dedup.scrub_spans
# splices the detected spans out of the normalized text. The oracle
# replays the splice as the kept GAP segments between consecutive spans
# (LAG over the span relation + the tail segment) string_agg'd in
# position order; the spliced text itself is certified value-exact
# across engines (order preservation included) via the md5-u32
# clean-text fingerprint, the text_line_dedup clean_fp pattern.

_SCRUB_SPANS_ORACLE = f"""
WITH {_XS_SP_CTES},
gaps AS (
  SELECT doc_id,
         COALESCE(LAG(s_end) OVER (PARTITION BY doc_id ORDER BY s_start), 0)
           + 1 AS gs,
         s_start - 1 AS ge
  FROM sp
  UNION ALL
  SELECT doc_id, MAX(s_end) + 1 AS gs, NULL AS ge FROM sp GROUP BY doc_id
),
clean0 AS (
  SELECT g.doc_id,
         string_agg(substr(d.t, CAST(g.gs AS INT),
             CAST(GREATEST(COALESCE(g.ge, length(d.t)) - g.gs + 1, 0) AS INT)),
           '' ORDER BY g.gs) AS text_clean
  FROM gaps g JOIN d ON d.doc_id = g.doc_id
  GROUP BY g.doc_id
),
outx AS (
  SELECT d.doc_id, d.t, COALESCE(c.text_clean, d.t) AS text_clean
  FROM d LEFT JOIN clean0 c ON c.doc_id = d.doc_id
)
SELECT doc_id,
       CAST(length(t) - length(text_clean) AS BIGINT) AS n_cut_chars,
       CAST(length(text_clean) AS BIGINT) AS clean_len,
       CAST(('0x' || substr(md5(text_clean || 'sfp'), 1, 8)) AS BIGINT) AS clean_fp
FROM outx
"""


@register_sub("text_scrub_spans", _SCRUB_SPANS_ORACLE)
def text_scrub_spans(spark: SparkSession, sf_dir: str,
                     spans: DataFrame | None = None) -> DataFrame:
    """Repeated-span REMOVAL (dedup.scrub_spans): each document's
    normalized text with every corpus-repeated span spliced out — the
    operator a pipeline actually runs after detection. The spliced text
    rides the numeric melt as an md5-u32 fingerprint + length, so the
    driver hash certifies the clean text values, not just the stats.
    ``spans`` reuses a precomputed detection relation (umbrella sharing)."""
    from sgdnet_spark.operators import dedup
    from sgdnet_spark.operators.sampling import hash_u32

    docs = _t(spark, sf_dir, "documents")
    out = dedup.scrub_spans(docs, spans=spans, k=_XS_K, mod_p=_XS_P)
    return out.select(
        "doc_id",
        "n_cut_chars",
        F.length("text_clean").cast("bigint").alias("clean_len"),
        hash_u32(F.col("text_clean"), "sfp").alias("clean_fp"),
    )


# --- corpus_dsir: DSIR data selection (operators/dsir.py — Xie et al.
# 2023, arXiv:2302.03169): select raw docs that look like a target
# corpus by hashed-unigram importance weights + Gumbel-top-k resampling.
# Target = the English slice, raw = the whole corpus; both stages reuse
# the text_hash_score md5 recipe, so the oracle replays bucket counts,
# add-α log-ratios, per-doc score folds, Gumbel keys, and the top-k rank
# identically (scores/keys rounded to 4 dp on both sides — the lm_score
# precedent for summed-ln drift).

_DSIR_B = 4096
_DSIR_K = 100
_DSIR_SALT = "ds"

# feature relations (doc_id, lang, w): hashed unigrams, and — the
# paper's hashed n-gram feature set (round 9, driver-certified) —
# unigrams + adjacent 'w1_w2' bigrams
_DSIR_FEAT_UNI = "SELECT doc_id, lang, unnest(t) AS w FROM toks"
_DSIR_FEAT_BI = """SELECT doc_id, lang, unnest(t) AS w FROM toks
  UNION ALL
  SELECT doc_id, lang, t[i] || '_' || t[i + 1] AS w
  FROM (SELECT doc_id, lang, t,
               unnest(generate_series(1, CAST(len(t) AS BIGINT) - 1)) AS i
        FROM toks)"""


def _dsir_stage_sql(feat_rel: str, tag: str) -> str:
    """One DSIR fit/score/Gumbel-top-k replay over a feature relation."""
    return f"""
SELECT * FROM (
WITH toks AS (SELECT doc_id, lang, {_TOKENS_SQL} AS t FROM documents),
feat AS ({feat_rel}),
b AS (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(w || '{_DSIR_SALT}b'), 1, 8)) AS BIGINT)
               % {_DSIR_B} AS j
      FROM feat),
tc AS (SELECT j, COUNT(*) AS c FROM b WHERE lang = 'en' GROUP BY 1),
rc AS (SELECT j, COUNT(*) AS c FROM b GROUP BY 1),
bk AS (SELECT range AS j FROM range({_DSIR_B})),
lr AS (SELECT bk.j,
         ln(COALESCE(tc.c, 0) + 1.0)
           - ln((SELECT SUM(c) FROM tc) + 1.0 * {_DSIR_B})
           - ln(COALESCE(rc.c, 0) + 1.0)
           + ln((SELECT SUM(c) FROM rc) + 1.0 * {_DSIR_B}) AS lr
       FROM bk LEFT JOIN tc ON tc.j = bk.j LEFT JOIN rc ON rc.j = bk.j),
sc AS (SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              ROUND(SUM(lr.lr), 4) AS logw
       FROM b JOIN lr ON lr.j = b.j GROUP BY 1),
ky AS (SELECT doc_id, n_tokens, logw,
         ROUND(logw + (-ln(-ln(
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'dg'), 1, 8))
             AS BIGINT) + 0.5) / 4294967296.0))), 4) AS key
       FROM sc)
SELECT '{tag}' AS feats, doc_id, n_tokens, logw, key FROM ky
ORDER BY key DESC, doc_id LIMIT {_DSIR_K} )
"""


_DSIR_ORACLE = (
    _dsir_stage_sql(_DSIR_FEAT_UNI, "uni")
    + "\nUNION ALL\n"
    + _dsir_stage_sql(_DSIR_FEAT_BI, "bi")
)


@register_sub("corpus_dsir", _DSIR_ORACLE)
def corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection of the {_DSIR_K} raw docs most target-like under
    the English-slice model, in both feature modes: hashed unigrams
    (feats='uni') and the paper's hashed n-gram set — unigrams +
    adjacent bigrams (feats='bi'). Each stage: fit is one tagged count
    shuffle over both corpora (B-sized per corpus and mode), scoring a
    zero-shuffle, join-free mapInArrow fold over the log-ratio vector,
    selection a distributed Gumbel-top-k."""
    from sgdnet_spark.operators import dsir as D

    docs = _t(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en")
    # one tagged count pass per corpus fits BOTH feature modes
    lrs = D.fit_dsir_modes(en, docs, n_buckets=_DSIR_B, salt=_DSIR_SALT)
    parts = []
    for tag, bi in (("uni", False), ("bi", True)):
        parts.append(
            D.dsir_resample(docs, lrs[tag], k=_DSIR_K, salt=_DSIR_SALT,
                            bigrams=bi)
            .select(F.lit(tag).alias("feats"), "*")
        )
    return parts[0].unionByName(parts[1])


# --- events_funnel: staged conversion funnel (view -> click -> purchase)
# Each stage is the earliest qualifying event strictly after the user's
# previous-stage time: one user_id-keyed aggregation per stage plus a
# user-keyed equijoin back — no window over the whole event stream, no
# driver state; latency totals are exact integer microsecond sums so the
# oracle comparison is float-free.

_FUNNEL_ORACLE = """
WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t1, MIN(v.t0) AS t0
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(c.t1) AS t1
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY e.user_id)
SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(NULL AS BIGINT) AS lat_us_total FROM v
UNION ALL
SELECT '2_click', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(epoch_us(t1) - epoch_us(t0)) AS BIGINT) FROM c
UNION ALL
SELECT '3_purchase', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(epoch_us(t2) - epoch_us(t1)) AS BIGINT) FROM p
"""


@register_sub("events_funnel", _FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel over events: users whose first view is followed
    by a later click is followed by a later purchase, with exact
    microsecond latency totals per stage transition."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"), F.min("t0").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t1"), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )

    def stage(df, name, lat):
        lat_agg = (
            F.sum(lat).cast("bigint")
            if lat is not None
            else F.max(F.lit(None).cast("bigint"))
        )
        out = df.agg(
            F.count("*").cast("bigint").alias("n_users"),
            lat_agg.alias("lat_us_total"),
        )
        return out.select(F.lit(name).alias("stage"), "n_users", "lat_us_total")

    r1 = stage(v, "1_view", None)
    r2 = stage(c, "2_click", F.unix_micros("t1") - F.unix_micros("t0"))
    r3 = stage(p, "3_purchase", F.unix_micros("t2") - F.unix_micros("t1"))
    return r1.unionByName(r2).unionByName(r3)


# --- events_retention: cohort retention matrix
# Week indexes are TRUNCATING integer division of (days since
# 2024-01-01) by 7 — Spark `DIV` and DuckDB `//` both truncate toward
# zero, so the arithmetic is identical in both engines even for events
# before the epoch date (floor() would not be: Spark floor(-3/7) = -1
# vs DuckDB (-3)//7 = 0). Calendar week truncation differs across
# dialects, hence the integer form. Two user-keyed aggregations plus
# one (cohort, offset) agg; the (user, week) distinct is map-side.

_RETENTION_ORACLE = """
WITH w AS (SELECT DISTINCT user_id,
                  (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk
           FROM events),
f AS (SELECT user_id, MIN(wk) AS cohort FROM w GROUP BY user_id)
SELECT CAST(f.cohort AS BIGINT) AS cohort_week,
       CAST(w.wk - f.cohort AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM w JOIN f ON w.user_id = f.user_id
GROUP BY 1, 2
"""


@register_sub("events_retention", _RETENTION_ORACLE)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    in each later activity week (offset from the cohort). COUNT(*) over
    the distinct (user, week) grid == COUNT(DISTINCT user) per cell."""
    ev = _t(spark, sf_dir, "events")
    w = ev.select(
        "user_id",
        F.expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') DIV 7 AS BIGINT)").alias(
            "wk"
        ),
    ).distinct()
    f = w.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        w.join(f, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.col("wk") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# --- sketch_prefilter: sketches with exact-verify (exact output)
# The sketch tier (operators/sketch.py) gets a value-hash-checkable
# driver row via the same pattern as LSH: approximate candidate
# generation + exact verification = exact output. (a) a Bloom filter on
# a selective part subset pre-filters lineitem BEFORE the shuffle (at
# 100 TB the probe-side drop is the point); the exact semi-join then
# removes false positives. (b) a Count-Min sketch (one bounded d×w
# pass) screens distinct keys for count >= T — CMS never underestimates,
# so no heavy hitter is lost — and an exact recount on the candidates
# keeps only the true ones. Both results equal the plain SQL answers.

_SKETCH_BRAND = "Brand#7"
_SKETCH_MIN_SIZE = 25
_HEAVY_T = 45

_SKETCH_ORACLE = f"""
WITH sel AS (SELECT p_partkey FROM part
             WHERE p_brand = '{_SKETCH_BRAND}' AND p_size >= {_SKETCH_MIN_SIZE}),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(SUM(l_quantity), 2) AS val
      FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM sel)),
h AS (SELECT l_partkey, COUNT(*) AS c FROM lineitem
      GROUP BY 1 HAVING COUNT(*) >= {_HEAVY_T})
SELECT 'bloom_semijoin' AS op, 'all' AS key, cnt, val FROM a
UNION ALL
SELECT 'cms_heavy', CAST(l_partkey AS VARCHAR), CAST(c AS BIGINT),
       CAST(NULL AS DOUBLE) FROM h
UNION ALL
SELECT 'exact_distinct', l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT), CAST(NULL AS DOUBLE)
FROM lineitem GROUP BY l_returnflag
"""


@register("sketch_prefilter", _SKETCH_ORACLE, golden=True)
def sketch_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join + CMS-screened heavy hitters, both
    exact after verification (operators/sketch.py) — the sketches do the
    sublinear candidate work, exact passes certify the output."""
    from sgdnet_spark.operators import sketch as SK

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sel = part.filter(
        (F.col("p_brand") == _SKETCH_BRAND) & (F.col("p_size") >= _SKETCH_MIN_SIZE)
    ).select("p_partkey")

    # Round 13 (optimization): the bloom row's eager build chain (the
    # sizing count + the distributed bitset build, two serial driver
    # jobs) runs on its own thread, overlapped with the lazy py4j
    # construction of every other row below (guide §2.6) — values
    # unchanged, the union consumes the same frames in the same order.
    def build_bloom_row():
        # size the filter from the ACTUAL build-side count (one cheap
        # job on a filtered dimension) — a hardcoded capacity saturates
        # the bitset as soon as the build side outgrows it and the
        # prefilter stops filtering, which defeats its purpose at
        # exactly the larger scales
        bf = SK.bloom_filter(sel, "p_partkey", expected=max(int(sel.count()), 64))
        pre = li.filter(bf.might_contain_col(F.col("l_partkey")))
        exact = pre.join(
            F.broadcast(sel), pre.l_partkey == sel.p_partkey, "left_semi"
        )
        return exact.agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("val"),
        ).select(
            F.lit("bloom_semijoin").alias("op"), F.lit("all").alias("key"), "cnt", "val"
        )

    from concurrent.futures import ThreadPoolExecutor

    _pool = ThreadPoolExecutor(max_workers=1)
    f_bloom = _pool.submit(build_bloom_row)
    # shutdown immediately after the one submit (ADVICE r13): a
    # shut-down executor still runs the queued task and serves
    # result(); the worker thread then exits on its own, so no
    # exception in the lazy CMS/theta/exact construction below can
    # leak it for the session
    _pool.shutdown(wait=False)

    # the CMS must be sized to the threshold to discriminate: expected
    # collision mass per counter is N/w, so w ≈ 8N/T keeps it ≈ T/8 and
    # keys far below T fail the screen. A fixed eps (w ≈ 544) would put
    # eps·N far above T and pass EVERY key — a vacuous screen. Capped at
    # 2^18 counters per seed row (sketch memory stays bounded; if the
    # cap binds, the screen coarsens but exactness is unaffected).
    # N comes from parquet footer metadata (zero data read) — sizing
    # only affects screen sharpness, never exactness, so it must not
    # cost a full scan at 100 TB.
    import math

    n_rows = SK.parquet_row_count(f"{sf_dir}/lineitem.parquet")
    if n_rows is None:
        n_rows = li.count()
    w_target = min(1 << 18, max(544, -(-8 * n_rows // _HEAVY_T)))
    # relation mode: touched cells never round-trip through the driver
    # (measured 2× less CPU at sf0.1). d=3 (confidence 0.95) halves the
    # build vs d=5 for a marginally coarser screen — coarseness only
    # adds verify work, never wrong output (superset + exact recount)
    cms = SK.count_min(
        li, "l_partkey", eps=math.e / w_target, confidence=0.95, as_relation=True
    )
    cand = SK.cms_screen(
        li.select("l_partkey").distinct(), "l_partkey", cms, _HEAVY_T
    )
    # no broadcast hint: the candidate set is usually tiny (true upper
    # tail) but can legitimately be large when most keys ARE heavy —
    # let AQE pick the join strategy from the measured size
    heavy = (
        li.join(cand, "l_partkey", "left_semi")
        .groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= _HEAVY_T)
        .select(
            F.lit("cms_heavy").alias("op"),
            F.col("l_partkey").cast("string").alias("key"),
            "cnt",
            F.lit(None).cast("double").alias("val"),
        )
    )

    # Datasketches tier (round 8): theta-sketch distinct estimates per
    # return flag next to the exact counts. Theta estimates are
    # PARTITIONING-INDEPENDENT (unlike HLL's, whose merge structure
    # shifts the estimate a few parts in 1e4 — sketch.hll_distinct
    # docstring), which is what makes them golden-pinnable; the
    # exact_distinct rows ride the SQL oracle so the artifact itself
    # shows estimate vs truth side by side. Closeness/mergeability are
    # asserted in tests/test_sketches.py.
    nul = F.lit(None).cast("double").alias("val")
    theta = SK.theta_distinct(li, "l_orderkey", by="l_returnflag").select(
        F.lit("theta_distinct").alias("op"),
        F.col("l_returnflag").alias("key"),
        F.col("n_distinct_est").alias("cnt"),
        nul,
    )
    exact_d = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").cast("bigint").alias("cnt"))
        .select(
            F.lit("exact_distinct").alias("op"),
            F.col("l_returnflag").alias("key"),
            "cnt",
            nul,
        )
    )
    # theta SET OPERATIONS (union/intersection/difference — the sketch
    # family with a native intersection): estimate how the 'A' and 'R'
    # return-flag orderkey sets overlap WITHOUT any join. Same
    # determinism argument as theta_distinct → golden-pinnable; the
    # decontaminate-style overlap screen at 100 TB (estimate
    # |train ∩ benchmark| before paying the exact gram join). Both key
    # sets are slices of the same relation, so the ONE-PASS conditional
    # form applies: a single lineitem scan feeds both sketches
    # (estimates identical to the two-frame form — asserted in tests).
    ov = SK.theta_overlap_cond(
        li,
        "l_orderkey",
        F.col("l_returnflag") == "A",
        F.col("l_returnflag") == "R",
    )
    overlap = ov.select(
        F.explode(
            F.create_map(
                F.lit("a"), F.col("n_a"),
                F.lit("b"), F.col("n_b"),
                F.lit("union"), F.col("n_union"),
                F.lit("intersection"), F.col("n_intersection"),
                F.lit("a_not_b"), F.col("n_a_not_b"),
            )
        ).alias("key", "cnt")
    ).select(F.lit("theta_overlap").alias("op"), "key", "cnt", nul)
    a = f_bloom.result()
    return (
        a.unionByName(heavy)
        .unionByName(theta)
        .unionByName(exact_d)
        .unionByName(overlap)
    )


# off-path prediction point: midway between lambdas[1] and lambdas[2]
# -> interpolation weight exactly 0.5 on each side
_PRED_S = (_RIDGE_LAMBDAS[1] + _RIDGE_LAMBDAS[2]) / 2.0

_GLM_PREDICT_ORACLE = f"""
WITH {_RIDGE_SOL_CTE},
w AS (SELECT (a.a0 + b.a0)/2 AS a0, (a.b0 + b.b0)/2 AS b0,
             (a.b1 + b.b1)/2 AS b1, (a.b2 + b.b2)/2 AS b2
      FROM sol a, sol b WHERE a.s = 1 AND b.s = 2)
SELECT l_orderkey, l_linenumber,
       ROUND(w.a0 + w.b0*{_R3[0]} + w.b1*{_R3[1]} + w.b2*{_R3[2]}, 2) AS pred
FROM f, w
"""


@register_sub("glm_predict_gaussian", _GLM_PREDICT_ORACLE)
def glm_predict_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """predict(type='link') at an OFF-path s — exercises the reference's
    lambda interpolation (predict.sgdnet.R:144) with a per-row DuckDB
    value check against the interpolated closed-form coefficients."""
    fit = _ridge_fit(spark, sf_dir)
    f = feature_frame(spark, sf_dir)
    return fit.predict(f, s=_PRED_S, prefix="pred").select(
        "l_orderkey", "l_linenumber", F.round("pred", 2).alias("pred")
    )


# s=0 (lambda_max) is DERIVED from the data: the intercept-only model
# predicts the majority class for every row with P(class=1) equal to the
# base rate (b0 = logit(mean y) is the exact null MLE) — the identity
# reference test-predictions.R checks. Deeper path points come from
# golden constants (register unions the two).
_PREDICT_CLASS_S0_ORACLE = f"""
WITH f AS ({FEATURES_SQL}),
lab AS (SELECT CASE WHEN l_returnflag = 'R' THEN 'true' ELSE 'false' END AS actual FROM f),
st AS (SELECT AVG(CASE WHEN actual = 'true' THEN 1.0 ELSE 0.0 END) AS p1 FROM lab),
maj AS (SELECT CASE WHEN p1 >= 0.5 THEN 'true' ELSE 'false' END AS m,
               ROUND(p1, 4) AS ap FROM st)
SELECT CAST(0 AS INTEGER) AS s, actual, m AS predicted,
       COUNT(*) AS n, ap AS avg_prob
FROM lab CROSS JOIN maj GROUP BY actual, m, ap
"""


@register_sub("glm_predict_class", _PREDICT_CLASS_S0_ORACLE, golden=True)
def glm_predict_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """predict(type='class') confusion summary at THREE path points
    including lambda_max (reference test-predictions.R checks class
    output against known labels). Grouping by (s, actual, predicted)
    forces both true classes into the output at every s — at s=0
    (lambda_max) the intercept-only model must predict the majority
    class for every row with P = base rate, an identity the oracle
    derives from the data itself; deeper path points are golden
    constants. One row per (s, actual, predicted) with count and
    rounded mean P(class=1)."""
    from sgdnet_spark.glm import sgdnet

    f = feature_frame(spark, sf_dir).withColumn("is_return", (F.col("l_returnflag") == "R").cast("string"))
    fit = sgdnet(f, FEATURE_NAMES, "is_return", family="binomial", alpha=0.5, nlambda=20,
                 lambda_min_ratio=1e-2)
    parts = []
    for s_idx in (0, fit.nlambda // 2, fit.nlambda - 1):
        s = float(fit.lambdas[s_idx])
        pred = fit.predict(f, s=s, type="class", prefix="cls")
        pred = fit.predict(pred, s=s, type="response", prefix="prob")
        parts.append(
            pred.groupBy(
                F.lit(int(s_idx)).alias("s"),
                F.col("is_return").alias("actual"),
                F.col("cls").alias("predicted"),
            ).agg(F.count("*").alias("n"), F.round(F.avg("prob"), 4).alias("avg_prob"))
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.orderBy("s", "actual", "predicted")


_GLM_SCORE_ORACLE = f"""
WITH {_RIDGE_SOL_CTE},
per AS (SELECT sol.s, sol."lambda", sol.devr,
               AVG(POW(f.y - (sol.a0 + sol.b0*{_R3[0]} + sol.b1*{_R3[1]} + sol.b2*{_R3[2]}), 2)) AS mse,
               AVG(ABS(f.y - (sol.a0 + sol.b0*{_R3[0]} + sol.b1*{_R3[1]} + sol.b2*{_R3[2]}))) AS mae
        FROM f CROSS JOIN sol GROUP BY 1, 2, 3)
SELECT s, ROUND("lambda", 6) AS lambda, ROUND(mse, 2) AS mse, ROUND(mae, 3) AS mae,
       ROUND(devr, 6) AS dev_ratio
FROM per
"""


@register_sub("glm_score", _GLM_SCORE_ORACLE)
def glm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """score(fit, x, y) along the path (reference R/score.R) — mse and
    mae via ONE distributed aggregation pass each, plus dev_ratio, which
    pins the reference deviance() = (1-dev.ratio)*nulldev semantics
    (deviance.sgdnet.R; for gaussian the deviance measure IS mse)."""
    from sgdnet_spark.glm import score

    fit = _ridge_fit(spark, sf_dir)
    f = feature_frame(spark, sf_dir)
    mse = score(fit, f, _R3, "y", "mse")
    mae = score(fit, f, _R3, "y", "mae")
    rows = [
        {
            "s": int(i),
            "lambda": round(float(fit.lambdas[i]), 6),
            "mse": round(float(m), 2),
            "mae": round(float(a), 3),
            "dev_ratio": round(float(fit.dev_ratio[i]), 6),
        }
        for i, (m, a) in enumerate(zip(mse, mae))
    ]
    return spark.createDataFrame(
        rows, schema="s int, lambda double, mse double, mae double, dev_ratio double"
    )


@register("glm_embedding_multinomial", golden=True)
def glm_embedding_multinomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Softmax regression straight on an array<float> embedding column
    (10 classes, p=64) — the vector-native fit path. Output is the
    per-(s, class) path summary: intercept, per-class df (nonzero
    coefficients), l1 norm, and joint dev_ratio — hash-checked against
    golden constants (tools/gen_constant_oracles.py; the fit itself is
    cross-validated by the KKT property tests and the MLlib backend)."""
    from sgdnet_spark.glm import sgdnet

    emb = _t(spark, sf_dir, "embeddings").withColumn("label_s", F.col("label").cast("string"))
    fit = sgdnet(emb, "embedding", "label_s", family="multinomial", alpha=1.0,
                 nlambda=8, lambda_min_ratio=0.05)
    rows = []
    for i in range(fit.nlambda):
        for c, cls in enumerate(fit.classnames):
            bvec = fit.beta[c, :, i]
            rows.append({
                "s": int(i),
                "lambda": round(float(fit.lambdas[i]), 6),
                "class": str(cls),
                "a0": round(float(fit.a0[c, i]), 4) + 0.0,
                "df_class": int((bvec != 0.0).sum()),
                "l1": round(float(abs(bvec).sum()), 3) + 0.0,
                "dev_ratio": round(float(fit.dev_ratio[i]), 5),
            })
    return spark.createDataFrame(
        rows,
        schema="s int, lambda double, class string, a0 double, "
               "df_class int, l1 double, dev_ratio double",
    )


_FOLD_SQL = "(l_orderkey*31 + l_linenumber) % 3"


def _cv_oracle() -> str:
    """k-fold ridge CV entirely in SQL: per-fold training stats via
    FILTER complements, Cramer solve per (fold, lambda), held-out mse,
    then mean/sd/ci per lambda — the DuckDB twin of cv_sgdnet."""
    sol = _ridge_solve_exprs()
    ctes = [f'ff AS (SELECT *, {_FOLD_SQL} AS fold FROM ({FEATURES_SQL}))',
            f'lam AS (SELECT CAST(s AS INTEGER) AS s, CAST("lambda" AS DOUBLE) AS "lambda" FROM {_LAM_VALUES_SQL})']
    fold_sels = []
    for g in range(3):
        ctes.append(f"rm{g} AS (SELECT {_ridge_stats_sql(f'fold <> {g}')} FROM ff)")
        ctes.append(
            f'sol{g} AS (SELECT s, "lambda", {sol["a0"]} AS a0, {sol["b0"]} AS b0, '
            f'{sol["b1"]} AS b1, {sol["b2"]} AS b2 FROM rm{g} CROSS JOIN lam)'
        )
        fold_sels.append(
            f'SELECT {g} AS fold, sol{g}.s, sol{g}."lambda", '
            f"AVG(POW(ff.y - (a0 + b0*{_R3[0]} + b1*{_R3[1]} + b2*{_R3[2]}), 2)) AS mse "
            f"FROM ff CROSS JOIN sol{g} WHERE ff.fold = {g} GROUP BY 1, 2, 3"
        )
    ctes.append("fm AS (" + "\nUNION ALL\n".join(fold_sels) + ")")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        'SELECT CAST(0.0 AS DOUBLE) AS alpha, ROUND("lambda", 6) AS lambda, ROUND(AVG(mse), 2) AS mean,\n'
        "       ROUND(STDDEV_SAMP(mse), 2) AS sd,\n"
        "       ROUND(AVG(mse) - STDDEV_SAMP(mse), 2) AS ci_lo,\n"
        "       ROUND(AVG(mse) + STDDEV_SAMP(mse), 2) AS ci_up\n"
        'FROM fm GROUP BY "lambda"'
    )


@register_sub("glm_cv", _cv_oracle())
def glm_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cv_sgdnet (reference R/cv_sgdnet.R): deterministic 3-fold split,
    per-fold ridge path fits, held-out mse, cv_summary(mean/sd/ci) —
    every number re-derived independently by the DuckDB oracle."""
    from sgdnet_spark.glm import cv_sgdnet

    f = feature_frame(spark, sf_dir).withColumn(
        "fold", F.pmod(F.col("l_orderkey") * 31 + F.col("l_linenumber"), F.lit(3)).cast("int")
    )
    cv = cv_sgdnet(f, _R3, "y", family="gaussian", alpha=[0.0], lambdas=_RIDGE_LAMBDAS,
                   nfolds=3, foldid_col="fold", type_measure="mse")
    return cv.summary_frame(spark).select(
        F.round("alpha", 1).alias("alpha"),
        F.round("lambda", 6).alias("lambda"),
        F.round("mean", 2).alias("mean"),
        F.round("sd", 2).alias("sd"),
        F.round("ci_lo", 2).alias("ci_lo"),
        F.round("ci_up", 2).alias("ci_up"),
    )


# ==========================================================================
# Umbrella registrations (round-7 driver-gate packing)
#
# The driver's correctness artifact records at most 50 rows per round
# (CORRECTNESS_r01..r06: exactly 50 each), so the 63-key round-6 registry
# left 13 operators outside the gate. Every sub-entry above keeps its own
# callable + oracle in SUBQUERIES/SUBORACLES (checked individually by
# tools/check_oracles.py and pytest), and is ALSO melted — Spark side and
# DuckDB side through the same (keys, values) recipe — into one of the
# long-format umbrellas below, so the driver hash certifies exactly what
# the individual hashes certify. Registry total: 50 keys.
# ==========================================================================

# (entry tag, sub-name, key cols [int/string only], value cols)
_TPCH_FOLD = [
    ("q2", "q2_min_cost_supplier", ["p_partkey", "p_brand"], ["best_suppkey", "acctbal"]),
    ("q4", "q4_order_priority", ["o_orderpriority"], ["order_count"]),
    ("q14", "q14_promo_revenue", [], ["promo_revenue_pct"]),
    ("q16", "q16_parts_supplier", ["p_brand", "p_type"], ["supplier_cnt"]),
    # o_orderkey is the group key (unique), o_totalprice rides as a value:
    # float keys would hit cross-engine float->string rendering differences
    ("q18", "q18_large_orders", ["o_orderkey"], ["o_totalprice", "total_qty"]),
    ("q19", "q19_discounted_revenue", [], ["revenue", "n"]),
    ("q22", "q22_global_sales", ["c_nationkey"], ["numcust", "totacctbal"]),
]

_TPCH_COLS = ("q", "grp", "metric", "v")


def _fold_union(spark, sf_dir, folds, cols, base=None):
    out = base
    for tag, sub, keys, vals in folds:
        melted = _melt_df(SUBQUERIES[sub](spark, sf_dir), tag, keys, vals, cols)
        out = melted if out is None else out.unionByName(melted)
    return out


def _fold_oracle(base_sql, folds, cols):
    parts = ([base_sql] if base_sql else []) + [
        _melt_sql(SUBORACLES[sub], tag, keys, vals, cols)
        for tag, sub, keys, vals in folds
    ]
    return "\nUNION ALL\n".join(parts)


@register("tpch_deep", _fold_oracle(_TPCH_DEEP_ORACLE, _TPCH_FOLD, _TPCH_COLS))
def tpch_deep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seventeen TPC-H query patterns in one long-format driver entry:
    the ten schema-adapted deep queries (Q7..Q21, tpch_deep above) plus
    the seven previously-standalone entries (Q2/4/14/16/18/19/22) melted
    to the same (q, grp, metric, v) shape. Each sub-query remains an
    independent DataFrame plan (Catalyst/AQE optimizes each join tree
    separately); the union is plan-level, not a barrier.

    Round 13 (optimization): construction is thread-parallel (the
    umbrella pattern) — the base ten-tree build and the seven melted
    sub-queries are independent py4j round-trip chains; the union
    consumes them in the same fixed order, so plan and values are
    unchanged. Measured 2.4 s -> well under 1 s of build at sf0.1."""
    from concurrent.futures import ThreadPoolExecutor

    def build(entry):
        tag, sub, keys, vals = entry
        return _melt_df(SUBQUERIES[sub](spark, sf_dir), tag, keys, vals, _TPCH_COLS)

    with ThreadPoolExecutor(max_workers=8) as pool:
        f_base = pool.submit(tpch_deep, spark, sf_dir)
        parts = list(pool.map(build, _TPCH_FOLD))
    out = f_base.result()
    for p in parts:
        out = out.unionByName(p)
    return out


_UMBRELLA_COLS = ("op", "k", "metric", "v")

_GLM_EVAL_FOLD = [
    ("predict", "glm_predict_gaussian", ["l_orderkey", "l_linenumber"], ["pred"]),
    ("class", "glm_predict_class", ["s", "actual", "predicted"], ["n", "avg_prob"]),
    ("score", "glm_score", ["s"], ["lambda", "mse", "mae", "dev_ratio"]),
    # cv output has no path index; rank over the (distinct, fixed-grid)
    # lambdas gives both engines the same stable integer key
    ("cv", "glm_cv", ["s"], ["alpha", "lambda", "mean", "sd", "ci_lo", "ci_up"]),
]


def _glm_eval_oracle() -> str:
    folds = []
    for tag, sub, keys, vals in _GLM_EVAL_FOLD:
        inner = SUBORACLES[sub]
        if tag == "cv":
            inner = ('SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY "lambda" DESC) AS INTEGER) AS s '
                     f"FROM ({inner})")
        folds.append(_melt_sql(inner, tag, keys, vals, _UMBRELLA_COLS))
    return "\nUNION ALL\n".join(folds)


@register("glm_eval", _glm_eval_oracle())
def glm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GLM evaluation surface in one long-format driver entry:
    off-path lambda-interpolated predict (predict.sgdnet.R:144), class
    prediction with the lambda_max intercept-only identity
    (test-predictions.R), score/deviance along the path (R/score.R,
    deviance.sgdnet.R), and 3-fold CV summary (R/cv_sgdnet.R). Each
    stage is the unchanged sub-entry melted to (op, k, metric, v).

    NOTE: the 'class' stage inherits glm_predict_class's golden
    constants, which are generated AT THE GATE SCALE (sf0.01, like
    every golden table) — at any other sf this umbrella fails on the
    class fold; check sub-entries individually
    (tools/check_oracles.py <sf_dir> glm_predict_gaussian glm_score
    glm_cv) to localize drift at non-gate scales.

    Stage construction is thread-parallel (the corpus_prep round-12
    pattern): every stage pays an eager GLM fit at build time whose
    per-iteration driver round-trips leave the cluster idle; a
    4-thread pool overlaps them. Stages are independent fits and the
    union preserves fold order — values unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    def build(entry):
        tag, sub, keys, vals = entry
        df = SUBQUERIES[sub](spark, sf_dir)
        if tag == "cv":
            df = df.withColumn(
                "s", F.row_number().over(Window.orderBy(F.desc("lambda"))).cast("int")
            )
        return _melt_df(df, tag, keys, vals, _UMBRELLA_COLS)

    with ThreadPoolExecutor(max_workers=4) as pool:
        parts = list(pool.map(build, _GLM_EVAL_FOLD))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_CORPUS_PREP_FOLD = [
    ("sample", "corpus_sample", ["op", "key"], ["n_docs", "n_chars"]),
    ("pack", "pack_sequences", ["source", "doc_id"],
     ["n_tokens", "chunk_first", "chunk_offset", "chunk_last", "chunks_spanned"]),
    ("semdedup", "embedding_semdedup", ["vec_id"], ["cluster", "kept", "nn_sim"]),
    # cluster-balanced selection (sampling.cluster_balance): k-means
    # topics as the mixing key, uniform target shares, md5 decisions
    ("cbal", "corpus_cluster_balance", ["vec_id"], ["cluster", "kept"]),
    # PCA whitening (operators/whiten.py): one-moments-pass fit,
    # deterministic-sign eigh, top-4 components per vector
    ("whiten", "embedding_whiten", ["vec_id"],
     ["pc1", "pc2", "pc3", "pc4", "maha"]),
    ("bpe", "bpe_merges", ["rank", "left", "right"], ["pair_count"]),
    ("rank", "source_rank", ["mode", "source"], ["in_w", "rank"]),
    ("dsir", "corpus_dsir", ["feats", "doc_id"], ["n_tokens", "logw", "key"]),
    # model-based quality gate (operators/qprobe.py): the closed-form
    # ridge linear probe — featurize → fit → score → select replayed
    # end-to-end by the DuckDB twin (Cramer solve + grid cutoff)
    ("qfilter", "quality_filter", ["doc_id"], ["qscore", "selected"]),
    # entity-resolution fuzzy join (operators/fuzzy.py): deletion-
    # neighborhood blocking vs the exhaustive all-pairs oracle
    ("fuzzy", "fuzzy_part_names", ["s_a", "s_b"], ["dist"]),
    # BM25 sparse lexical retrieval (operators/bm25.py): exact-formula
    # DuckDB twin, inverted-index shape (round 11)
    ("bm25", "bm25_retrieval", ["query_id", "doc_id"], ["score", "rn"]),
    # round 12: the relevance-floor mode (bm25_filter) — pure filter on
    # the raw score, no per-query window
    ("bm25_floor", "bm25_floor", ["query_id", "doc_id"], ["score"]),
    # hybrid lexical+dense RRF fusion (operators/fusion.py, round 11)
    ("hybrid", "hybrid_retrieval", ["query_id", "doc_id"], ["fused", "rn"]),
    # round 13: exact-phrase matching over token positions (bm25.py::
    # phrase_match — the positional-intersection anchor aggregation)
    ("phrase", "phrase_scan", ["query_id", "doc_id"], ["n_occurrences"]),
    # round 13: unordered windowed co-occurrence (bm25.py::
    # proximity_match — the sloppy-span anchor-cover aggregation)
    ("prox", "proximity_scan", ["query_id", "doc_id"], ["n_spans"]),
    # round 13: asymmetric containment near-dup pairs (dedup.py::
    # containment_pairs — Broder containment, quote/subset detection)
    ("contain", "containment_scan", ["id_a", "id_b"], ["containment"]),
]


@register("corpus_prep", _fold_oracle(None, _CORPUS_PREP_FOLD, _UMBRELLA_COLS))
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data preparation in one long-format driver entry:
    deterministic sampling/splitting/mixing (operators/sampling.py,
    hash-fraction decisions replayed exactly by DuckDB),
    concat-and-chunk sequence packing (running-sum window replay), and
    SemDeDup semantic deduplication (similarity.semdedup; golden
    constants cross-validated by an exact numpy replay). The two bm25
    rows (top-k + relevance floor) share ONE scored relation — one
    corpus tokenize for both (the text_scrub shared-spans pattern).

    Round 12: stage CONSTRUCTION is thread-parallel. Several stages do
    eager work at build time (quantizer fits with per-iteration
    collects, eager checkpoints, model collects) that leaves the
    32-thread cluster idle during driver round-trips; Spark's
    scheduler accepts concurrent job submission from multiple driver
    threads, so a 4-thread pool overlaps those waits. Stages are
    independent (no shared mutable state — the one shared relation,
    the bm25 scored frame, is built eagerly BEFORE the pool) and the
    union preserves fold order, so values and the oracle melt are
    unchanged (hash-green either way).

    Round 13 (optimization): ONE corpus tokenize+posexplode pass
    (_corpus_match_shared, built on its own pool thread) feeds the two
    bm25 rows' scored relation, the hybrid row's lexical arm AND the
    phrase/prox positions — previously three separate corpus passes.
    Same values (same tf/dft/stats inputs, vocabulary-superset
    positions), fewer passes, no serial prefix."""
    from concurrent.futures import ThreadPoolExecutor

    shared = {"bm25": bm25_retrieval, "bm25_floor": bm25_floor}
    pos_kw = {"phrase": phrase_scan, "prox": proximity_scan}

    def build(entry):
        tag, sub, keys, vals = entry
        if tag in shared:
            df = shared[tag](spark, sf_dir, scored=f_shared.result()[0])
        elif tag in pos_kw:
            df = pos_kw[tag](spark, sf_dir, positions=f_shared.result()[2])
        elif tag == "hybrid":
            df = hybrid_retrieval(spark, sf_dir, lex=f_shared.result()[1])
        else:
            df = SUBQUERIES[sub](spark, sf_dir)
        return _melt_df(df, tag, keys, vals, _UMBRELLA_COLS)

    # Round 13 (optimization): stages are SUBMITTED longest-build-first
    # (measured construct walls: hybrid 3.6 s, contain 1.7, rank 1.2,
    # dsir 1.1, ... pack 0.1) so the pool's tail is not a straggler that
    # started last — classic LPT scheduling; results are still collected
    # in FOLD order, so the union (and the oracle melt) is unchanged.
    # The shared producer stays first (the bm25/floor/hybrid/phrase/prox
    # builders blocking on its future can never deadlock the pool);
    # those blockers go last — they are cheap consumers once the shared
    # pass exists. 8 workers: the builders are py4j round-trip +
    # small-job chains that release the GIL, so more in flight keeps
    # the scheduler fed.
    priority = ["contain", "rank", "dsir", "cbal", "semdedup",
                "sample", "qfilter", "bpe", "whiten", "fuzzy", "pack",
                "hybrid", "phrase", "prox", "bm25", "bm25_floor"]
    order = {t: i for i, t in enumerate(priority)}
    ranked = sorted(_CORPUS_PREP_FOLD, key=lambda e: order.get(e[0], 99))
    with ThreadPoolExecutor(max_workers=8) as pool:
        f_shared = pool.submit(_corpus_match_shared, spark, sf_dir)
        futs = {entry[0]: pool.submit(build, entry) for entry in ranked}
        parts = [futs[entry[0]].result() for entry in _CORPUS_PREP_FOLD]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_EVENTS_LIFECYCLE_FOLD = [
    ("funnel", "events_funnel", ["stage"], ["n_users", "lat_us_total"]),
    ("retention", "events_retention", ["cohort_week", "week_offset"], ["n_users"]),
]


@register("events_lifecycle", _fold_oracle(None, _EVENTS_LIFECYCLE_FOLD, _UMBRELLA_COLS))
def events_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifecycle analytics in one long-format driver entry: the
    staged view->click->purchase conversion funnel (exact integer
    microsecond latency totals) and the cohort retention matrix."""
    return _fold_union(spark, sf_dir, _EVENTS_LIFECYCLE_FOLD, _UMBRELLA_COLS)


_TEXT_SCRUB_FOLD = [
    ("decontaminate", "decontaminate", ["doc_id"], ["n_overlap"]),
    # fuzzy (MinHash-level) decontamination vs the exhaustive Jaccard
    # oracle — planted near-duplicate-of-benchmark docs (round 11)
    ("decon_fuzzy", "decontaminate_fuzzy", ["doc_id", "bench_id"], ["jaccard"]),
    ("repetition", "text_repetition", ["doc_id"],
     ["n_tokens", "top_token_frac", "top_bigram_frac", "dup_bigram_frac"]),
    ("hash_score", "text_hash_score", ["doc_id"], ["n_tokens", "score"]),
    ("pii", "text_pii", ["doc_id"],
     ["n_email", "n_phone", "n_ipv4", "n_ssn", "n_cc", "n_cc_valid", "red_len"]),
    # ONE lm fold: text_lm_buckets' output carries lm_score's columns by
    # construction, so melting all three certifies score AND bucket with
    # a single LM fit+score pipeline — a separate 'lm' stage would run
    # the whole pipeline twice per umbrella evaluation (text_lm_score
    # stays individually registered/checked as its own sub-entry)
    ("lm", "text_lm_buckets", ["doc_id"], ["n_bigrams", "avg_logp", "bucket"]),
    ("line_dedup", "text_line_dedup", ["doc_id"],
     ["n_lines", "n_dup_lines", "clean_len", "clean_fp"]),
    ("exsub", "text_repeated_spans", ["doc_id"],
     ["n_spans", "dup_chars", "longest"]),
    ("exsub_scrub", "text_scrub_spans", ["doc_id"],
     ["n_cut_chars", "clean_len", "clean_fp"]),
]


@register("text_scrub", _fold_oracle(None, _TEXT_SCRUB_FOLD, _UMBRELLA_COLS))
def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scrubbing in one long-format driver entry: train-test
    decontamination (benchmark k-gram overlap, broadcast bench side),
    Gopher-style within-document repetition signals, model-based
    quality scoring over hashed bag-of-words features, PII
    detection/redaction (operators/pii.py), bigram-LM fluency scoring
    (text.fit_lm/lm_score), corpus-level line deduplication
    (dedup.line_scrub — the CCNet boilerplate stage), and ExactSubstr
    repeated-span stats + removal. The span stages share ONE detection
    pass (dedup.repeated_spans, localCheckpoint-ed — the detection is
    the expensive linear md5 window hashing; stats and splice are cheap
    consumers of the dup-rate-sized span relation)."""
    from sgdnet_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    # lazy: the detection materializes inside the umbrella's own job
    # (first consumer computes it, the other reuses the checkpointed
    # RDD) instead of a separate blocking job at plan-construction time
    # — measured 7.13 vs 7.5-10 s eager at sf0.1
    spans = dedup.repeated_spans(docs, k=_XS_K, mod_p=_XS_P).localCheckpoint(
        eager=False
    )
    shared = {"exsub": text_repeated_spans, "exsub_scrub": text_scrub_spans}

    # thread-parallel construction (the corpus_prep round-12 pattern):
    # several stages fit models eagerly at build time (bigram LM,
    # hashed-BoW scorer, the decontamination gram collect) — a 4-thread
    # pool overlaps their driver round-trips. The shared spans relation
    # stays a LAZY checkpoint: builders only reference its plan; the
    # umbrella's single action still materializes it exactly once.
    from concurrent.futures import ThreadPoolExecutor

    def build(entry):
        tag, sub, keys, vals = entry
        if tag in shared:
            df = shared[tag](spark, sf_dir, spans=spans)
        else:
            df = SUBQUERIES[sub](spark, sf_dir)
        return _melt_df(df, tag, keys, vals, _UMBRELLA_COLS)

    # Round 13 (optimization): longest-build-first submission (the
    # corpus_prep LPT pattern — measured: decon_fuzzy 1.6 s, line_dedup
    # 1.3, decontaminate 0.9, the rest sub-0.6); results collected in
    # FOLD order so the union and oracle melt are unchanged.
    priority = ["decon_fuzzy", "line_dedup", "decontaminate", "lm",
                "repetition", "pii", "hash_score", "exsub", "exsub_scrub"]
    order = {t: i for i, t in enumerate(priority)}
    ranked = sorted(_TEXT_SCRUB_FOLD, key=lambda e: order.get(e[0], 99))
    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = {entry[0]: pool.submit(build, entry) for entry in ranked}
        parts = [futs[entry[0]].result() for entry in _TEXT_SCRUB_FOLD]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
