"""Engine-breadth catalog, round 3: remaining relational surface the earlier
catalogs didn't touch — null-safe equality join, cross join, conditional
scalar expressions, extended calendar parts, dispersion statistics, the
string-function family, INTERSECT ALL, overlapping document chunking (the
context-window prep step of an LLM corpus build), and per-group feature
scaling (z-score + min-max).

Same contract as queries_catalog: QUERIES[name] = (spark, sf_dir) -> DF,
ORACLE_SQL[name] = the DuckDB twin, column names aligned on both sides.

Cross-engine determinism notes:
  * dispersion stats and feature scales are double-precision accumulations
    whose partial-aggregation order differs between engines; outputs are
    ROUND()ed (4-6 dp, values O(1)-O(1e5)) so a 1e-12-relative wobble can't
    flip the hash;
  * chunking derives every output column as a pure function of (token
    array, start offset), with the tokenizer written identically on both
    sides (trim + split on '\\s+').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from .sources.tables import load_table

DEC = DecimalType(18, 2)

QUERIES: dict = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# =====================================================================
# Joins: null-safe equality, cross join
# =====================================================================


@query(
    "j10_null_safe_join",
    """
    WITH l AS (
      SELECT c_custkey, NULLIF(c_nationkey % 7, 3) AS k FROM customer
    ), r AS (
      SELECT s_suppkey, NULLIF(s_nationkey % 7, 3) AS k FROM supplier
    )
    SELECT l.k AS k, COUNT(*) AS pairs
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k
    """,
)
def j10_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): null keys match
    null keys, unlike plain `=` which drops them. The reference's Postgres
    planner gets this via IS NOT DISTINCT FROM; Spark's eqNullSafe keeps it
    a *hashable* join key (EqualNullSafe is rewritten to a coalesce-style
    key internally), so the plan stays a broadcast/shuffled hash join — it
    does NOT degrade to a nested-loop join, which is what matters at scale.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("k")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey") % 7, F.lit(3)).alias("kr")
    )
    return (
        c.join(s, c["k"].eqNullSafe(s["kr"]), "inner")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("pairs"))
    )


@query(
    "j11_cross_join",
    """
    SELECT r.r_name, n.n_name,
           length(r.r_name) + length(n.n_name) AS name_len
    FROM region r CROSS JOIN nation n
    """,
)
def j11_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (5 x 25 rows) with a computed column.
    Only safe when one side is tiny; Spark plans it as
    BroadcastNestedLoopJoin with the small side broadcast — the correct
    physical shape at any scale of the big side.
    """
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        (F.length("r_name") + F.length("n_name")).cast("long").alias("name_len"),
    )


# =====================================================================
# Scalar conditional expressions
# =====================================================================


@query(
    "c1_conditional_exprs",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END AS qty_band,
           COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS rf,
           CAST(LEAST(CAST(l_extendedprice AS DECIMAL(18,2)),
                      CAST(20000 AS DECIMAL(18,2))) AS DOUBLE) AS capped_price,
           CAST(GREATEST(CAST(l_tax AS DECIMAL(18,2)),
                         CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS max_rate
    FROM lineitem
    """,
)
def c1_conditional_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional-expression family in one pass: searched CASE,
    NULLIF+COALESCE, LEAST/GREATEST. All evaluate inside whole-stage
    codegen — map-only, zero shuffles, scales linearly with input.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
        .alias("qty_band"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")).alias(
            "rf"
        ),
        F.least(F.col("l_extendedprice").cast(DEC), F.lit(20000).cast(DEC))
        .cast("double")
        .alias("capped_price"),
        F.greatest(F.col("l_tax").cast(DEC), F.col("l_discount").cast(DEC))
        .cast("double")
        .alias("max_rate"),
    )


# =====================================================================
# Calendar parts beyond F8-F13
# =====================================================================


@query(
    "f15_calendar_parts",
    """
    SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS d,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS q,
           CAST(EXTRACT(DOW FROM o_orderdate) + 1 AS BIGINT) AS dow,
           CAST(EXTRACT(DOY FROM o_orderdate) AS BIGINT) AS doy,
           CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
             AS epoch_day
    FROM orders
    """,
)
def f15_calendar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter / day-of-week / day-of-year / epoch-day extraction over the
    distinct order dates. Convention trap made explicit: Spark dayofweek()
    is 1=Sunday..7=Saturday while DuckDB EXTRACT(DOW) is 0=Sunday..6 — the
    oracle adds 1 rather than silently disagreeing.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("epoch_day"),
    ).distinct()


# =====================================================================
# Dispersion statistics (stddev / variance / correlation)
# =====================================================================


@query(
    "a6_dispersion",
    """
    SELECT l_returnflag,
           ROUND(CAST(stddev_samp(CAST(l_quantity AS DOUBLE)) AS DOUBLE), 4)
             AS sd_qty,
           ROUND(CAST(var_samp(CAST(l_quantity AS DOUBLE)) AS DOUBLE), 4)
             AS var_qty,
           ROUND(CAST(corr(CAST(l_quantity AS DOUBLE),
                           CAST(l_extendedprice AS DOUBLE)) AS DOUBLE), 4)
             AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a6_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates per group: sample stddev/variance and
    Pearson correlation. Both engines use single-pass co-moment updates
    (partial-aggregable, so Spark keeps map-side combine); results are
    ROUND(4)ed because the merge order of partials legitimately differs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    p = F.col("l_extendedprice").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp(q), 4).alias("sd_qty"),
        F.round(F.var_samp(q), 4).alias("var_qty"),
        F.round(F.corr(q, p), 4).alias("corr_qty_price"),
    )


# =====================================================================
# String-function family
# =====================================================================


@query(
    "str1_string_family",
    """
    SELECT p_partkey,
           substring(p_name, 1, 5) AS name5,
           upper(p_brand) AS brand_u,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
           strpos(p_name, 'a') AS a_pos,
           reverse(p_type) AS type_rev,
           translate(p_type, 'AEIOU', 'aeiou') AS type_tr,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part
    """,
)
def str1_string_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar string family in one projection: substring, upper, lpad,
    position (Spark instr == DuckDB strpos, both 1-based / 0 when absent),
    reverse, translate, regexp_extract, length. Map-only, codegen'd.
    """
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 5).alias("name5"),
        F.upper("p_brand").alias("brand_u"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.instr(F.col("p_name"), "a").alias("a_pos"),
        F.reverse("p_type").alias("type_rev"),
        F.translate("p_type", "AEIOU", "aeiou").alias("type_tr"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.length("p_name").cast("long").alias("name_len"),
    )


# =====================================================================
# Set op: INTERSECT ALL (multiset semantics)
# =====================================================================


@query(
    "s6_intersect_all",
    """
    SELECT o_custkey AS k FROM orders
    INTERSECT ALL
    SELECT c_custkey AS k FROM customer
    """,
)
def s6_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: each key appears min(count_left, count_right) times —
    multiset, not set, semantics (a customer with 9 orders contributes
    min(9,1)=1 row). Completes the set-op family (s1-s5). Spark plans this
    as a single hash aggregate counting per-side multiplicities — one
    shuffle, no join.
    """
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.intersectAll(c)


# =====================================================================
# tp6: overlapping document chunking (context-window prep)
# =====================================================================

_CHUNK, _STRIDE = 128, 96


@query(
    "tp6_chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
      WHERE length(trim(coalesce(text, ''))) > 0
    ), s AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(0, greatest(len(toks) - 1, 0), {_STRIDE}))
               AS st
      FROM t
    )
    SELECT doc_id,
           CAST(st // {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, st + 1, st + {_CHUNK})) AS BIGINT)
             AS n_tok,
           md5(array_to_string(list_slice(toks, st + 1, st + {_CHUNK}), ' '))
             AS chunk_md5
    FROM s
    """,
)
def tp6_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking — the step that turns documents
    into model-context-sized training windows (width 128 tokens, stride 96,
    32-token overlap so no boundary context is lost). Pure map + explode:
    no shuffle at all, scales embarrassingly to 100 TB (each document is
    chunked independently wherever it already lives). Every output column
    is a pure function of (token array, start), so the DuckDB twin is
    exact; chunk identity is the md5 of the joined tokens, ready to feed
    the x1 dedup family downstream.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size("toks")
    chunk = F.slice(F.col("toks"), F.col("st") + 1, _CHUNK)
    return (
        d.filter(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0)
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_STRIDE))
            ).alias("st"),
        )
        .select(
            "doc_id",
            F.floor(F.col("st") / _STRIDE).cast("long").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_tok"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


# =====================================================================
# ml1: per-group feature scaling (z-score + min-max)
# =====================================================================


@query(
    "ml1_feature_scale",
    """
    WITH s AS (
      SELECT o_orderpriority,
             avg(CAST(o_totalprice AS DOUBLE)) AS mu,
             stddev_samp(CAST(o_totalprice AS DOUBLE)) AS sd,
             min(CAST(o_totalprice AS DOUBLE)) AS lo,
             max(CAST(o_totalprice AS DOUBLE)) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey,
           ROUND((CAST(o.o_totalprice AS DOUBLE) - s.mu) / s.sd, 4) AS zscore,
           ROUND((CAST(o.o_totalprice AS DOUBLE) - s.lo) / (s.hi - s.lo), 6)
             AS minmax
    FROM orders o JOIN s USING (o_orderpriority)
    """,
)
def ml1_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization (z-score and min-max) — the
    numeric-feature prep step of a training pipeline. Written as
    aggregate-then-broadcast-join rather than a window: the per-group
    stats table is tiny (one row per group), so the join broadcasts and
    the big side never shuffles — a window over the same partition key
    would shuffle the entire fact table. ROUND absorbs double partial-sum
    ordering differences.
    """
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("double")
    stats = o.groupBy("o_orderpriority").agg(
        F.avg(x).alias("mu"),
        F.stddev_samp(x).alias("sd"),
        F.min(x).alias("lo"),
        F.max(x).alias("hi"),
    )
    return (
        o.join(F.broadcast(stats), "o_orderpriority")
        .select(
            "o_orderkey",
            F.round((x - F.col("mu")) / F.col("sd"), 4).alias("zscore"),
            F.round((x - F.col("lo")) / (F.col("hi") - F.col("lo")), 6).alias(
                "minmax"
            ),
        )
    )


# =====================================================================
# arr1 — higher-order array function family
# =====================================================================

@query(
    "arr1_array_family",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             list_sort(list(CAST(o_totalprice AS DECIMAL(18,2)))) AS prices
      FROM orders
      GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(len(prices) AS BIGINT) AS n_orders,
           CAST(prices[1] AS DOUBLE) AS min_price,
           CAST(prices[-1] AS DOUBLE) AS max_price,
           CAST(len(list_filter(prices, p -> p > 200000)) AS BIGINT) AS n_large,
           CAST(list_sum(list_transform(prices, p -> CAST(p AS DECIMAL(18,2))))
                AS DOUBLE) AS total
    FROM per_cust
    WHERE len(prices) >= 8
    """,
)
def arr1_array_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arr1: the higher-order array-function family — collect into a sorted
    array per group, then element access, lambda filter, lambda transform +
    fold — all JVM-side native HOFs (no UDF, stays inside codegen).

    Scale: one shuffle to the group key; per-group arrays are bounded by
    the group cardinality (orders per customer). The exact-DECIMAL fold
    makes the sum order-independent, so sort_array + aggregate is
    bit-stable across partitionings — the property the oracle hash checks.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast(DEC)
    per_cust = o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list(dec)).alias("prices")
    )
    # the fold's merge must re-cast: DECIMAL(18,2)+DECIMAL(18,2) widens to
    # (19,2), which no longer matches the accumulator type Spark requires
    total = F.aggregate(
        F.col("prices"),
        F.lit(0).cast(DEC),
        lambda acc, p: (acc + p).cast(DEC),
    )
    return per_cust.filter(F.size("prices") >= 8).select(
        "o_custkey",
        F.size("prices").cast("long").alias("n_orders"),
        F.element_at("prices", 1).cast("double").alias("min_price"),
        F.element_at("prices", -1).cast("double").alias("max_price"),
        F.size(F.filter("prices", lambda p: p > 200000)).cast("long").alias("n_large"),
        total.cast("double").alias("total"),
    )


# =====================================================================
# j12 — time-window interval self-join (the stream-stream join shape)
# =====================================================================

_J12_W_US = 3_600_000_000  # 1 hour


@query(
    "j12_interval_self_join",
    f"""
    SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {_J12_W_US}
    """,
)
def j12_interval_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j12: pairs of same-user events within a 1-hour window — the batch
    twin of a stream-stream interval join (streaming/joins.py runs the
    watermarked form of the same predicate).

    Scale shape: NOT a non-equi self-join (quadratic per user). Time is
    bucketed at the window width; one side explodes to its bucket ±1, the
    other joins on (user, bucket) — each qualifying pair matches on
    exactly one offset, so no dedup pass is needed — then the exact
    |Δts| <= W predicate filters within candidates. Candidate volume is
    linear in events × density of each 2-bucket neighborhood, the same
    state-bounding argument a streaming interval join's watermark makes.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = F.lit(_J12_W_US)
    a = e.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("ts_us").alias("_tsa"),
        F.expr(f"ts_us div {_J12_W_US}").alias("_bk"),
    )
    b = e.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("ts_us").alias("_tsb"),
        F.explode(
            F.array(
                F.expr(f"ts_us div {_J12_W_US} - 1"),
                F.expr(f"ts_us div {_J12_W_US}"),
                F.expr(f"ts_us div {_J12_W_US} + 1"),
            )
        ).alias("_bk"),
    )
    return (
        a.join(b, ["user_id", "_bk"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_tsa") - F.col("_tsb")) <= w)
        )
        .select(
            "user_id",
            "id_a",
            "id_b",
            (F.col("_tsb") - F.col("_tsa")).alias("gap_us"),
        )
    )


# =====================================================================
# opt1 — bucketed co-located join (shuffle elimination)
# =====================================================================

@query(
    "opt1_bucketed_join",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def opt1_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """opt1: the bucketed co-located join — both sides persisted bucketed
    (and sorted) on the join key, so the join runs with ZERO exchanges:
    bucket files align one-to-one and the sort-merge join streams them
    (tests/test_plans.py asserts no Exchange in this plan). At 100 TB
    this is the difference between shuffling the fact table per join and
    never shuffling it at all — the canonical strategy for a fact table
    joined repeatedly on the same key.

    The bucket count (16) must match on both sides; writes are external
    tables at the engine's scratch path, overwritten per run (idempotent).
    """
    import os

    from .operators.bucketing import write_bucketed
    from .queries_catalog import _scratch_dir

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = _scratch_dir("opt1_buckets")
    pid = os.getpid()
    to, tc = f"opt1_orders_{pid}", f"opt1_customer_{pid}"
    write_bucketed(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        to, ["o_custkey"], 16, path=os.path.join(base, "orders"),
    )
    write_bucketed(
        c.select("c_custkey", "c_mktsegment"),
        tc, ["c_custkey"], 16, path=os.path.join(base, "customer"),
    )
    # hint("merge"): at sf0.01 Catalyst would broadcast the small side and
    # hide the point — at 100 TB neither side broadcasts, and THIS is the
    # plan that matters: a sort-merge join whose join sides have NO
    # Exchange (the residual Sorts are bucket-local, shuffle-free)
    return (
        spark.table(to)
        .hint("merge")
        .join(spark.table(tc), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
    )


# =====================================================================
# ts2 — time-series downsampling (per-key hourly OHLC)
# =====================================================================

@query(
    "ts2_ohlc_downsample",
    """
    SELECT user_id,
           epoch_us(date_trunc('hour', ts)) AS bucket_us,
           CAST(arg_min(value, ts || '-' || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                AS DOUBLE) AS open,
           CAST(max(value) AS DOUBLE) AS high,
           CAST(min(value) AS DOUBLE) AS low,
           CAST(arg_max(value, ts || '-' || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                AS DOUBLE) AS close,
           COUNT(*) AS n
    FROM events
    GROUP BY user_id, date_trunc('hour', ts)
    """,
)
def ts2_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts2: per-user hourly OHLC downsampling — the canonical time-series
    reduction, via native min_by/max_by (no window, no sort: one hash
    aggregation carrying (orderkey, value) pairs map-side).

    Tie-break: first/last within a bucket is ordered by (ts, event_id) —
    encoded as a zero-padded sortable string so both engines' arg_min/
    arg_max agree exactly even when two events share a timestamp.

    Scale: single shuffle on (user, hour-bucket); OHLC state is O(1) per
    group (min_by/max_by keep one candidate each) — unlike a window-rank
    formulation, which would sort every group's rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    order_key = F.concat_ws(
        "-",
        F.col("ts").cast("string"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        e.groupBy(
            "user_id",
            F.unix_micros(F.date_trunc("hour", "ts")).alias("bucket_us"),
        )
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# =====================================================================
# GR1 — iterative graph analytics beyond connected components: PageRank
# =====================================================================

def _gr1_oracle_sql(n_iter: int = 5, damping_pct: int = 85, scale: int = 10**9) -> str:
    """Unrolled-CTE DuckDB twin of pagerank_scaled: one CTE layer per
    iteration (aggregates are not allowed in a recursive CTE's recursive
    term, and unrolling a FIXED iteration count is the honest equivalent).
    Integer floor division throughout makes it bit-identical to the Spark
    loop; DuckDB's BIGINT SUM widens to HUGEINT, so each layer casts back."""
    base = scale * (100 - damping_pct) // 100
    layers = [
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM n)"
    ]
    for i in range(1, n_iter + 1):
        layers.append(
            f"""r{i} AS (
      SELECT n.node,
             CAST({base} + ({damping_pct} * COALESCE(t.s, 0)) // 100 AS BIGINT) AS rank
      FROM n LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(r{i-1}.rank // deg.d) AS BIGINT) AS s
        FROM e JOIN r{i-1} ON e.src = r{i-1}.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst
      ) t ON n.node = t.node
    )"""
        )
    return f"""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
    ),
    n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    {", ".join(layers)}
    SELECT node, rank FROM r{n_iter}
    """


@query("gr1_pagerank", _gr1_oracle_sql())
def gr1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR1: PageRank over the co-purchase graph (edges = consecutive line
    items of one order, src part → next part), 5 fixed iterations in scaled
    integer arithmetic — iterative graph analytics with a FULL cross-engine
    oracle (operators/graph.py pagerank_scaled; float PageRank could only
    ever get a rows-only check). The five steps form one lazy plan over
    edges checkpointed once, so building the query runs only that
    checkpoint's shuffle stages and the steps run at the caller's action."""
    from .operators.graph import pagerank_scaled

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    a = li.select(
        F.col("l_orderkey").alias("_ok"),
        F.col("l_partkey").alias("src"),
        F.col("l_linenumber").alias("_ln"),
    )
    b = li.select(
        F.col("l_orderkey").alias("_ok"),
        F.col("l_partkey").alias("dst"),
        (F.col("l_linenumber") - 1).alias("_ln"),
    )
    edges = a.join(b, ["_ok", "_ln"]).select("src", "dst").distinct()
    return pagerank_scaled(edges, n_iter=5)


# =====================================================================
# dq3: distribution-drift detection (Population Stability Index)
# =====================================================================


@query(
    "dq3_drift_psi",
    """
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 50000) AS BIGINT), 9)
               AS bin_id,
             EXTRACT(YEAR FROM o_orderdate) AS yr
      FROM orders
      WHERE EXTRACT(YEAR FROM o_orderdate) IN (1994, 1995)
    ),
    spine AS (SELECT unnest(range(10)) AS bin_id),
    c AS (
      SELECT s.bin_id,
             COALESCE(SUM(CASE WHEN yr = 1994 THEN 1 END), 0) AS n_base,
             COALESCE(SUM(CASE WHEN yr = 1995 THEN 1 END), 0) AS n_curr
      FROM spine s LEFT JOIN b ON s.bin_id = b.bin_id
      GROUP BY s.bin_id
    ),
    t AS (SELECT SUM(n_base) AS tb, SUM(n_curr) AS tc FROM c),
    p AS (
      SELECT c.bin_id, CAST(c.n_base AS BIGINT) AS n_base,
             CAST(c.n_curr AS BIGINT) AS n_curr,
             (c.n_base + 1.0) / (t.tb + 10.0) AS pb,
             (c.n_curr + 1.0) / (t.tc + 10.0) AS pc
      FROM c CROSS JOIN t
    )
    SELECT bin_id, n_base, n_curr,
           ROUND((pc - pb) * ln(pc / pb), 6) AS psi_contrib,
           ROUND(SUM((pc - pb) * ln(pc / pb)) OVER (), 6) AS psi_total
    FROM p
    """,
)
def dq3_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq3: Population Stability Index between two order-year snapshots of
    the o_totalprice distribution — the standard drift monitor a feature
    pipeline runs between training and serving windows. Fixed equal-width
    bins (10 × 50k, top bin open) make the binning engine-independent;
    Laplace-smoothed proportions keep empty bins finite; ROUND(6) absorbs
    the ~1e-16 float-summation wobble per dtype policy (ln itself is
    bitwise libm-dependent, so contributions are rounded, not raw).

    Scale: two aggregations over one scan (bin counts, then totals) and a
    10-row spine — no shuffle of the fact beyond the count-by-bin.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1994, 1995)
    )
    b = o.select(
        F.least(
            F.floor(F.col("o_totalprice").cast("double") / 50000).cast("long"),
            F.lit(9),
        ).alias("bin_id"),
        F.year("o_orderdate").alias("yr"),
    )
    spine = spark.range(10).select(F.col("id").alias("bin_id"))
    c = (
        spine.join(b, "bin_id", "left")
        .groupBy("bin_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("yr") == 1994, 1)), F.lit(0)).alias("n_base"),
            F.coalesce(F.sum(F.when(F.col("yr") == 1995, 1)), F.lit(0)).alias("n_curr"),
        )
    )
    t = c.agg(F.sum("n_base").alias("tb"), F.sum("n_curr").alias("tc"))
    p = c.crossJoin(F.broadcast(t)).select(
        "bin_id",
        F.col("n_base").cast("long"),
        F.col("n_curr").cast("long"),
        ((F.col("n_base") + F.lit(1.0)) / (F.col("tb") + F.lit(10.0))).alias("pb"),
        ((F.col("n_curr") + F.lit(1.0)) / (F.col("tc") + F.lit(10.0))).alias("pc"),
    )
    contrib = (F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb"))
    from pyspark.sql import Window as W

    return p.select(
        "bin_id",
        "n_base",
        "n_curr",
        F.round(contrib, 6).alias("psi_contrib"),
        F.round(F.sum(contrib).over(W.partitionBy()), 6).alias("psi_total"),
    )


# =====================================================================
# ml2: per-group OLS linear fit (closed form from one aggregation)
# =====================================================================


@query(
    "ml2_linear_fit",
    """
    WITH d AS (
      SELECT o_orderpriority,
             CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS DOUBLE) AS x,
             CAST(o_totalprice AS DOUBLE) AS y
      FROM orders
    ),
    s AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM d GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
             AS intercept
    FROM s
    """,
)
def ml2_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml2: per-group ordinary-least-squares fit (price vs order date) from
    the closed-form normal equations — ONE aggregation pass producing the
    five sufficient statistics, no iterative solver, no collect. The
    feature-engineering primitive behind trend features and residual-based
    anomaly scores. ROUND absorbs partial-aggregation-order wobble in the
    double sums (dtype policy).

    Scale: a single groupBy over the fact; state per group is five
    doubles — the same shape at 100 TB.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    s = d.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "o_orderpriority",
        F.col("n").cast("long"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


# =====================================================================
# SK — portable sketches: HyperLogLog + Count-Min (round 5)
# =====================================================================
#
# Spark's approx_count_distinct / count_min_sketch have engine-internal
# register layouts nothing else can verify. These queries run the
# engine's own portable-primitive sketches (operators/sketches.py:
# md5_long60-based, integer-deterministic register math) so the DuckDB
# twin rebuilds the IDENTICAL sketch and the estimates hash-match — the
# standard sketch error bounds plus a differential gate on the
# estimator itself. At 100 TB: HLL ships <= 512 rows per group through
# the shuffle (map-side partial max over registers); the CMS counter
# table is 1024 cells total, and candidate estimation is a broadcast
# join against it.


@query(
    "sk1_hll_distinct",
    __import__(
        "etl_lorettoscarpa_1asfb2jf21_spark.operators.sketches",
        fromlist=["hll_oracle_sql"],
    ).hll_oracle_sql("lineitem", "l_orderkey", ["l_returnflag"]),
)
def sk1_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK1: per-returnflag HLL distinct-orderkey estimate (p=9, 512
    registers) built from the portable 60-bit md5 hash with exact
    integer register math (see operators/sketches.py). The oracle twin
    recomputes every register and the estimator closed-form; a mismatch
    in any hash bit, register max, scaled harmonic term, or the
    small-range branch breaks the hash."""
    from .operators.sketches import hll_distinct

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    return hll_distinct(li, "l_orderkey", ["l_returnflag"])


@query(
    "sk2_cms_heavy_hitters",
    f"""
    WITH counters AS (
      SELECT j, ('0x' || substr(md5('cms' || j || ':'
               || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket,
             COUNT(*) AS cnt
      FROM orders, unnest(range(0, 4)) AS t(j)
      GROUP BY 1, 2
    ), exact AS (
      SELECT o_custkey, COUNT(*) AS exact_cnt FROM orders GROUP BY 1
    ), cand AS (
      SELECT o_custkey, exact_cnt,
             ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, o_custkey) AS rn
      FROM exact
    ), probes AS (
      SELECT o_custkey, exact_cnt, j,
             ('0x' || substr(md5('cms' || j || ':'
               || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket
      FROM cand, unnest(range(0, 4)) AS t(j)
      WHERE rn <= 20
    )
    SELECT p.o_custkey,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_est,
           CAST(MIN(c.cnt) - p.exact_cnt AS BIGINT) AS overshoot
    FROM probes p JOIN counters c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.o_custkey, p.exact_cnt
    """,
)
def sk2_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK2: Count-Min heavy hitters over orders.o_custkey — build the
    4x256 counter table in one hash-aggregation pass, take the exact
    top-20 customers (ties broken by key for determinism), and read
    each one's CMS estimate as min over the 4 row counters. The
    overestimate property (cms_est >= exact_cnt always) plus the fully
    portable seeded hashes make the whole sketch hash-checkable. This
    is the skew-diagnosis primitive at 100 TB: counters are 1024 cells
    regardless of input size, mergeable by addition across shards."""
    from .operators.sketches import cms_counters, cms_estimate

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    counters = cms_counters(o, "o_custkey")
    exact = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("exact_cnt"))
    # top-20 via orderBy+limit -> TakeOrderedAndProject (per-partition
    # heaps + one 20-row merge), NOT a row_number window that would drag
    # every per-key count onto a single partition at scale.
    cand = exact.orderBy(F.col("exact_cnt").desc(), F.col("o_custkey")).limit(20)
    est = cms_estimate(counters, cand.select("o_custkey"), "o_custkey")
    return cand.join(est, "o_custkey").select(
        "o_custkey",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overshoot"),
    )


@query(
    "sk3_windowed_hll",
    __import__(
        "etl_lorettoscarpa_1asfb2jf21_spark.operators.sketches",
        fromlist=["hll_oracle_sql"],
    ).hll_oracle_sql(
        "(SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start, "
        "user_id FROM events) t",
        "user_id",
        ["window_start"],
    ),
)
def sk3_windowed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK3: per-hour distinct-user HLL — the STREAMING sketch contract.
    This batch form is plan-identical to
    streaming/windows.windowed_hll_registers (one groupBy(window,
    register) max aggregation — the only stateful op, so the stream
    needs no chained-aggregation support; per-window state is <= 512
    registers at ANY event rate) followed by the read-time estimator
    fold. Stream/batch parity is proven in tests/test_streaming.py; the
    DuckDB twin rebuilds every register and the estimate closed-form."""
    from .operators.sketches import hll_estimate_from_registers
    from .streaming.windows import windowed_hll_registers

    e = load_table(spark, sf_dir, "events")
    regs = windowed_hll_registers(e)
    return hll_estimate_from_registers(regs, ["window_start"])


def _sk4_oracle() -> str:
    from .operators.sketches import _SCALE, hll_est_sql, hll_reg_sql

    fold = (
        "SELECT {g}, COUNT(*) AS registers_used, "
        f"SUM(({_SCALE}::BIGINT) >> mj) AS s_present "
        "FROM {src} GROUP BY {g}"
    )
    return f"""
    WITH regmax AS (
      {hll_reg_sql("events", "user_id", ["event_type"])}
    ), per_type AS (
      SELECT event_type, {hll_est_sql("registers_used", "s_present")} AS hll_est
      FROM ({fold.format(g="event_type", src="regmax")})
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM regmax) a
      JOIN (SELECT DISTINCT event_type FROM regmax) b
        ON a.event_type < b.event_type
    ), pairregs AS (
      SELECT type_a, type_b, idx, MAX(mj) AS mj FROM (
        SELECT p.type_a, p.type_b, r.idx, r.mj
        FROM pairs p JOIN regmax r ON r.event_type = p.type_a
        UNION ALL
        SELECT p.type_a, p.type_b, r.idx, r.mj
        FROM pairs p JOIN regmax r ON r.event_type = p.type_b
      ) GROUP BY 1, 2, 3
    ), union_est AS (
      SELECT type_a, type_b,
             {hll_est_sql("registers_used", "s_present")} AS est_union
      FROM ({fold.format(g="type_a, type_b", src="pairregs")})
    )
    SELECT u.type_a, u.type_b,
           ea.hll_est AS est_a, eb.hll_est AS est_b, u.est_union,
           GREATEST(0, ea.hll_est + eb.hll_est - u.est_union) AS est_intersect
    FROM union_est u
    JOIN per_type ea ON ea.event_type = u.type_a
    JOIN per_type eb ON eb.event_type = u.type_b
    """


@query("sk4_hll_overlap", _sk4_oracle())
def sk4_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK4: audience overlap between every event-type pair WITHOUT a
    pairwise distinct-count pass — the mergeability payoff. Per-type HLL
    register tables are built once; a pair's union estimate is max() over
    the two register sets, and the intersection falls out by
    inclusion-exclusion (floored at 0). At 100 TB this replaces
    O(pairs) COUNT(DISTINCT CASE...) scans with ONE register build
    (<= 512 rows/type) plus arithmetic on 512-row artifacts — the reason
    register-form sketches, not opaque estimates, are what you persist.
    Every register and all three estimator folds are rebuilt closed-form
    by the DuckDB twin."""
    from .operators.sketches import hll_estimate_from_registers, hll_registers

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # <= n_types x 512 rows, reused by three folds below
    regs = hll_registers(e, "user_id", ["event_type"]).localCheckpoint()
    per_type = hll_estimate_from_registers(regs, ["event_type"])
    types = regs.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    cols = ["type_a", "type_b", "_hll_idx", "_mj"]
    ra = pairs.join(regs.withColumnRenamed("event_type", "type_a"), "type_a")
    rb = pairs.join(regs.withColumnRenamed("event_type", "type_b"), "type_b")
    merged = (
        ra.select(*cols)
        .union(rb.select(*cols))
        .groupBy("type_a", "type_b", "_hll_idx")
        .agg(F.max("_mj").alias("_mj"))
    )
    eu = hll_estimate_from_registers(merged, ["type_a", "type_b"]).select(
        "type_a", "type_b", F.col("hll_est").alias("est_union")
    )
    ea = per_type.select(
        F.col("event_type").alias("type_a"), F.col("hll_est").alias("est_a")
    )
    eb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("hll_est").alias("est_b")
    )
    return (
        eu.join(ea, "type_a")
        .join(eb, "type_b")
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.lit(0).cast("long"),
                (F.col("est_a") + F.col("est_b") - F.col("est_union")).cast(
                    "long"
                ),
            ).alias("est_intersect"),
        )
    )


def _sk5_oracle() -> str:
    from .operators.sketches import _SCALE, hll_est_sql, hll_reg_sql

    hourly = hll_reg_sql(
        "(SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS ws, user_id "
        "FROM events) t",
        "user_id",
        ["ws"],
    )
    direct = hll_reg_sql(
        "(SELECT substr(CAST(date_trunc('hour', ts) AS VARCHAR), 1, 10) "
        "AS day, user_id FROM events) t2",
        "user_id",
        ["day"],
    )
    fold = (
        f"SELECT day, COUNT(*) AS registers_used, "
        f"SUM(({_SCALE}::BIGINT) >> mj) AS s_present "
        "FROM {src} GROUP BY day"
    )
    return f"""
    WITH hourly AS (
      {hourly}
    ), daymerge AS (
      SELECT substr(ws, 1, 10) AS day, idx, MAX(mj) AS mj
      FROM hourly GROUP BY 1, 2
    ), merged AS (
      SELECT day, CAST(registers_used AS BIGINT) AS registers_used,
             {hll_est_sql("registers_used", "s_present")} AS hll_est
      FROM ({fold.format(src="daymerge")})
    ), directregs AS (
      {direct}
    ), directest AS (
      SELECT day, {hll_est_sql("registers_used", "s_present")} AS direct_est
      FROM ({fold.format(src="directregs")})
    )
    SELECT m.day, m.registers_used, m.hll_est, d.direct_est
    FROM merged m JOIN directest d ON m.day = d.day
    """


@query("sk5_hll_window_rollup", _sk5_oracle())
def sk5_hll_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK5: roll PERSISTED hourly HLL register tables up into daily
    distinct-user estimates WITHOUT rescanning the raw events — the
    window-merge form of the sk4 mergeability story. The hourly register
    table (the artifact sk3's stream writes) re-merges into days by
    register max; ``direct_est`` is the estimate a from-scratch daily
    build produces, and the two are IDENTICAL by construction (max is
    associative), which the oracle twin re-proves hash-exactly. At
    100 TB: the rollup touches <= 24 x 512 rows per day instead of the
    day's raw events — this is why register-form sketches, not opaque
    estimates, are what you persist."""
    from .operators.sketches import hll_estimate_from_registers
    from .streaming.windows import windowed_hll_registers

    e = load_table(spark, sf_dir, "events")
    hourly = windowed_hll_registers(e)  # window_start, _hll_idx, _mj
    daily_regs = (
        hourly.select(
            F.substring("window_start", 1, 10).alias("day"), "_hll_idx", "_mj"
        )
        .groupBy("day", "_hll_idx")
        .agg(F.max("_mj").alias("_mj"))
    )
    merged = hll_estimate_from_registers(daily_regs, ["day"])
    direct = hll_estimate_from_registers(
        windowed_hll_registers(e, window_duration="1 day").select(
            F.substring("window_start", 1, 10).alias("day"), "_hll_idx", "_mj"
        ),
        ["day"],
    ).select("day", F.col("hll_est").alias("direct_est"))
    return merged.join(direct, "day").select(
        "day", "registers_used", "hll_est", "direct_est"
    )


def _sk7_oracle() -> str:
    from .operators.sketches import hll_oracle_sql

    # sliding 2h/1h windows: slide-aligned starts, so each event lands in
    # exactly duration/slide = 2 windows — starts hour(ts) and
    # hour(ts) - 1h — mirroring Spark's epoch-aligned F.window(2h, 1h)
    return hll_oracle_sql(
        "(SELECT CAST(date_trunc('hour', ts) - o * INTERVAL 1 HOUR "
        "AS VARCHAR) AS window_start, user_id "
        "FROM events, unnest([0, 1]) AS t(o)) t",
        "user_id",
        ["window_start"],
    )


@query("sk7_sliding_hll", _sk7_oracle())
def sk7_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK7: OVERLAPPING sliding-window distinct-user HLL (2h windows
    sliding by 1h) — the overlapping-window form of sk3. Sliding is
    tumbling plus duration/slide-fold row duplication before the SAME
    single stateful register-max, so state per OPEN window stays <= 512
    registers and the watermark still GCs closed windows; the register
    tables remain max-mergeable artifacts. The DuckDB twin derives the
    identical two slide-aligned window starts per event and rebuilds
    every register and the estimator closed-form."""
    from .operators.sketches import hll_estimate_from_registers
    from .streaming.windows import windowed_hll_registers

    e = load_table(spark, sf_dir, "events")
    regs = windowed_hll_registers(
        e, window_duration="2 hours", slide="1 hour"
    )
    return hll_estimate_from_registers(regs, ["window_start"])


def _sk6_oracle() -> str:
    h = (
        "('0x' || substr(md5('cms' || j || ':' "
        "|| CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 256"
    )
    return f"""
    WITH ev AS (
      SELECT substr(CAST(date_trunc('hour', ts) AS VARCHAR), 1, 10) AS day,
             CAST(date_trunc('hour', ts) AS VARCHAR) AS ws, user_id
      FROM events
    ), hourly AS (
      SELECT day, ws, j, {h} AS bucket, COUNT(*) AS cnt
      FROM ev, unnest(range(0, 4)) AS t(j)
      GROUP BY 1, 2, 3, 4
    ), daymerge AS (
      SELECT day, j, bucket, SUM(cnt) AS cnt FROM hourly GROUP BY 1, 2, 3
    ), exact AS (
      SELECT day, user_id, COUNT(*) AS exact_cnt FROM ev GROUP BY 1, 2
    ), cand AS (
      SELECT day, user_id, exact_cnt,
             ROW_NUMBER() OVER (
               PARTITION BY day ORDER BY exact_cnt DESC, user_id
             ) AS rn
      FROM exact
    ), probes AS (
      SELECT day, user_id, exact_cnt, j, {h} AS bucket
      FROM cand, unnest(range(0, 4)) AS t(j)
      WHERE rn <= 5
    )
    SELECT p.day, p.user_id,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est,
           CAST(MIN(COALESCE(c.cnt, 0)) - p.exact_cnt AS BIGINT) AS overshoot
    FROM probes p LEFT JOIN daymerge c
      ON p.day = c.day AND p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.day, p.user_id, p.exact_cnt
    """


@query("sk6_windowed_cms_merge", _sk6_oracle())
def sk6_windowed_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK6: windowed Count-Min with cross-window COUNTER ADDITION — the
    CMS half of the mergeability pair (sk5 is HLL's max-merge). Hourly
    1024-cell counter tables (the bounded-state artifact the streaming
    twin streaming/windows.windowed_cms_counters emits; parity tested)
    are summed into daily tables — addition makes the merged table
    bit-identical to a direct daily build — then each day's exact top-5
    users (row_number per day over the aggregated counts; partitions by
    day, never a single task) read their estimates as min over the 4
    row counters, overestimate property included in-output. At 100 TB
    shards/restatements merge by '+' on 1024-row artifacts instead of
    re-scanning the raw stream."""
    from .operators.sketches import CMS_DEPTH, cms_bucket_expr
    from .streaming.sessions import _ts_as_timestamp
    from .streaming.windows import windowed_cms_counters

    e = load_table(spark, sf_dir, "events")
    hourly = windowed_cms_counters(e)  # window_start, _row, _bucket, _cnt
    day_counters = (
        hourly.select(
            F.substring("window_start", 1, 10).alias("day"),
            "_row",
            "_bucket",
            "_cnt",
        )
        .groupBy("day", "_row", "_bucket")
        .agg(F.sum("_cnt").alias("_cnt"))
    )
    ev = _ts_as_timestamp(e.select("ts", "user_id"), "ts").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "user_id",
    )
    exact = ev.groupBy("day", "user_id").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    wd = Window.partitionBy("day").orderBy(
        F.col("exact_cnt").desc(), "user_id"
    )
    cand = (
        exact.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") <= 5)
        .select("day", "user_id", "exact_cnt")
    )
    probes = cand.select(
        "day",
        "user_id",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("_row"),
                        cms_bucket_expr("user_id", j).alias("_bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("_rb"),
    ).select("day", "user_id", "exact_cnt", "_rb._row", "_rb._bucket")
    est = (
        probes.join(
            F.broadcast(day_counters), ["day", "_row", "_bucket"], "left"
        )
        .groupBy("day", "user_id", "exact_cnt")
        .agg(
            F.min(F.coalesce(F.col("_cnt"), F.lit(0)))
            .cast("long")
            .alias("cms_est")
        )
    )
    return est.select(
        "day",
        "user_id",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overshoot"),
    )


_SK8_NORM = "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"


@query(
    "sk8_minhash_shard_merge",
    f"""
    WITH norm AS (
      SELECT source, doc_id, {_SK8_NORM} AS t FROM documents
    ), sh AS (
      SELECT source, doc_id % 4 AS shard,
             ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
      FROM (
        SELECT source, doc_id,
               unnest([substr(t, CAST(i AS INT), 6)
                       FOR i IN range(1, len(t) - 4)]) AS g
        FROM norm WHERE len(t) >= 6
      )
    ), shard_sig AS (
      SELECT source, shard, h % 16 AS bin, MIN(h) AS mh
      FROM sh GROUP BY 1, 2, 3
    ), src_sig AS (
      SELECT source, bin, MIN(mh) AS mh FROM shard_sig GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bins_equal,
           SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0
             AS jaccard_est
    FROM src_sig a JOIN src_sig b ON a.bin = b.bin AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def sk8_minhash_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK8: corpus-level (per-source) MinHash signatures min-merged from
    PER-SHARD partials, then pairwise source content-overlap estimates —
    MinHash joins the mergeable-artifact family (HLL: max, CMS: add,
    histograms: add, MinHash: elementwise MIN, because the signature of
    a union of shingle sets is the min of the signatures). Each shard's
    (source, bin) minima are the artifact a sharded ingest persists;
    min-merging them is bit-identical to a direct whole-source build,
    which is exactly what the oracle computes — the hash match is the
    merge proof. The pair stage estimates Jaccard(source_a, source_b)
    over their shingle SETS as the fraction of agreeing signature
    components (one-permutation estimator) — content overlap between
    whole corpora from 16-number artifacts, no document pairing.

    Scale: one shingle pass (map-side combine collapses to
    sources·shards·16 rows before the shuffle); the pair join runs on
    sources·16 rows. Restating after a shard is replaced touches one
    shard's partial, not the corpus."""
    from .operators.dedup import _hashed_ngrams_from_norm, _spread_normalized

    d = load_table(spark, sf_dir, "documents")
    sh = _spread_normalized(d, "text", keep=["source", "doc_id"]).select(
        "source",
        (F.col("doc_id") % 4).alias("_shard"),
        F.explode(
            _hashed_ngrams_from_norm(6, distinct=False, portable=True)
        ).alias("_sh"),
    )
    shard_sig = sh.groupBy(
        "source", "_shard", F.pmod("_sh", F.lit(16)).alias("_bin")
    ).agg(F.min("_sh").alias("_mh"))
    src_sig = shard_sig.groupBy("source", "_bin").agg(F.min("_mh").alias("_mh"))
    sa = src_sig.select(
        F.col("source").alias("source_a"), "_bin", F.col("_mh").alias("_ha")
    )
    sb = src_sig.select(
        F.col("source").alias("source_b"), "_bin", F.col("_mh").alias("_hb")
    )
    eq = F.sum(F.when(F.col("_ha") == F.col("_hb"), 1).otherwise(0))
    return (
        sa.join(sb, "_bin")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            eq.cast("long").alias("n_bins_equal"),
            (eq / F.lit(16.0)).alias("jaccard_est"),
        )
    )


@query(
    "a9_windowed_quantile_merge",
    """
    WITH ev AS (
      SELECT substr(CAST(date_trunc('hour', ts) AS VARCHAR), 1, 10) AS day,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ), hist AS (
      SELECT day, cents, COUNT(*) AS cnt FROM ev GROUP BY 1, 2
    ), cum AS (
      SELECT day, cents, cnt,
             SUM(cnt) OVER (PARTITION BY day ORDER BY cents) AS cum,
             SUM(cnt) OVER (PARTITION BY day) AS n
      FROM hist
    )
    SELECT day,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cents END) AS BIGINT)
             AS p50_cents,
           CAST(MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN cents END) AS BIGINT)
             AS p90_cents,
           CAST(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN cents END) AS BIGINT)
             AS p99_cents
    FROM cum GROUP BY day
    """,
)
def a9_windowed_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: EXACT daily quantiles rolled up from PERSISTED hourly value
    histograms — the third member of the mergeable-artifact trio (HLL
    registers merge by max: sk5; CMS counters by addition: sk6; value
    histograms by addition: here). The Spark side builds per-hour
    (window, cents) count tables — the artifact a streaming job would
    persist per window, bounded by distinct-value cardinality, never
    rows — then SUMS them into daily histograms and walks the a8
    cumulative histogram for exact p50/p90/p99. Addition makes the
    merged histogram bit-identical to a direct daily build, which is
    exactly what the oracle computes — the hash match IS the
    merge-correctness proof. At 100 TB: restating a day's quantiles
    touches 24 bounded histograms instead of the day's raw events."""
    from .streaming.sessions import _ts_as_timestamp

    e = load_table(spark, sf_dir, "events").select("ts", "value")
    ev = _ts_as_timestamp(e, "ts").select(
        F.window("ts", "1 hour").alias("w"),
        (F.col("value").cast(DEC) * 100).cast("long").alias("cents"),
    )
    hourly = (
        ev.select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "cents",
        )
        .groupBy("ws", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    daily = (
        hourly.select(F.substring("ws", 1, 10).alias("day"), "cents", "cnt")
        .groupBy("day", "cents")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = Window.partitionBy("day").orderBy("cents")
    wn = Window.partitionBy("day")
    cum = daily.select(
        "day",
        "cents",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )

    def pick(q: float, name: str):
        return (
            F.min(
                F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("cents"))
            )
            .cast("long")
            .alias(name)
        )

    return cum.groupBy("day").agg(
        F.max("n").cast("long").alias("n"),
        pick(0.5, "p50_cents"),
        pick(0.9, "p90_cents"),
        pick(0.99, "p99_cents"),
    )


@query(
    "a8_scalable_quantiles",
    """
    WITH hist AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, cents, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM hist
    )
    SELECT l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cents END) AS BIGINT)
             AS p50_cents,
           CAST(MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN cents END) AS BIGINT)
             AS p90_cents,
           CAST(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN cents END) AS BIGINT)
             AS p99_cents
    FROM cum GROUP BY l_returnflag
    """,
)
def a8_scalable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: EXACT discrete quantiles that survive 100 TB. Spark's
    percentile()/median() buffer every value of a group in executor
    memory — a silent OOM at data scale. This takes the two-pass
    histogram route instead: hash-aggregate counts per DISTINCT value
    (exact integer cents — the money domain is discrete), cumulative-sum
    the histogram per group, and read each quantile as the smallest
    value whose cumulative count reaches ceil(q*n) — the quantile_disc
    definition, pinned against DuckDB's builtin in
    tests/test_sketches.py. Memory is bounded by the number of DISTINCT
    values per group (price cardinality), never row count; the only
    window runs over that bounded histogram, and the map-side partial
    count collapses the data-sized pass before any shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast(DEC) * 100)
        .cast("long")
        .alias("cents"),
    )
    hist = li.groupBy("l_returnflag", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    wn = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "cents",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )

    def pick(q: float, name: str):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("cents"))
        ).cast("long").alias(name)

    return cum.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        pick(0.5, "p50_cents"),
        pick(0.9, "p90_cents"),
        pick(0.99, "p99_cents"),
    )
