"""Query registry: every operator exposed as (Spark callable, DuckDB twin).

Each entry is checked by the driver at sf=0.01 (row count + schema +
order-insensitive value hash). Determinism rules used throughout:

- monetary aggregations go through DECIMAL casts so sums are exact and
  order-independent in both engines, then surface as DOUBLE;
- window functions always carry a unique tie-break key;
- column names are aliased identically in both engines.

Scale notes are attached per query: the Spark side is written so the
100 TB plan is the one Catalyst produces (broadcast hints on dims,
higher-order functions instead of explode+shuffle where possible).
"""

from __future__ import annotations

from typing import Callable, Dict, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from parsee_pdf_reader_spark.functions import oracle as O
from parsee_pdf_reader_spark.functions import scalars as S

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: Dict[str, Tuple[QueryFn, str]] = {}


def register(name: str, sql: str):
    def deco(fn: QueryFn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: (applicationId, sf_dir, table, parallelism) -> bool(needs spread).
#: Memoizes the PARTITION-COUNT PROBE of `_ts` only — `df.rdd` costs
#: ~140 ms of physical planning per call, and a composed query like
#: corpus_keep_filter constructs ~15 spread scans per invocation. The
#: cached value is scan metadata (how many splits a parquet file
#: yields), not data: inputs are immutable within a session, and a new
#: session/app recomputes.
_SPREAD_MEMO: dict = {}


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scale-adaptive scan parallelization for compute-heavy per-row
    stages (guide §2: partitioning must not be tuned to one scale):
    ``_t(...)`` round-robined to ``defaultParallelism`` partitions, with
    the partition-count probe memoized per (app, table).

    The sf test tables are single-row-group parquet files, so their
    scans are ONE task no matter the split size — a per-row md5/HOF
    projection then runs on one core of 32. A 100 TB table arrives in
    thousands of row groups, so this helper is a no-op there: it only
    round-robins when the scan's native parallelism is BELOW the
    cluster's (the repartition then moves a sub-MB table, which is
    noise). Round-robin repartition is deterministic under retries
    (sort-before-repartition is on by default, SPARK-23207) and every
    consumer below is order-insensitive (min/max/count/md5 keys)."""
    df = _t(spark, sf_dir, name)
    p = spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, sf_dir, name, p)
    need = _SPREAD_MEMO.get(key)
    if need is None:
        need = _SPREAD_MEMO[key] = df.rdd.getNumPartitions() < p
    return df.repartition(p) if need else df


#: whitespace tokens in DuckDB, the twin of ``tokens``: of ``text``
#: and of ``lower(text)`` (the Spark side lower-cases per token, which
#: gives the same tokens: no whitespace character changes case)
TOKENS_SQL = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
LOWER_TOKENS_SQL = ("list_filter(string_split_regex(lower(text), "
                    "'\\s+'), x -> x <> '')")


def tokens(col):
    """Whitespace tokens of ``col`` (split on ``\\s+``, empty strings
    dropped): the package's one tokenizer."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != "")


def documents(spark: SparkSession, sf_dir: str,
              docs: DataFrame | None = None) -> DataFrame:
    """``docs`` if given, else the spread ``documents`` scan with its
    ``tokens`` as a ``toks`` column. A component's ``q_*`` wrapper takes
    an optional pre-read frame, which must carry ``toks`` too, so a
    composed query reads and tokenizes the table once and hands that
    one frame to every component it joins."""
    if docs is None:
        docs = _ts(spark, sf_dir, "documents").withColumn(
            "toks", tokens("text"))
    return docs


def materialize(df: DataFrame) -> DataFrame:
    """``df`` stored by the first job that reads it; every later read
    of the returned frame, or of a frame derived from it, reads the
    stored rows instead of re-running ``df``'s plan. A lazy
    ``localCheckpoint``:

    - it adds no job: the first consumer's job writes the blocks
      (under AQE the shuffle stages below ``df`` run when this is
      called, as the jobs that consumer would otherwise start with);
    - it never serves one call's rows to another: every call
      checkpoints a fresh RDD, where ``persist()`` would hand a second
      plan over a rewritten input path the first plan's cached rows
      (the cache manager matches plans, not file contents);
    - it truncates the lineage, so iterative callers keep flat plans;
    - Spark's ContextCleaner releases the blocks once the returned
      frame and every frame derived from it are dropped.

    The blocks are executor-local and not replicated: losing an
    executor loses them, and a later read fails rather than
    recomputes."""
    return df.localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# relational coverage (aggregation / join / window / dedup skeletons)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
    select l_returnflag, l_linestatus,
           cast(sum(cast(l_quantity as decimal(18,4))) as double)
               as sum_qty,
           cast(sum(cast(l_extendedprice as decimal(18,4))) as double)
               as sum_base_price,
           cast(sum(cast(l_extendedprice as decimal(18,4))
                    * cast(1 - l_discount as decimal(18,4))) as double)
               as sum_disc_price,
           count(*) as count_order
    from lineitem
    group by l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style map-side-combinable aggregation. Scale: partial
    aggregation before the exchange; decimal sums are exact so the
    result is partitioning-invariant."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double")
            .alias("sum_base_price"),
            F.sum(dec("l_extendedprice")
                  * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    """
    select n_name as nation,
           cast(sum(cast(o_totalprice as decimal(18,4))) as double)
               as revenue,
           count(*) as n_orders
    from orders
    join customer on o_custkey = c_custkey
    join nation on c_nationkey = n_nationkey
    group by n_name
    """,
)
def q_revenue_by_nation(spark, sf_dir):
    """Fact-to-dim star join. Scale: dims are broadcast (no shuffle of
    the fact side for the join; the only exchange is the final group)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation),
              customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_TOPK_SALT = 64


@register(
    "topk_orders_per_priority",
    """
    select o_orderpriority, o_orderkey, o_totalprice
    from (
      select o_orderpriority, o_orderkey, o_totalprice,
             row_number() over (partition by o_orderpriority
                                order by o_totalprice desc, o_orderkey)
                 as rnk
      from orders) t
    where rnk <= 5
    """,
)
def q_topk_orders_per_priority(spark, sf_dir):
    """Top-k per group via ranked window; unique tie-break on orderkey.

    Scale (VERDICT r3 item 3): `o_orderpriority` has 5 values, so a
    single ranked window funnels ALL rows into 5 tasks for full sorts.
    This is the scatter/gather partial top-k (the DataFrame-native
    twin of ann_cosine_topk's Arrow `_local_topk`): phase 1 ranks
    within (priority, salt) — 5x{_TOPK_SALT} balanced partitions, each
    keeping <= k rows — and phase 2 ranks the <= 5*salt*k survivors
    per priority. Any global top-k row ranks <= k inside its own salt
    bucket too, so the survivor set provably contains the answer and
    the final window's input is O(k*salt) rows per priority, not the
    table. Salt = xxhash64(orderkey) mod {_TOPK_SALT}: deterministic
    (resumable retries see the same buckets), uniform regardless of
    key clustering."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    order_cols = (F.desc("o_totalprice"), F.asc("o_orderkey"))
    salted = orders.withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_TOPK_SALT)))
    w1 = Window.partitionBy("o_orderpriority", "salt").orderBy(*order_cols)
    survivors = (salted.withColumn("lrnk", F.row_number().over(w1))
                 .where(F.col("lrnk") <= 5))
    w2 = Window.partitionBy("o_orderpriority").orderBy(*order_cols)
    return (
        survivors.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@register(
    "sessionize_events",
    """
    select user_id,
           count(distinct session_id) as n_sessions,
           max(cnt) as max_session_events
    from (
      select user_id, session_id, count(*) as cnt
      from (
        select user_id,
               sum(is_new) over (partition by user_id order by ts, event_id
                                 rows unbounded preceding) as session_id
        from (
          select user_id, ts, event_id,
                 case when lag(ts) over (partition by user_id
                                         order by ts, event_id) is null
                       or epoch(ts) - epoch(lag(ts) over (
                            partition by user_id order by ts, event_id))
                          > 1800
                      then 1 else 0 end as is_new
          from events) a) b
      group by user_id, session_id) c
    group by user_id
    """,
)
def q_sessionize_events(spark, sf_dir):
    """Gap sessionization — the DataFrame skeleton of the kernel's G1
    tokenization and T4 table splitting (lag + cumulative sum). Scale:
    one exchange on user_id; all windows share that partitioning."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional-second gaps: DuckDB epoch() keeps microseconds while
    # Spark unix_timestamp() truncates — compare in micros (same fix
    # as asof_join_click_view, relational_extra.py)
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap = (us(F.col("ts")) - us(F.lag("ts").over(w))) / 1e6
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id",
                    F.sum("is_new").over(
                        w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("cnt"))
    return per_sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.max("cnt").alias("max_session_events"),
    )


@register(
    "rank_events_per_user",
    """
    select user_id, event_id, value
    from (
      select user_id, event_id, value,
             dense_rank() over (partition by user_id
                                order by value desc, event_id) as rnk
      from events) t
    where rnk <= 3
    """,
)
def q_rank_events_per_user(spark, sf_dir):
    """dense_rank per partition — the row-index assignment skeleton of
    kernel stage G3 (pdf_page.py:404-408) as a checkable query."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"),
                                              F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.dense_rank().over(w))
        .where(F.col("rnk") <= 3)
        .select("user_id", "event_id", "value")
    )


# ---------------------------------------------------------------------------
# scalar-function surface over documents
# ---------------------------------------------------------------------------

@register(
    "doc_numeric_token_stats",
    f"""
    select doc_id,
           len(toks) as n_tokens,
           len(list_filter(toks, x -> {O.is_number_cell('x')}))
               as n_numeric,
           len(list_filter(toks, x -> {O.is_negative('x')}))
               as n_negative,
           cast(coalesce(list_sum(list_transform(toks,
               x -> coalesce(cast(round({O.clean_numeric_value('x')}
                                         * 10000) as bigint), 0))), 0)
                as bigint)
               as sum_scaled
    from (select doc_id, {TOKENS_SQL} as toks from documents) t
    """,
)
def q_doc_numeric_token_stats(spark, sf_dir):
    """The reference's numeric-cell predicates applied per token using
    higher-order functions — NO explode, NO shuffle for the stats
    themselves: a single projection per row.

    r7 shape: the token array is bound ONCE (single-element-array
    transform, the ``bind1`` pattern of operators/dedup.py) and the
    four statistics are emitted through one ``inline(array(struct))``
    Generate boundary — the previous four independent output
    expressions each re-inlined the split+filter (4x per row, HOFs run
    interpreted with no cross-expression CSE). Value-identical, same
    column names/types."""
    docs = documents(spark, sf_dir)
    scaled = lambda x: F.coalesce(  # noqa: E731
        F.round(S.clean_numeric_value(x) * 10000).cast("long"), F.lit(0))

    def stats(tk):
        return F.struct(
            F.size(tk).alias("n_tokens"),
            F.size(F.filter(tk, S.is_number_cell)).alias("n_numeric"),
            F.size(F.filter(tk, S.is_negative)).alias("n_negative"),
            F.coalesce(
                F.aggregate(F.transform(tk, scaled),
                            F.lit(0).cast("long"), lambda a, x: a + x),
                F.lit(0).cast("long"),
            ).alias("sum_scaled"),
        )

    bound = F.element_at(F.transform(F.array("toks"), stats), 1)
    return docs.select("doc_id", F.inline(F.array(bound)))


@register(
    "clean_numeric_tokens",
    f"""
    select tok,
           {O.is_number_cell('tok')} as is_num,
           {O.is_negative('tok')} as neg,
           round({O.clean_numeric_value('tok')}, 6) as val,
           {O.letter_len('tok')} as n_letters,
           {O.word_count('tok')} as n_words
    from (select distinct unnest({TOKENS_SQL}) as tok from documents) t
    """,
)
def q_clean_numeric_tokens(spark, sf_dir):
    """Token-level scalar functions (reference helper.py:19-168) as
    native column expressions over the distinct token vocabulary. The
    scan is not spread (``_ts``): the distinct's shuffle already spreads
    the per-token work, and a spread would add a second shuffle."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("tok")).distinct()
    return tok.select(
        "tok",
        S.is_number_cell(F.col("tok")).alias("is_num"),
        S.is_negative(F.col("tok")).alias("neg"),
        F.round(S.clean_numeric_value(F.col("tok")), 6).alias("val"),
        S.letter_len(F.col("tok")).alias("n_letters"),
        S.word_count(F.col("tok")).alias("n_words"),
    )
