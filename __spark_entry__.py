"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001.
``queries()`` exposes one callable per implemented operator
(SURVEY.md §2); ``oracle_sql()`` gives each one's ANSI-SQL twin for
the DuckDB oracle. Column names are aliased identically on both
sides; double sums go through decimal(38,10) on both sides so the
result is bit-deterministic regardless of partitioning/order.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import blackroad_data_pipeline_spark.llmops  # noqa: F401  (registers extension ops)
import blackroad_data_pipeline_spark.streaming  # noqa: F401  (registers event-time ops)
from blackroad_data_pipeline_spark.operators import apply_operator as op
from blackroad_data_pipeline_spark.operators.parallel import lit_frame, overlap

# Parity-subset scale knob (round 10, VERDICT r9 #6): the recall~1
# parity pairs verify against BY-DESIGN-QUADRATIC exact oracles, so
# their subsets must shrink as the fixture grows or large-fixture
# sweeps have to exempt them permanently. SPARK_GRAFT_PARITY_SCALE
# multiplies every parity modulus — unset (=1) reproduces the exact
# contract geometry; a `tools/check_oracle.py` run over a generated
# sf1+ clone sets it so the SAME pair definitions stay feasible
# there. Pick a scale coprime with the gates' inner
# splits (2/8/20; 101 works): a shared factor empties one side of a
# split and the pair passes vacuously.
# The Spark closure and the oracle SQL both read the derived moduli,
# so the two sides can never disagree about the subset.
_PSCALE = int(os.environ.get("SPARK_GRAFT_PARITY_SCALE", "1"))
_DMOD = 2 * _PSCALE    # documents parity subset: doc_id % _DMOD = 0
_EMOD = 4 * _PSCALE    # embeddings parity subset: vec_id % _EMOD = 0/1
_HMOD = 1 * _PSCALE    # heavy-OUTPUT pairs (superlinear row counts):
                       # % 1 = 0 keeps every row at the default scale

_QHALF = f"(SELECT * FROM documents WHERE doc_id % {_DMOD} = 0)"
# Heavy-input/output pairs (full-corpus quadratic oracles or
# superlinear row counts): at the default scale these resolve to the
# bare tables, so the contract strings stay byte-identical; under a
# sweep scale they subset BOTH sides identically.
_HDOCS = (f"(SELECT * FROM documents WHERE doc_id % {_HMOD} = 0)"
          if _PSCALE > 1 else "documents")
_HEMBS = (f"(SELECT * FROM embeddings WHERE vec_id % {_HMOD} = 0)"
          if _PSCALE > 1 else "embeddings")
_HDOC_AND = f"doc_id % {_HMOD} = 0 AND " if _PSCALE > 1 else ""
# row-per-lineitem output pairs (zorder, expect_fk): 60M-row toPandas
# breaches spark.driver.maxResultSize at sf10 — the COMPARATOR's
# limit, not the operator's (both plans stream; only the driver-side
# value compare collects)
_HLINE = (f"(SELECT * FROM lineitem WHERE l_orderkey % {_HMOD} = 0)"
          if _PSCALE > 1 else "lineitem")
# per-user conv x touch JOIN oracles (attribution/asof/range/pit):
# the OPERATORS are as-of carries / bucketed joins (linear), but the
# DuckDB replays hash-join on user_id and filter time afterwards —
# quadratic in a zipf-hot user's event count (round-12 sf1-skew
# sweep: the four attribution oracles ground unbounded while every
# op side finished). Same heavy-pair trade as _HLINE.
_HEVENTS = (f"(SELECT * FROM events WHERE event_id % {_HMOD} = 0)"
            if _PSCALE > 1 else "events")


def _hmod_lineitem(spark, sf_dir):
    """Spark twin of _HLINE."""
    li = _t(spark, sf_dir, "lineitem")
    if _PSCALE == 1:
        return li
    li = op("expr", li, {"exprs": {"hm": f"l_orderkey % {_HMOD}"}})
    li = op("filter", li, {"field": "hm", "op": "eq", "value": 0})
    return li.drop("hm")


def _hmod_docs(spark, sf_dir):
    """Spark twin of _HDOCS."""
    d = _t(spark, sf_dir, "documents")
    if _PSCALE == 1:
        return d
    d = op("expr", d, {"exprs": {"hm": f"doc_id % {_HMOD}"}})
    d = op("filter", d, {"field": "hm", "op": "eq", "value": 0})
    return op("select", d, {"fields": ["doc_id", "text", "lang",
                                       "source", "n_chars"]})


def _hmod_embs(spark, sf_dir):
    """Spark twin of _HEMBS."""
    e = _t(spark, sf_dir, "embeddings")
    if _PSCALE == 1:
        return e
    e = op("expr", e, {"exprs": {"hm": f"vec_id % {_HMOD}"}})
    e = op("filter", e, {"field": "hm", "op": "eq", "value": 0})
    return op("select", e, {"fields": ["vec_id", "embedding", "label"]})


def _hmod_events(spark, sf_dir):
    """Spark twin of _HEVENTS."""
    e = _t(spark, sf_dir, "events")
    if _PSCALE == 1:
        return e
    e = op("expr", e, {"exprs": {"hm": f"event_id % {_HMOD}"}})
    e = op("filter", e, {"field": "hm", "op": "eq", "value": 0})
    return e.drop("hm")

SF001 = "/root/testdata/sf0.001"


_T_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # window()/date-part functions align to the session timezone; the
    # DuckDB oracle computes in UTC — pin it (runtime conf, idempotent)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Memoize per (session, path): repeated queries over the static
    # fixture tables re-list files and re-read footers otherwise —
    # pure per-query overhead (a metastore caches this on a real
    # cluster). DataFrames are immutable plans, so sharing is safe.
    key = (id(spark), sf_dir, name)
    cached = _T_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects
        # unless read as epoch-ns longs. Our session factory sets this
        # at build time; set it defensively here too (it is a runtime
        # SQL conf) so queries() also work on a caller-built session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from blackroad_data_pipeline_spark.sources.readers import nanos_to_timestamp

        df = nanos_to_timestamp(df, "ts")  # epoch-ns long -> timestamp
    _T_CACHE[key] = df
    return df


# --------------------------------------------------------------------------
# flagship: TPC-H Q1-shaped filter → groupBy → multi-agg → sort
# (reference pipeline "filter_agg": main.py:180-203 → 226-249 → 265-268)
# --------------------------------------------------------------------------


def q_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    df = op("filter", li, {"field": "l_quantity", "op": "gt", "value": 10})
    df = op(
        "aggregate",
        df,
        {
            "group_by": ["l_returnflag", "l_linestatus"],
            "aggregates": [
                # TPC-H money/quantity columns are fixed-point at
                # scale 2: sum_fixed's scaled-long path is exact and
                # order-independent like the decimal default, ~2x
                # faster (stays on the JVM long fast path)
                {"field": "l_extendedprice", "function": "sum_fixed",
                 "scale": 2, "alias": "sum_extprice"},
                {"field": "l_quantity", "function": "sum_fixed",
                 "scale": 2, "alias": "sum_qty"},
                {"field": "l_extendedprice", "function": "avg_fixed",
                 "scale": 2, "alias": "avg_extprice"},
                {"field": "l_extendedprice", "function": "min", "alias": "min_extprice"},
                {"field": "l_extendedprice", "function": "max", "alias": "max_extprice"},
                {"field": "l_extendedprice", "function": "count", "alias": "n_rows"},
            ],
        },
    )
    return op("sort", df, {"fields": ["l_returnflag", "l_linestatus"]})


_SQL_FILTER_AGG = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_extprice,
       SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(l_extendedprice) AS avg_extprice,
       MIN(l_extendedprice) AS min_extprice,
       MAX(l_extendedprice) AS max_extprice,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_quantity > 10
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# filter variants — reference main.py:180-203
# --------------------------------------------------------------------------


def q_filter_eq(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    df = op("filter", o, {"field": "o_orderstatus", "op": "eq", "value": "O"})
    return op("select", df, {"fields": ["o_orderkey", "o_custkey", "o_totalprice"]})


_SQL_FILTER_EQ = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
"""


def q_filter_contains(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    df = op("filter", p, {"field": "p_name", "op": "contains", "value": "red"})
    return op("select", df, {"fields": ["p_partkey", "p_name", "p_type"]})


_SQL_FILTER_CONTAINS = """
SELECT p_partkey, p_name, p_type FROM part WHERE CAST(p_name AS VARCHAR) LIKE '%red%'
"""


def q_filter_notnull(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    df = op("filter", c, {"field": "c_mktsegment", "op": "notnull"})
    df = op("filter", df, {"field": "c_acctbal", "op": "lt", "value": 0.0})
    return op("select", df, {"fields": ["c_custkey", "c_acctbal", "c_mktsegment"]})


_SQL_FILTER_NOTNULL = """
SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
WHERE c_mktsegment IS NOT NULL AND c_mktsegment <> '' AND c_acctbal < 0.0
"""


# --------------------------------------------------------------------------
# map — reference main.py:205-224
# --------------------------------------------------------------------------


def q_map(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    df = op("map", c, {"field": "c_mktsegment", "operation": "upper", "as": "seg_upper"})
    df = op("map", df, {"field": "c_name", "operation": "lower", "as": "name_lower"})
    df = op("map", df, {"field": "c_acctbal", "operation": "int", "as": "bal_int"})
    return op("select", df, {"fields": ["c_custkey", "seg_upper", "name_lower", "bal_int"]})


_SQL_MAP = """
SELECT c_custkey,
       UPPER(c_mktsegment) AS seg_upper,
       LOWER(c_name) AS name_lower,
       CAST(TRUNC(TRY_CAST(c_acctbal AS DOUBLE)) AS BIGINT) AS bal_int
FROM customer
"""


# --------------------------------------------------------------------------
# aggregate single-fn parity — reference main.py:226-249 (output name {field}_{fn})
# --------------------------------------------------------------------------


def q_aggregate_count(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return op("aggregate", li, {"group_by": ["l_returnflag"], "field": "l_quantity",
                                "function": "count"})


_SQL_AGGREGATE_COUNT = """
SELECT l_returnflag, COUNT(*) AS l_quantity_count FROM lineitem GROUP BY l_returnflag
"""


def q_aggregate_global(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return op(
        "aggregate",
        li,
        {"group_by": [], "aggregates": [
            {"field": "l_extendedprice", "function": "sum", "alias": "total_extprice"},
            {"field": "l_orderkey", "function": "count_distinct", "alias": "n_orders"},
            {"field": "l_quantity", "function": "avg", "alias": "avg_qty"},
        ]},
    )


_SQL_AGGREGATE_GLOBAL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_extprice,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
FROM lineitem
"""


# --------------------------------------------------------------------------
# join — reference main.py:251-263 (r_-prefixed right columns)
# --------------------------------------------------------------------------


def q_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    df = op("filter", o, {"field": "o_orderstatus", "op": "eq", "value": "O"})
    df = op("join", df, {"right": c, "left_key": "o_custkey", "right_key": "c_custkey",
                         "broadcast": True}, views={})
    return op("select", df, {"fields": ["o_orderkey", "o_totalprice", "r_c_name",
                                        "r_c_mktsegment"]})


_SQL_JOIN = """
SELECT o_orderkey, o_totalprice, c_name AS r_c_name, c_mktsegment AS r_c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
"""


def q_join_multi(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    df = op("join", li, {"right": o, "left_key": "l_orderkey", "right_key": "o_orderkey",
                         "prefix": ""}, views={})
    df = op("join", df, {"right": c, "left_key": "o_custkey", "right_key": "c_custkey",
                         "prefix": "", "broadcast": True}, views={})
    df = op("aggregate", df, {"group_by": ["c_mktsegment"], "aggregates": [
        {"field": "l_extendedprice", "function": "sum", "alias": "revenue"},
        {"field": "l_orderkey", "function": "count", "alias": "n_items"},
    ]})
    return op("sort", df, {"fields": ["c_mktsegment"]})


_SQL_JOIN_MULTI = """
SELECT c_mktsegment,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# sort + limit (top-k) — reference main.py:265-268 (sort only; limit absent)
# --------------------------------------------------------------------------


def q_sort_limit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    df = op("sort", o, {"fields": ["o_totalprice", "o_orderkey"], "descending": True})
    df = op("limit", df, {"n": 100})
    return op("select", df, {"fields": ["o_orderkey", "o_totalprice"]})


_SQL_SORT_LIMIT = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 100
"""


# --------------------------------------------------------------------------
# deduplicate — reference main.py:270-279 (keep-first, made deterministic)
# --------------------------------------------------------------------------


def q_dedup(spark, sf_dir):
    """keep-first dedup. The pinned tiebreak must make the OUTPUT
    deterministic: (l_linenumber, l_partkey, l_suppkey) is a total
    order on the driver fixtures, but the round-12 zipf-skew clone
    concentrates 38% of lineitem in one hot order with zipf FKs, so
    rows collide on the whole triple and keep-first becomes
    data-order-dependent — l_quantity joins the tiebreak so every
    compared column is ordered (residual full-tie rows then agree on
    all output values by construction)."""
    li = _t(spark, sf_dir, "lineitem")
    df = op("deduplicate", li, {"keys": ["l_orderkey"], "keep": "first",
                                "order_by": ["l_linenumber", "l_partkey",
                                             "l_suppkey", "l_quantity"]})
    return op("select", df, {"fields": ["l_orderkey", "l_linenumber", "l_partkey",
                                        "l_quantity"]})


_SQL_DEDUP = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey
  ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) = 1
"""


# --------------------------------------------------------------------------
# rename / union — reference main.py:285-291, main.py:437-442
# --------------------------------------------------------------------------


def q_rename_union(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    n2 = op("rename", n, {"mapping": {"n_nationkey": "key", "n_name": "name"}})
    n2 = op("select", n2, {"fields": ["key", "name"]})
    r2 = op("rename", r, {"mapping": {"r_regionkey": "key", "r_name": "name"}})
    r2 = op("select", r2, {"fields": ["key", "name"]})
    return op("union", n2, {"others": [r2]}, views={})


_SQL_RENAME_UNION = """
SELECT n_nationkey AS key, n_name AS name FROM nation
UNION ALL
SELECT r_regionkey AS key, r_name AS name FROM region
"""


# --------------------------------------------------------------------------
# window / top-k per group — absent from reference (SURVEY.md §2.5)
# --------------------------------------------------------------------------


def q_topk_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    df = op("topk_per_group", o, {"partition_by": ["o_orderpriority"],
                                  "order_by": ["o_totalprice", "o_orderkey"],
                                  "descending": True, "k": 5})
    return op("select", df, {"fields": ["o_orderpriority", "o_orderkey", "o_totalprice"]})


_SQL_TOPK_PER_GROUP = """
SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey DESC) <= 5
"""


def q_window_rank(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    df = op("window", c, {"function": "rank", "partition_by": ["c_nationkey"],
                          "order_by": ["c_acctbal", "c_custkey"], "descending": True,
                          "alias": "bal_rank"})
    df = op("filter", df, {"field": "bal_rank", "op": "le", "value": 3})
    return op("select", df, {"fields": ["c_nationkey", "c_custkey", "c_acctbal",
                                        "bal_rank"]})


_SQL_WINDOW_RANK = """
SELECT c_nationkey, c_custkey, c_acctbal,
       RANK() OVER (PARTITION BY c_nationkey
                    ORDER BY c_acctbal DESC, c_custkey DESC) AS bal_rank
FROM customer
QUALIFY bal_rank <= 3
"""


# --------------------------------------------------------------------------
# LLM-pipeline extensions (SURVEY.md §2.6) — documents / embeddings tables
# --------------------------------------------------------------------------

# shared SQL fragments for the DuckDB oracle (token/shingle definitions
# matching blackroad_data_pipeline_spark.llmops.text exactly)
_D_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_D_TOKS_LOWER = f"list_transform({_D_TOKS}, x -> lower(x))"
_EN = "['the','and','of','to','in','is','that','it','for','with']"
_ES = "['el','la','de','que','los','las','una','por','con','para']"
_FR = "['le','la','les','des','est','une','dans','pour','que','sur']"
_DE = "['der','die','das','und','ist','ein','eine','mit','von','auf']"


def q_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    df = op("text_stats", d, {"field": "text"})
    return op("select", df, {"fields": ["doc_id", "n_chars_calc", "n_tokens",
                                        "avg_token_len", "punct_ratio", "upper_ratio"]})


_SQL_TEXT_STATS = f"""
SELECT doc_id,
       LENGTH(text) AS n_chars_calc,
       len({_D_TOKS}) AS n_tokens,
       CASE WHEN len({_D_TOKS}) > 0 THEN
         CAST(list_sum(list_transform({_D_TOKS}, x -> length(x))) AS DOUBLE) / len({_D_TOKS})
       END AS avg_token_len,
       CASE WHEN LENGTH(text) > 0 THEN
         CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
           / LENGTH(text)
       END AS punct_ratio,
       CASE WHEN LENGTH(text) > 0 THEN
         CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
           / LENGTH(text)
       END AS upper_ratio
FROM documents
"""


def q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    df = op("token_count", d, {"field": "text"})
    return op("select", df, {"fields": ["doc_id", "ws_tokens", "bpeish_tokens"]})


_SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len({_D_TOKS}) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpeish_tokens
FROM documents
"""


def q_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    df = op("quality_score", d, {"field": "text"})
    return op("select", df, {"fields": ["doc_id", "quality_score"]})


_SQL_QUALITY_SCORE = f"""
SELECT doc_id,
       (CASE WHEN len({_D_TOKS}) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
        + CASE WHEN LENGTH(text) = 0 THEN 0.0
               WHEN CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                    AS DOUBLE) / LENGTH(text) < 0.2 THEN 1.0 ELSE 0.0 END
        + CASE WHEN len(list_intersect({_D_TOKS_LOWER}, {_EN})) >= 1 THEN 1.0 ELSE 0.0 END
       ) / 3.0 AS quality_score
FROM documents
"""


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    df = op("lang_id", d, {"field": "text"})
    return op("select", df, {"fields": ["doc_id", "lang", "lang_pred"]})


_SQL_LANG_ID = f"""
WITH scored AS (
  -- COALESCE: NULL text must score 0 -> 'und' like empty text, not
  -- fall through NULL comparisons to 'de' (round-11 NULL-text sweep)
  SELECT doc_id, lang,
         COALESCE(len(list_intersect({_D_TOKS_LOWER}, {_EN})), 0) AS s_en,
         COALESCE(len(list_intersect({_D_TOKS_LOWER}, {_ES})), 0) AS s_es,
         COALESCE(len(list_intersect({_D_TOKS_LOWER}, {_FR})), 0) AS s_fr,
         COALESCE(len(list_intersect({_D_TOKS_LOWER}, {_DE})), 0) AS s_de
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
            WHEN s_en = GREATEST(s_en, s_es, s_fr, s_de) THEN 'en'
            WHEN s_es = GREATEST(s_en, s_es, s_fr, s_de) THEN 'es'
            WHEN s_fr = GREATEST(s_en, s_es, s_fr, s_de) THEN 'fr'
            ELSE 'de' END AS lang_pred
FROM scored
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    df = op("fingerprint", d, {"field": "text"})
    return op("select", df, {"fields": ["doc_id", "fingerprint"]})


_SQL_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


def q_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS, Schleimer et al. SIGMOD'03):
    rightmost-min of every 4-window of char-5-gram md5 hashes, per
    document — the position-robust partial-overlap detector
    (llmops/text.py op_winnow; one doc-local Arrow kernel, no
    shuffle). DuckDB replays selection with an explicit
    rightmost-min join, so the entire fingerprint SET is
    value-checked."""
    d = _hmod_docs(spark, sf_dir)
    df = op("winnow", d, {"field": "text", "id_field": "doc_id",
                          "k": 5, "window": 4})
    return op("sort", df, {"fields": ["doc_id", "pos"]})


_SQL_WINNOW = rf"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM {_HDOCS}),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         CAST(concat('0x', substring(md5(substring(norm,
              CAST(i + 1 AS INT), 5)), 1, 15)) AS BIGINT) AS h
  FROM d, UNNEST(range(0, greatest(length(norm) - 4, 0))) AS t(i)),
w AS (
  SELECT doc_id, pos AS e,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mn,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM g),
v AS (SELECT * FROM w WHERE e >= 3 OR (n < 4 AND e = n - 1)),
sel AS (
  SELECT v.doc_id, MAX(g.pos) AS pos, v.mn AS fp
  FROM v JOIN g ON g.doc_id = v.doc_id AND g.pos BETWEEN v.e - 3 AND v.e
              AND g.h = v.mn
  GROUP BY v.doc_id, v.e, v.mn)
SELECT DISTINCT doc_id, pos, fp FROM sel ORDER BY doc_id, pos
"""


def q_winnow_overlap(spark, sf_dir):
    """MOSS pairing step (llmops/text.py op_winnow_overlap): document
    pairs sharing >= 2 winnow fingerprints at the discriminative
    char-20-gram / 8-window geometry. Work is per-fingerprint
    postings², never corpus all-pairs; max_postings is set past the
    corpus size here so DuckDB's full inverted-index replay
    value-checks every pair."""
    d = _hmod_docs(spark, sf_dir)
    df = op("winnow_overlap", d, {
        "field": "text", "id_field": "doc_id", "k": 20, "window": 8,
        "min_shared": 2, "max_postings": 10_000_000})
    return op("sort", df, {"fields": ["id_a", "id_b"]})


_SQL_WINNOW_OVERLAP = rf"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM {_HDOCS}),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         CAST(concat('0x', substring(md5(substring(norm,
              CAST(i + 1 AS INT), 20)), 1, 15)) AS BIGINT) AS h
  FROM d, UNNEST(range(0, greatest(length(norm) - 19, 0))) AS t(i)),
w AS (
  SELECT doc_id, pos AS e,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS mn,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM g),
v AS (SELECT * FROM w WHERE e >= 7 OR (n < 8 AND e = n - 1)),
sel AS (
  SELECT v.doc_id, MAX(g.pos) AS pos, v.mn AS fp
  FROM v JOIN g ON g.doc_id = v.doc_id AND g.pos BETWEEN v.e - 7 AND v.e
              AND g.h = v.mn
  GROUP BY v.doc_id, v.e, v.mn),
fps AS (SELECT DISTINCT doc_id, fp FROM sel),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 2
ORDER BY id_a, id_b
"""


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    df = op("dedup_exact", d, {"field": "text", "id_field": "doc_id"})
    return op("select", df, {"fields": ["doc_id", "lang", "source", "n_chars"]})


_SQL_DEDUP_EXACT = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id IN (
  SELECT min(doc_id) FROM documents
  GROUP BY md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')))
"""


def q_ngram_jaccard(spark, sf_dir):
    d = _hmod_docs(spark, sf_dir)
    return op("ngram_jaccard_join", d,
              {"field": "text", "id_field": "doc_id",
               "shingle_size": 5, "threshold": 0.8})


def _ngram_jaccard_sql(src: str = "documents") -> str:
    """Exact 5-gram jaccard pair SQL over ``src`` (a table name or
    parenthesized subquery) — shared by ngram_jaccard and the minhash
    parity gates (which run it over a deterministic corpus half).
    The template carries an explicit {SRC} placeholder (round-3
    ADVICE fix: the old substring-replace of live SQL text would
    silently patch the wrong relation if the template ever gained a
    second 'FROM documents)' occurrence)."""
    return _SQL_NGRAM_JACCARD_TEMPLATE.replace("{SRC}", src)


_SQL_NGRAM_JACCARD_TEMPLATE = f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN len({_D_TOKS}) >= 5 THEN
           list_distinct(list_transform(
             range(1, len({_D_TOKS}) - 3),
             i -> array_to_string(({_D_TOKS})[i:i+4], ' ')))
         -- one-empty-shingle branch: DuckDB array_to_string([]) is
         -- NULL where Spark array_join([]) is '' — COALESCE so
         -- empty/whitespace-only docs keep their '' shingle and pair
         -- like the op does (round-12 text-garble lever); NULL text
         -- stays NULL (no shingles, never a candidate — r11 contract)
         ELSE [CASE WHEN text IS NOT NULL THEN
                 COALESCE(array_to_string({_D_TOKS}, ' '), '') END]
         END AS sh
  FROM {{SRC}}),
sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
inverted AS (SELECT doc_id, unnest(sh) AS s FROM docs),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM inverted a JOIN inverted b USING (s)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
"""

_SQL_NGRAM_JACCARD = _ngram_jaccard_sql(_HDOCS)


def _valid_emb(col: str = "embedding") -> str:
    """DuckDB replay of similarity.valid_vec — the round-10 vector
    validity contract: non-NULL, non-empty, every component finite
    and non-NULL. Both engines' lambda-filters keep only elements
    whose predicate is TRUE, so a NULL component (NULL predicate)
    shortens the filtered list on both sides identically; isfinite()
    is DuckDB's twin of Spark's ~isnan(x) & abs(x) != inf."""
    return (f"({col} IS NOT NULL AND len({col}) > 0 AND "
            f"len(list_filter({col}, x -> isfinite(x))) = len({col}))")


_VALID_EMB = _valid_emb()


def q_ann_bruteforce(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return op("ann_bruteforce", e, {"probe_id": 0, "k": 10})


_SQL_ANN_BRUTEFORCE = f"""
WITH p AS (SELECT embedding AS pe FROM embeddings
           WHERE vec_id = 0 AND {_VALID_EMB})
SELECT vec_id,
  list_sum(list_transform(list_zip(embedding, pe),
                          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
  AS cos_sim
FROM embeddings, p
WHERE {_VALID_EMB}
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


def q_vector_health(spark, sf_dir):
    """Corpus vector-validity audit (round 10, llmops/similarity.py
    op_vector_health): per-label counts of NULL / empty / non-finite
    / valid embeddings — the ingest-time companion of the valid_vec
    contract (every vector op silently excludes invalid vectors; this
    is the one scan that says how many). All columns are exact
    BIGINTs, valid_pct a permyriad via integral div."""
    e = _t(spark, sf_dir, "embeddings")
    df = op("vector_health", e, {"by": "label"})
    return op("sort", df, {"fields": ["label"]})


_SQL_VECTOR_HEALTH = f"""
WITH h AS (
  SELECT label,
    COUNT(*) AS n_rows,
    CAST(COALESCE(SUM(CASE WHEN embedding IS NULL
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
    CAST(COALESCE(SUM(CASE WHEN embedding IS NOT NULL
                            AND len(embedding) = 0
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_empty,
    CAST(COALESCE(SUM(CASE WHEN embedding IS NOT NULL
                            AND len(embedding) > 0
                            AND len(list_filter(embedding,
                                                x -> isfinite(x)))
                                <> len(embedding)
                           THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS n_nonfinite,
    CAST(COALESCE(SUM(CASE WHEN {_VALID_EMB}
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_valid
  FROM embeddings GROUP BY label)
SELECT label, n_rows, n_null, n_empty, n_nonfinite, n_valid,
       CAST((10000 * n_valid) // n_rows AS BIGINT) AS valid_pct
FROM h ORDER BY label NULLS FIRST
"""


def q_multimodal_meta(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    df = op("attach_binary", d, {"field": "text", "media_type": "text/plain"})
    df = df.select("doc_id",
                   F.col("media_meta.n_bytes").alias("n_bytes"),
                   F.col("media_meta.sha256").alias("sha256"))
    return df


_SQL_MULTIMODAL_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


# --------------------------------------------------------------------------
# event-time operators (streaming-capable; batch-checked here) — events table
# --------------------------------------------------------------------------


def q_events_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    df = op("windowed_agg", e, {
        "ts_field": "ts", "window": "1 hour", "group_by": ["event_type"],
        "aggregates": [
            {"field": "event_id", "function": "count", "alias": "n_events"},
            {"field": "value", "function": "sum", "alias": "sum_value"},
        ]})
    return op("sort", df, {"fields": ["window_start", "event_type"]})


_SQL_EVENTS_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events
WHERE ts IS NOT NULL  -- NULL event-time: excluded (temporal contract)
GROUP BY 1, 2, 3
ORDER BY 1, 3
"""


def q_events_sliding_window(spark, sf_dir):
    """Sliding event-time windows (1 hour every 30 minutes): each event
    lands in exactly two overlapping windows. The oracle reconstructs
    the window set from a 30-minute time_bucket grid (both engines
    align sub-hour grids to midnight)."""
    e = _t(spark, sf_dir, "events")
    df = op("windowed_agg", e, {
        "ts_field": "ts", "window": "1 hour", "slide": "30 minutes",
        "group_by": ["event_type"],
        "aggregates": [
            {"field": "event_id", "function": "count", "alias": "n_events"},
            {"field": "value", "function": "sum", "alias": "sum_value"},
        ]})
    return op("sort", df, {"fields": ["window_start", "event_type"]})


_SQL_EVENTS_SLIDING_WINDOW = """
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts_us, event_type, value FROM events),
w AS (
  SELECT ts_us, event_type, value,
         time_bucket(INTERVAL '30 minutes', ts_us)
           - k.k * INTERVAL '30 minutes' AS window_start
  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) k)
SELECT window_start,
       window_start + INTERVAL '60 minutes' AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM w
WHERE ts_us >= window_start AND ts_us < window_start + INTERVAL '60 minutes'
GROUP BY 1, 2, 3
ORDER BY 1, 3
"""


def q_events_session_window(spark, sf_dir):
    """Gap-based session windows (F.session_window, 10-minute gap) per
    user: one row per (user, session) with count + decimal-deterministic
    value sum. Window end = last event + gap (Spark session semantics);
    the oracle rebuilds sessions with a lag/cumsum at microsecond
    precision and a >= gap boundary (the window is end-exclusive)."""
    e = _t(spark, sf_dir, "events")
    df = op("session_windowed_agg", e, {
        "ts_field": "ts", "gap": "10 minutes", "group_by": ["user_id"],
        "aggregates": [
            {"field": "event_id", "function": "count", "alias": "n_events"},
            {"field": "value", "function": "sum", "alias": "sum_value"},
        ]})
    return op("sort", df, {"fields": ["user_id", "window_start"]})


_SQL_EVENTS_SESSION_WINDOW = """
WITH e AS (
  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts_us
  -- NULL event-time: excluded (temporal contract)
  FROM events WHERE ts IS NOT NULL),
gaps AS (
  SELECT user_id, event_id, value, ts_us,
         epoch_us(ts_us) - LAG(epoch_us(ts_us))
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
  FROM e),
seqs AS (
  SELECT user_id, value, ts_us,
         SUM(CASE WHEN gap_us IS NULL OR gap_us >= 600000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps)
SELECT MIN(ts_us) AS window_start,
       MAX(ts_us) + INTERVAL 10 MINUTE AS window_end,
       user_id,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM seqs
GROUP BY user_id, session_seq
ORDER BY user_id, window_start
"""


def q_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    df = op("sessionize", e, {"ts_field": "ts", "key": "user_id",
                              "gap_seconds": 600, "tiebreak": ["event_id"]})
    return op("select", df, {"fields": ["event_id", "user_id", "session_id"]})


_SQL_SESSIONIZE = """
WITH gaps AS (
  SELECT event_id, user_id, ts,
         epoch_ns(ts) // 1000000000
           - LAG(epoch_ns(ts) // 1000000000)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  -- NULL event-time: excluded (temporal contract)
  FROM events WHERE ts IS NOT NULL),
seqs AS (
  SELECT event_id, user_id,
         SUM(CASE WHEN gap IS NULL OR gap > 600 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps)
SELECT event_id, user_id,
       CAST(user_id AS VARCHAR) || '#' || CAST(session_seq AS VARCHAR) AS session_id
FROM seqs
"""


# Hash-based operators: every CONTRACT entry below is oracle-anchored
# (recall~1 parity configs whose output must equal the exact SQL
# result, or containment/recall gates whose pass criteria DuckDB
# states). The corpus-scale bucket-geometry configs (bands=8 x rows=4,
# n_planes=12, ...) are NON-CONTRACT probes: bench.py times them every
# round (BENCH_DETAIL.json *_scale entries) and tests/test_llmops.py +
# test_plans.py exercise their code paths and plan shapes.


def q_unpivot(spark, sf_dir):
    """Wide->long melt of the lineitem metric columns (inverse of
    pivot; projection + generate, no shuffle). Rides the heavy-pair
    knob (round 11): the melt OUTPUT is 3x lineitem, and at sf10 the
    180M-row pandas value-compare is what breaks, not the operator —
    the r10 campaign's compare-path class."""
    li = _hmod_lineitem(spark, sf_dir)
    df = op("select", li, {"fields": ["l_orderkey", "l_linenumber",
                                      "l_quantity", "l_discount", "l_tax"]})
    return op("unpivot", df, {
        "ids": ["l_orderkey", "l_linenumber"],
        "values": ["l_quantity", "l_discount", "l_tax"],
        "variable_name": "metric", "value_name": "val"})


_SQL_UNPIVOT = f"""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM {_HLINE}
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM {_HLINE}
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM {_HLINE}
"""


def q_quantiles(spark, sf_dir):
    """Per-group percentiles (p50/p95) of order totals — the skew/
    distribution primitive for data profiling. PINNED discrete rank:
    value at row_number rank max(ceil(q*n), 1), integer arithmetic on
    both sides (the _pinned_rank_value / quantile_estimate rule) —
    engine-native quantiles are banned from oracle pairs because
    approx_percentile, ANSI percentile_disc, and DuckDB quantile_disc
    all disagree at boundary ranks (this exact query mismatched at
    sf0.1 under approx_percentile before round 7 pinned it).

    Scale note: a rank window over 3 status groups is the EXACTNESS
    contract shape, not the 100 TB shape — at corpus scale the same
    question runs through quantile_sketch -> quantile_estimate
    (mergeable bottom-k, see quantile_sketch_gate) or
    approx_percentile where a bounded-error sketch is acceptable."""
    o = _t(spark, sf_dir, "orders")
    df = op("sql", o, {"query": """
        WITH r AS (
          SELECT o_orderstatus, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_totalprice) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
          FROM self)
        SELECT o_orderstatus,
               MAX(n) AS n_orders,
               MIN(CASE WHEN rn = GREATEST(
                   (500000000 * n + 999999999) div 1000000000, 1)
                   THEN o_totalprice END) AS p50_total,
               MIN(CASE WHEN rn = GREATEST(
                   (950000000 * n + 999999999) div 1000000000, 1)
                   THEN o_totalprice END) AS p95_total
        FROM r GROUP BY o_orderstatus"""}, views={})
    return op("sort", df, {"fields": ["o_orderstatus"]})


_SQL_QUANTILES = """
WITH r AS (
  SELECT o_orderstatus, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders)
SELECT o_orderstatus,
       MAX(n) AS n_orders,
       MIN(CASE WHEN rn = GREATEST(
           (500000000 * n + 999999999) // 1000000000, 1)
           THEN o_totalprice END) AS p50_total,
       MIN(CASE WHEN rn = GREATEST(
           (950000000 * n + 999999999) // 1000000000, 1)
           THEN o_totalprice END) AS p95_total
FROM r GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_quantiles_cont(spark, sf_dir):
    """Per-status CONTINUOUS (interpolated) percentiles of order
    totals (llmops/sketch.py op_quantile_estimate mode='cont', round
    8): the ANSI percentile_cont semantics with the rank arithmetic
    PINNED — h = (n−1)·q in exact ppb integers, result =
    v[lo+1] + (v[lo+2] − v[lo+1])·frac, frac = (h mod ppb)/1e9 —
    because engine-native percentile_cont is banned from oracle pairs
    like every native quantile (CLAUDE.md). DuckDB replays the
    identical integer ranks and IEEE interpolation."""
    o = _t(spark, sf_dir, "orders")
    df = op("quantile_estimate", o, {
        "field": "o_totalprice", "group_by": ["o_orderstatus"],
        "quantiles": [0.5, 0.95], "aliases": ["p50c", "p95c"],
        "mode": "cont"}, views={})
    return op("sort", df, {"fields": ["o_orderstatus"]})


_SQL_QUANTILES_CONT = """
WITH r AS (
  SELECT o_orderstatus, o_totalprice AS v,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders),
a AS (
  SELECT o_orderstatus,
    MIN(CASE WHEN rn = ((500000000 * (n-1)) // 1000000000) + 1
        THEN v END) AS lo50,
    MIN(CASE WHEN rn = ((500000000 * (n-1)) // 1000000000) + 2
        THEN v END) AS hi50,
    MIN(CAST((500000000 * (n-1)) % 1000000000 AS DOUBLE) / 1e9) AS f50,
    MIN(CASE WHEN rn = ((950000000 * (n-1)) // 1000000000) + 1
        THEN v END) AS lo95,
    MIN(CASE WHEN rn = ((950000000 * (n-1)) // 1000000000) + 2
        THEN v END) AS hi95,
    MIN(CAST((950000000 * (n-1)) % 1000000000 AS DOUBLE) / 1e9) AS f95
  FROM r GROUP BY o_orderstatus)
SELECT o_orderstatus,
       CASE WHEN f50 = 0 THEN lo50
            ELSE lo50 + (hi50 - lo50) * f50 END AS p50c,
       CASE WHEN f95 = 0 THEN lo95
            ELSE lo95 + (hi95 - lo95) * f95 END AS p95c
FROM a ORDER BY o_orderstatus
"""


def q_parse_props(spark, sf_dir):
    """Typed JSON parsing (from_json with a declared schema, flattened)
    — the schema-first alternative to per-path get_json_object."""
    e = _t(spark, sf_dir, "events")
    df = op("parse_json", e, {"field": "props", "schema": "k int",
                              "flatten": True})
    df = op("select", df, {"fields": ["event_id", "k"]})
    return op("sort", df, {"fields": ["event_id"]})


_SQL_PARSE_PROPS = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events
ORDER BY event_id
"""


def q_profile(spark, sf_dir):
    """Single-pass per-column profile of orders (rows/nulls/distinct/
    min/max) — the data-quality primitive."""
    o = _t(spark, sf_dir, "orders")
    df = op("profile", o, {"columns": ["o_orderkey", "o_custkey",
                                       "o_orderstatus", "o_totalprice"]})
    return op("sort", df, {"fields": ["col_name"]})


_SQL_PROFILE = """
SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
       COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       MIN(CAST(o_orderkey AS DOUBLE)) AS min_val,
       MAX(CAST(o_orderkey AS DOUBLE)) AS max_val
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       COUNT(CASE WHEN o_custkey IS NULL THEN 1 END),
       COUNT(DISTINCT o_custkey),
       MIN(CAST(o_custkey AS DOUBLE)), MAX(CAST(o_custkey AS DOUBLE))
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END),
       COUNT(DISTINCT o_orderstatus), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*),
       COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END),
       COUNT(DISTINCT o_totalprice),
       MIN(CAST(o_totalprice AS DOUBLE)), MAX(CAST(o_totalprice AS DOUBLE))
FROM orders
ORDER BY col_name
"""


def q_corpus_prep(spark, sf_dir):
    """The end-to-end training-corpus prep pipeline: exact dedup →
    quality scoring → threshold filter — every stage a registry
    operator, the whole chain one Catalyst plan, value-checked against
    the composed DuckDB oracle."""
    d = _t(spark, sf_dir, "documents")
    df = op("dedup_exact", d, {"field": "text", "id_field": "doc_id"})
    df = op("quality_score", df, {"field": "text"})
    df = op("filter", df, {"field": "quality_score", "op": "ge", "value": 0.66})
    return op("select", df, {"fields": ["doc_id", "quality_score"]})


_SQL_CORPUS_PREP = f"""
WITH kept AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g'))),
scored AS ({_SQL_QUALITY_SCORE})
SELECT scored.doc_id, scored.quality_score
FROM scored JOIN kept USING (doc_id)
WHERE scored.quality_score >= 0.66
"""


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment over documents (content
    hash — stable across reruns/repartitioning, unlike randomSplit).
    md5-bucketed, so the full assignment is value-checked against
    DuckDB recomputing it in plain SQL (round 3 — was xxhash64 and
    rows-only)."""
    d = _t(spark, sf_dir, "documents")
    df = op("split_assign", d, {"on": ["doc_id"],
                                "splits": {"train": 0.9, "val": 0.05, "test": 0.05}})
    return op("select", df, {"fields": ["doc_id", "split"]})


_SQL_SPLIT_ASSIGN = """
WITH b AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(concat_ws(chr(31), 'split',
              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS bucket
  FROM documents)
SELECT doc_id,
       CASE WHEN bucket < 900000 THEN 'train'
            WHEN bucket < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM b
ORDER BY doc_id
"""


def q_frame_sample(spark, sf_dir):
    """Frame sampling over binary payloads — fully oracle-checked: the
    stub's offsets are deterministic byte arithmetic over the UTF-8
    payload, so DuckDB can mirror them exactly. Payload bytes compare
    as hex strings (binary wire types differ between engines)."""
    d = _t(spark, sf_dir, "documents")
    df = op("attach_binary", d, {"field": "text"})
    df = op("frame_sample", df, {"n_frames": 4, "id_field": "doc_id"})
    return op("sql", df, {"query": """
        SELECT doc_id, frame_idx, frame_offset_bytes,
               hex(frame_payload) AS frame_hex
        FROM self ORDER BY doc_id, frame_idx"""}, views={})


_SQL_FRAME_SAMPLE = """
WITH p AS (
  -- NULL payload -> zero frames (round-11 media NULL contract)
  SELECT doc_id, hex(encode(text)) AS payload_hex,
         octet_length(encode(text)) AS len
  FROM documents WHERE text IS NOT NULL),
f AS (SELECT unnest(range(4)) AS i)
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       least(i * greatest(len // 4, 1), greatest(len - 1, 0)) AS frame_offset_bytes,
       substring(payload_hex,
                 CAST(least(i * greatest(len // 4, 1), greatest(len - 1, 0)) AS BIGINT) * 2 + 1,
                 32) AS frame_hex
FROM p CROSS JOIN f
ORDER BY doc_id, frame_idx
"""


# --------------------------------------------------------------------------
# hash-based operators, oracle-anchored (round 3: these ARE the
# contract entries — the scale-geometry configs moved to bench.py
# probes so every driver-sampled query has an oracle).
#
# Outputs at corpus-scale bucket geometry depend on the hash family
# and have no SQL twin, so each contract query pins the machinery to
# a driver-visible pass criterion instead:
#   * parity queries run the operator at a recall~1 configuration
#     where LSH theory says the output must EQUAL the exact result,
#     and oracle-check the full row set against DuckDB;
#   * recall gates compute containment/recall against the exact
#     operator (itself oracle-checked) inside Spark and emit scale-
#     independent booleans/zeros the oracle states as constants.
# --------------------------------------------------------------------------



def _half_docs(spark, sf_dir):
    """Deterministic half of the documents corpus for the recall~1
    parity gates: their candidate count approaches all-pairs BY DESIGN
    (that is what makes them exact-equality gates), so the subset
    bounds the O(n^2) cost while exercising the identical code path
    and keeping a meaningful pair population at sf0.01. The
    scale-config runs (near_dup_minhash etc.) still cover the full
    corpus."""
    d = _t(spark, sf_dir, "documents")
    d = op("expr", d, {"exprs": {"m4": f"doc_id % {_DMOD}"}})
    d = op("filter", d, {"field": "m4", "op": "eq", "value": 0})
    return op("select", d, {"fields": ["doc_id", "text", "lang", "source",
                                      "n_chars"]})


def q_near_dup_minhash(spark, sf_dir):
    """near_dup_minhash at rows_per_band=1, bands=16: a true pair at
    jaccard >= 0.8 is missed with probability (1-j)^16 <= 6.6e-12, and
    exact-jaccard verification removes every false positive — so the
    output must equal the brute-force exact pair set, value-for-value
    (this gate caught a real bug: a two-arg transform lambda silently
    binding the minhash seed to the array index)."""
    d = _half_docs(spark, sf_dir)
    df = op("near_dup_minhash", d,
            {"field": "text", "id_field": "doc_id", "shingle_size": 5,
             "bands": 16, "rows_per_band": 1, "threshold": 0.8})
    return op("sort", df, {"fields": ["id_a", "id_b"]})


def q_dedup_near_minhash(spark, sf_dir):
    """Greedy near-dup dedup at the recall~1 banding == SQL survivors
    (docs with no >=0.8-jaccard partner of smaller id)."""
    d = _half_docs(spark, sf_dir)
    df = op("dedup_near_minhash", d,
            {"field": "text", "id_field": "doc_id", "shingle_size": 5,
             "bands": 16, "rows_per_band": 1, "threshold": 0.8})
    df = op("select", df, {"fields": ["doc_id", "lang"]})
    return op("sort", df, {"fields": ["doc_id"]})


def q_dedup_near_groups(spark, sf_dir):
    """Transitive (connected-components) dedup at the recall~1 banding
    == SQL survivors from a recursive-CTE transitive closure."""
    d = _half_docs(spark, sf_dir)
    df = op("dedup_near_groups", d,
            {"field": "text", "id_field": "doc_id", "shingle_size": 5,
             "bands": 16, "rows_per_band": 1, "threshold": 0.8})
    df = op("select", df, {"fields": ["doc_id", "lang"]})
    return op("sort", df, {"fields": ["doc_id"]})


def q_dedup_near_best(spark, sf_dir):
    """dedup_near_groups keep='best' at the recall~1 banding: within
    each transitive near-dup cluster the LONGEST copy survives
    (keep_by n_chars, ties to the smaller id) instead of the smallest
    id — the canonical-selection policy production dedup wants. The
    oracle replays it as a row_number over the recursive-CTE
    components ordered by n_chars DESC, id ASC."""
    d = _half_docs(spark, sf_dir)
    df = op("dedup_near_groups", d,
            {"field": "text", "id_field": "doc_id", "shingle_size": 5,
             "bands": 16, "rows_per_band": 1, "threshold": 0.8,
             "keep": "best", "keep_by": "n_chars"})
    df = op("select", df, {"fields": ["doc_id", "lang"]})
    return op("sort", df, {"fields": ["doc_id"]})


def q_similarity_join(spark, sf_dir):
    """similarity_join with multi-table amplification tuned for
    recall~1 at this threshold (L=30 tables of b=2 planes: a pair at
    cos 0.3 is missed with prob (1-0.597^2)^30 ~ 2e-6): the candidate
    union must recover the full brute-force pair set, and exact cosine
    verification removes every false positive. Ids only — the cosine
    doubles agree between engines only to 1 ulp."""
    e = _t(spark, sf_dir, "embeddings")
    # deterministic quarter of the corpus: a recall~1 config does
    # near-all-pairs work BY DESIGN (that is what makes it a gate), so
    # the subset bounds the gate's O(n^2) cost while exercising the
    # identical code path; the scale-config run (similarity_join)
    # still covers the full corpus
    e = op("filter", op("expr", e, {"exprs": {"m4": f"vec_id % {_EMOD}"}}),
           {"field": "m4", "op": "eq", "value": 0})
    df = op("similarity_join", e,
            {"threshold": 0.3, "dim": 64, "n_planes": 2, "n_tables": 30})
    df = op("select", df, {"fields": ["id_a", "id_b"]})
    return op("sort", df, {"fields": ["id_a", "id_b"]})


_SQL_SIMILARITY_PARITY = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id % {_EMOD} = 0 AND b.vec_id % {_EMOD} = 0
  AND {_valid_emb("a.embedding")} AND {_valid_emb("b.embedding")}
  AND list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
      >= 0.3
ORDER BY id_a, id_b
"""


# parity oracles reuse the exact-jaccard SQL (already oracle-green as
# ngram_jaccard); the dedup variants derive survivors from those pairs
_SQL_MINHASH_PARITY = _ngram_jaccard_sql(_QHALF)

_SQL_DEDUP_NEAR_PARITY = f"""
WITH pairs AS ({_ngram_jaccard_sql(_QHALF)})
SELECT doc_id, lang FROM documents
WHERE doc_id % {_DMOD} = 0 AND doc_id NOT IN (SELECT id_b FROM pairs)
ORDER BY doc_id
"""

_SQL_DEDUP_GROUPS_PARITY = f"""
WITH RECURSIVE pairs AS ({_ngram_jaccard_sql(_QHALF)}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
comp AS (SELECT s AS id, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s)
SELECT doc_id, lang FROM documents
WHERE doc_id % {_DMOD} = 0
  AND doc_id NOT IN (SELECT id FROM comp WHERE component < id)
ORDER BY doc_id
"""

_SQL_DEDUP_NEAR_BEST = f"""
WITH RECURSIVE pairs AS ({_ngram_jaccard_sql(_QHALF)}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
comp AS (SELECT s AS id, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s),
ranked AS (
  SELECT c.id,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY doc.n_chars DESC, c.id ASC) AS rn
  FROM comp c JOIN documents doc ON doc.doc_id = c.id)
SELECT doc_id, lang FROM documents
WHERE doc_id % {_DMOD} = 0
  AND doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)
ORDER BY doc_id
"""


def q_components(spark, sf_dir):
    """connected_components directly: exact ngram pairs -> (id, min
    reachable id). The iterative pointer-jumping loop vs a recursive-
    CTE transitive closure — label-for-label. Runs on the same
    deterministic corpus half as the minhash parity gates (the exact
    pair generation is the quadratic-ish cost; the full-corpus run is
    already covered by ngram_jaccard)."""
    d = _half_docs(spark, sf_dir)
    pairs = op("ngram_jaccard_join", d,
               {"field": "text", "id_field": "doc_id",
                "shingle_size": 5, "threshold": 0.8})
    df = op("connected_components", pairs, {}, views={})
    return op("sort", df, {"fields": ["id"]})


_SQL_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({_ngram_jaccard_sql(_QHALF)}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
SELECT s AS id, LEAST(s, MIN(d)) AS component
FROM reach GROUP BY s
ORDER BY id
"""


def q_decode_meta(spark, sf_dir):
    """The decode_image stub contract, fully value-checked: pseudo
    dims are sha256-derived byte arithmetic DuckDB can mirror (the
    codec seam's deterministic fallback is a real, testable contract,
    not dead plumbing)."""
    d = _t(spark, sf_dir, "documents")
    df = op("attach_binary", d, {"field": "text"})
    df = op("decode_image", df, {"fake_decode": True})
    df = op("select", df, {"fields": ["doc_id", "img_width", "img_height",
                                      "img_mode"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_DECODE_META = """
SELECT doc_id,
       16 + CAST('0x' || substring(sha256(text), 1, 2) AS INTEGER) % 240
         AS img_width,
       16 + CAST('0x' || substring(sha256(text), 3, 2) AS INTEGER) % 240
         AS img_height,
       -- NULL payload -> NULL metadata (round-11 media NULL contract)
       CASE WHEN text IS NULL THEN NULL ELSE 'STUB' END AS img_mode
FROM documents
ORDER BY doc_id
"""


def q_audio_meta(spark, sf_dir):
    """audio_features stub contract: sample count / duration / rms all
    derive deterministically from payload bytes + sha256."""
    d = _t(spark, sf_dir, "documents")
    df = op("attach_binary", d, {"field": "text"})
    df = op("audio_features", df, {"fake_decode": True, "sample_rate": 16000})
    df = op("select", df, {"fields": ["doc_id", "audio_seconds",
                                      "audio_samples", "audio_rms"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_AUDIO_META = """
SELECT doc_id,
       (octet_length(encode(text)) * 4) / 16000.0 AS audio_seconds,
       CAST(octet_length(encode(text)) * 4 AS BIGINT) AS audio_samples,
       CAST('0x' || substring(sha256(text), 5, 2) AS INTEGER) / 255.0
         AS audio_rms
FROM documents
ORDER BY doc_id
"""


def q_resize_meta(spark, sf_dir):
    """resize_image stub contract: dimensions + the truncated payload
    (compared as hex — binary wire types differ between engines)."""
    d = _t(spark, sf_dir, "documents")
    df = op("attach_binary", d, {"field": "text"})
    df = op("resize_image", df, {"fake_decode": True,
                                 "target_w": 64, "target_h": 64})
    return op("sql", df, {"query": """
        SELECT doc_id, resized_w, resized_h,
               hex(resized_payload) AS resized_hex
        FROM self ORDER BY doc_id"""}, views={})


_SQL_RESIZE_META = """
SELECT doc_id,
       -- NULL payload -> NULL metadata (round-11 media NULL contract)
       CAST(CASE WHEN text IS NULL THEN NULL ELSE 64 END
            AS INTEGER) AS resized_w,
       CAST(CASE WHEN text IS NULL THEN NULL ELSE 64 END
            AS INTEGER) AS resized_h,
       substring(hex(encode(text)), 1, 128) AS resized_hex
FROM documents
ORDER BY doc_id
"""


def q_ivf_assign_gate(spark, sf_dir):
    """ivf_assign gate: every vector gets a cell in [0, n_cells), the
    corpus count is value-checked, and the quantizer actually uses
    multiple cells."""
    e = _t(spark, sf_dir, "embeddings")
    df = op("ivf_assign", e, {"n_cells": 8, "dim": 64, "refine": 1})
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.min("ivf_cell") >= 0).alias("cells_lower_ok"),
        (F.max("ivf_cell") < 8).alias("cells_upper_ok"),
        (F.countDistinct("ivf_cell") >= 2).alias("multi_cell"),
    )


_SQL_IVF_ASSIGN_GATE = """
SELECT (SELECT COUNT(*) FROM embeddings) AS n_rows,
       TRUE AS cells_lower_ok, TRUE AS cells_upper_ok, TRUE AS multi_cell
"""


def q_dedup_embedding_parity(spark, sf_dir):
    """Greedy embedding near-dedup at the recall~1 multi-table config:
    survivors must equal the SQL survivors derived from exact cosine
    pairs (drop every vector with a >=threshold partner of smaller id)."""
    e = _t(spark, sf_dir, "embeddings")
    e = op("filter", op("expr", e, {"exprs": {"m4": f"vec_id % {_EMOD}"}}),
           {"field": "m4", "op": "eq", "value": 0})
    df = op("dedup_embedding", e,
            {"threshold": 0.3, "dim": 64, "n_planes": 2, "n_tables": 30})
    df = op("select", df, {"fields": ["vec_id"]})
    return op("sort", df, {"fields": ["vec_id"]})


_SQL_DEDUP_EMBEDDING_PARITY = f"""
WITH pairs AS ({_SQL_SIMILARITY_PARITY})
SELECT vec_id FROM embeddings
WHERE vec_id % {_EMOD} = 0 AND vec_id NOT IN (SELECT id_b FROM pairs)
ORDER BY vec_id
"""


def q_dedup_embedding_groups_parity(spark, sf_dir):
    """Transitive embedding near-dedup (connected components over
    cosine pairs) vs a recursive-CTE closure of the exact pair set."""
    e = _t(spark, sf_dir, "embeddings")
    e = op("filter", op("expr", e, {"exprs": {"m4": f"vec_id % {_EMOD}"}}),
           {"field": "m4", "op": "eq", "value": 0})
    df = op("dedup_embedding_groups", e,
            {"threshold": 0.3, "dim": 64, "n_planes": 2, "n_tables": 30})
    df = op("select", df, {"fields": ["vec_id"]})
    return op("sort", df, {"fields": ["vec_id"]})


_SQL_DEDUP_EMBEDDING_GROUPS_PARITY = f"""
WITH RECURSIVE pairs AS ({_SQL_SIMILARITY_PARITY}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
comp AS (SELECT s AS id, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s)
SELECT vec_id FROM embeddings
WHERE vec_id % {_EMOD} = 0
  AND vec_id NOT IN (SELECT id FROM comp WHERE component < id)
ORDER BY vec_id
"""


def q_near_dup_simhash(spark, sf_dir):
    """Containment gate for near_dup_simhash: every emitted pair's
    hamming distance, recomputed INDEPENDENTLY of the banded candidate
    path (JVM bit_count over the stored 64-bit simhashes), must be
    within max_distance; and the banding must find at least one pair
    (the corpus has planted near-dups)."""
    d = _t(spark, sf_dir, "documents")
    cfg = {"field": "text", "id_field": "doc_id", "max_distance": 3}
    pairs = op("near_dup_simhash", d, cfg)
    sh = op("simhash", d, cfg).select("doc_id", "simhash")
    chk = (
        pairs.join(sh.select(F.col("doc_id").alias("id_a"),
                             F.col("simhash").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"),
                        F.col("simhash").alias("sh_b")), "id_b")
        .withColumn("ham", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
    )
    return chk.agg(
        F.coalesce(F.sum((F.col("ham") > 3).cast("long")),
                   F.lit(0).cast("long")).alias("n_violations"),
        (F.count(F.lit(1)) >= 1).alias("pairs_found"),
    )


_SQL_SIMHASH_GATE = """
SELECT CAST(0 AS BIGINT) AS n_violations, TRUE AS pairs_found
"""


def _recall_gate(approx: DataFrame, exact: DataFrame, floor: int) -> DataFrame:
    """One-row gate: |approx| and whether |approx ∩ exact| >= floor
    (both top-k lists are deterministic, so the booleans are stable)."""
    hit = approx.join(exact, "vec_id", "left_semi")
    return approx.agg(F.count(F.lit(1)).alias("n_results")).crossJoin(
        hit.agg((F.count(F.lit(1)) >= floor).alias("recall_floor_met")))


def q_ann_lsh(spark, sf_dir):
    """Exhaustive-probe PARITY gate for LSH ANN (round 3 — the old
    recall-floor form had a 2-neighbor margin that a fixture redraw
    could erode): probing every bucket (radius 5 over 5 planes = all
    32) must recover the exact top-10 bit-for-bit, proving the
    bucket-route + exact-rescore machinery is lossless when
    exhaustive. Pruned-probe behavior (n_planes=12, radius 2) stays
    measured in bench.SCALE_PROBES and pytest."""
    e = _t(spark, sf_dir, "embeddings")
    approx = op("ann_lsh", e, {"probe_id": 0, "k": 10, "dim": 64,
                               "n_planes": 5, "probe_radius": 5}).select("vec_id")
    exact = op("ann_bruteforce", e, {"probe_id": 0, "k": 10}).select("vec_id")
    return _recall_gate(approx, exact, 10)


def q_ann_ivf(spark, sf_dir):
    """Exhaustive-probe PARITY gate for IVF ANN: scanning all 8 cells
    with exact refine must equal the brute-force top-10 — the
    quantizer partition is lossless when unpruned. Pruned nprobe
    behavior stays in bench.SCALE_PROBES and ivf_assign_gate."""
    e = _t(spark, sf_dir, "embeddings")
    approx = op("ann_ivf", e, {"probe_id": 0, "k": 10, "dim": 64,
                               "n_cells": 8, "nprobe": 8, "refine": 1}).select("vec_id")
    exact = op("ann_bruteforce", e, {"probe_id": 0, "k": 10}).select("vec_id")
    return _recall_gate(approx, exact, 10)


_SQL_ANN_GATE = """
SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_floor_met
"""


def q_knn_join(spark, sf_dir):
    """Batch kNN-join (round 9 — the many-to-many ANN shape SemDeDup
    clustering and RAG index builds run): top-3 cosine neighbors of
    EVERY vector at the EXHAUSTIVE IVF geometry (nprobe = n_cells —
    every inverted list probed, so the bucketed plan must reproduce
    the exact all-pairs kNN bit-for-bit; pruned-nprobe recall stays
    measured in pytest + SCALE_PROBES). Ids and ranks only — rank
    ORDER needs the two engines' cosine doubles to order candidate
    pairs identically (gaps ≫ 1 ulp for distinct pairs; exact
    duplicates tie-break on neighbor_id in both), while the cosine
    VALUES agree only to ~1 ulp, so they stay out of the compare.
    Deterministic quarter of the corpus: the exhaustive gate does
    all-pairs work BY DESIGN; the subset bounds the oracle's O(n²)
    cost while exercising the identical code path."""
    e = _t(spark, sf_dir, "embeddings")
    e = op("filter", op("expr", e, {"exprs": {"m4": f"vec_id % {_EMOD}"}}),
           {"field": "m4", "op": "eq", "value": 0})
    df = op("knn_join", e, {"k": 3, "n_cells": 8, "nprobe": 8,
                            "refine": 1})
    df = op("select", df, {"fields": ["vec_id", "knn_rank",
                                      "neighbor_id"]})
    return op("sort", df, {"fields": ["vec_id", "knn_rank"]})


_SQL_KNN_JOIN = f"""
WITH sub AS (
  SELECT vec_id, embedding,
         -- zero-norm pinned to 1 (cosine 0), replaying the
         -- operator's guard instead of NaN/inf
         CASE WHEN sqrt(list_inner_product(
                embedding::DOUBLE[], embedding::DOUBLE[])) = 0 THEN 1.0
              ELSE sqrt(list_inner_product(
                embedding::DOUBLE[], embedding::DOUBLE[])) END AS nrm
  FROM embeddings
  WHERE vec_id % {_EMOD} = 0 AND {_VALID_EMB}),
pairs AS (
  SELECT q.vec_id AS vec_id, i.vec_id AS neighbor_id,
         list_inner_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[])
         / (q.nrm * i.nrm) AS cos_sim
  FROM sub q JOIN sub i ON q.vec_id <> i.vec_id),
ranked AS (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, neighbor_id) AS knn_rank
  FROM pairs)
SELECT vec_id, CAST(knn_rank AS INTEGER) AS knn_rank, neighbor_id
FROM ranked WHERE knn_rank <= 3
ORDER BY vec_id, knn_rank
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (round 9, llmops/similarity.py
    op_semdedup): cluster-scoped eps-dedup in flag mode over the
    deterministic quarter of the corpus. EVERYTHING is compared —
    the cell assignment, the float64 centroid_sim, and the dup
    decision — because the operator's fixed-point contract (quantize
    once to floor(x*1e6) int64; every dot's absolute-term sum under
    2^53) makes numpy BLAS, Spark and DuckDB agree bit-for-bit: no
    1-ulp eps-threshold risk, unlike knn_join's raw-float cosines.
    seed_order='id' is the SQL-replayable seed policy; refine=1
    exercises the truncated-integer-mean Lloyd round."""
    e = _t(spark, sf_dir, "embeddings")
    e = op("filter", op("expr", e, {"exprs": {"m4": f"vec_id % {_EMOD}"}}),
           {"field": "m4", "op": "eq", "value": 0})
    df = op("semdedup", e, {"dim": 64, "eps": 0.3, "n_cells": 4,
                            "refine": 1, "seed_order": "id",
                            "action": "flag"})
    df = op("select", df, {"fields": [
        "vec_id", "semdedup_cell", "centroid_sim", "is_dup"]})
    return op("sort", df, {"fields": ["vec_id"]})


_SQL_SEMDEDUP = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))
           AS qe
  FROM embeddings WHERE vec_id % {_EMOD} = 0 AND {_VALID_EMB}),
qn AS (
  SELECT vec_id, qe,
         CASE WHEN sqrt(list_inner_product(qe::DOUBLE[], qe::DOUBLE[])) = 0
              THEN 1.0
              ELSE sqrt(list_inner_product(qe::DOUBLE[], qe::DOUBLE[]))
         END AS nrm
  FROM q),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
         qe AS ce
  FROM (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT 4)),
seedn AS (
  SELECT cell, ce,
         CASE WHEN sqrt(list_inner_product(ce::DOUBLE[], ce::DOUBLE[])) = 0
              THEN 1.0
              ELSE sqrt(list_inner_product(ce::DOUBLE[], ce::DOUBLE[]))
         END AS cn
  FROM seeds),
a0 AS (  -- seed-round assignment: argmax cosine, tie to lower cell
  SELECT vec_id, qe, nrm, cell FROM (
    SELECT qn.vec_id, qn.qe, qn.nrm, s.cell,
           row_number() OVER (PARTITION BY qn.vec_id ORDER BY
             list_inner_product(qn.qe::DOUBLE[], s.ce::DOUBLE[])
               / (qn.nrm * s.cn) DESC,
             s.cell) AS rk
    FROM qn CROSS JOIN seedn s) WHERE rk = 1),
sums AS (
  SELECT cell, i, SUM(qe[i]) AS sd, COUNT(*) AS cnt
  FROM a0, UNNEST(range(1, 65)) u(i) GROUP BY cell, i),
refined AS (  -- Lloyd round: truncated-toward-zero integer mean
  SELECT cell, list(CAST(CASE WHEN sd >= 0 THEN sd // cnt
                              ELSE -((-sd) // cnt) END AS BIGINT)
                    ORDER BY i) AS ce
  FROM sums GROUP BY cell),
cents AS (  -- empty cells keep their seed centroid
  SELECT s.cell, COALESCE(r.ce, s.ce) AS ce
  FROM seeds s LEFT JOIN refined r USING (cell)),
centn AS (
  SELECT cell, ce,
         CASE WHEN sqrt(list_inner_product(ce::DOUBLE[], ce::DOUBLE[])) = 0
              THEN 1.0
              ELSE sqrt(list_inner_product(ce::DOUBLE[], ce::DOUBLE[]))
         END AS cn
  FROM cents),
a1 AS (
  SELECT vec_id, qe, nrm, cell, cos AS centroid_sim FROM (
    SELECT qn.vec_id, qn.qe, qn.nrm, c.cell,
           list_inner_product(qn.qe::DOUBLE[], c.ce::DOUBLE[])
             / (qn.nrm * c.cn) AS cos,
           row_number() OVER (PARTITION BY qn.vec_id ORDER BY
             list_inner_product(qn.qe::DOUBLE[], c.ce::DOUBLE[])
               / (qn.nrm * c.cn) DESC,
             c.cell) AS rk
    FROM qn CROSS JOIN centn c) WHERE rk = 1),
dups AS (  -- dropped iff ANY earlier row in keep order (centroid_sim
           -- asc, id asc) within the same cell is >= eps
  SELECT DISTINCT b.vec_id
  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  WHERE list_inner_product(a.qe::DOUBLE[], b.qe::DOUBLE[])
          / (a.nrm * b.nrm) >= 0.3
    AND (a.centroid_sim < b.centroid_sim
         OR (a.centroid_sim = b.centroid_sim AND a.vec_id < b.vec_id)))
SELECT e.vec_id, a1.cell AS semdedup_cell, a1.centroid_sim,
       COALESCE(d.vec_id IS NOT NULL, FALSE) AS is_dup
FROM (SELECT vec_id FROM embeddings WHERE vec_id % {_EMOD} = 0) e
LEFT JOIN a1 ON e.vec_id = a1.vec_id
LEFT JOIN dups d ON e.vec_id = d.vec_id
ORDER BY e.vec_id
"""


_PQ_CFG = {"dim": 64, "m": 8, "ks": 4, "refine": 1, "seed_order": "id"}


def q_pq_encode(spark, sf_dir):
    """Product quantization (round 9, llmops/similarity.py
    op_pq_encode): every vector's m=8 sub-codes at the SQL-replayable
    geometry (ks=4, id-ordered seeds, one truncated-integer-mean
    Lloyd round). The full code table is compared — the operator's
    fixed-point contract makes every argmin squared-L2 decision
    bit-replayable (see op_semdedup). Codes stringify because the
    driver compare can't hash list cells (CLAUDE.md)."""
    e = _t(spark, sf_dir, "embeddings")
    df = op("pq_encode", e, _PQ_CFG)
    df = op("expr", df, {"exprs": {
        "pq_code_str": "array_join(pq_code, ',')"}})
    df = op("select", df, {"fields": ["vec_id", "pq_code_str"]})
    return op("sort", df, {"fields": ["vec_id"]})


def q_ann_pq(spark, sf_dir):
    """Asymmetric-distance PQ search (op_ann_pq): top-10 by exact
    int64 ADC distance for probe 0 — codes, distance tables and the
    JVM element_at lookup-sum all replay bit-for-bit (adc_dist is an
    integer; the oracle sums per-subspace BIGINTs in HUGEINT, so no
    float compare anywhere)."""
    e = _t(spark, sf_dir, "embeddings")
    df = op("ann_pq", e, {**_PQ_CFG, "probe_id": 0, "k": 10})
    return op("sort", df, {"fields": ["adc_dist", "vec_id"]})


def q_pq_books(spark, sf_dir):
    """PQ codebook MODEL table (round 10 train/serve split,
    op_pq_encode `emit: "books"`): the full m x ks grid of trained
    codewords at the SQL-replayable geometry — the artifact a
    production pipeline persists once per corpus and serves every
    probe from. Value-checked cell by cell against DuckDB's replay of
    the same fixed-point Lloyd round (codewords stringify because the
    driver compare can't hash list cells)."""
    e = _t(spark, sf_dir, "embeddings")
    df = op("pq_encode", e, {**_PQ_CFG, "emit": "books"})
    df = op("expr", df, {"exprs": {
        "codeword_str": "array_join(codeword, ',')"}})
    df = op("select", df, {"fields": ["subspace", "code", "codeword_str"]})
    return op("sort", df, {"fields": ["subspace", "code"]})


def q_ann_pq_served(spark, sf_dir):
    """The round-10 serving path end-to-end: train books once
    (`emit: "books"`), encode the corpus against the FROZEN model
    (`books` input — one Arrow pass, no training), then answer the
    probe from stored codes + books alone (op_ann_pq
    ``books``/``codes`` — one codegen scan, zero training jobs, zero
    Python). Same fixed-point contract, so the result is
    bit-identical to the self-training q_ann_pq and replays the same
    exhaustive oracle."""
    e = _t(spark, sf_dir, "embeddings")
    books = op("pq_encode", e, {**_PQ_CFG, "emit": "books"})
    codes = op("pq_encode", e, {**_PQ_CFG, "books": books})
    codes = op("select", codes, {"fields": ["vec_id", "pq_code"]})
    df = op("ann_pq", e, {**_PQ_CFG, "probe_id": 0, "k": 10,
                          "books": books, "codes": codes})
    return op("sort", df, {"fields": ["adc_dist", "vec_id"]})


def q_ann_ivfpq(spark, sf_dir):
    """IVFADC composition (round 10, op_ann_pq ``n_cells``): codes
    carry an IVF cell, the probe scans only its ``nprobe`` nearest
    cells' codes. Contract geometry is EXHAUSTIVE (nprobe == n_cells
    — the knn_join oracle pattern): pruning keeps every cell, so the
    result must equal the plain ADC top-10 bit for bit, proving the
    cell filter loses nothing it shouldn't; recall at nprobe <
    n_cells is pytest-pinned on clustered data instead."""
    e = _t(spark, sf_dir, "embeddings")
    df = op("ann_pq", e, {**_PQ_CFG, "probe_id": 0, "k": 10,
                          "n_cells": 4, "nprobe": 4})
    return op("sort", df, {"fields": ["adc_dist", "vec_id"]})


# shared PQ training replay: quantize -> id-ordered seeds -> seed-round
# argmin -> truncated-integer-mean Lloyd round -> final codes (d1).
# Parameterized over the source table (round 12: model_refresh
# retrains the same pipeline on a subset window) — at src="embeddings"
# the rendered string is byte-identical to the pre-refactor literal.
def _sql_pq_books_src(src: str) -> str:
    return f"""
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))
           AS qe
  FROM {src} WHERE {_VALID_EMB}),
subs AS (
  SELECT vec_id, CAST(j AS INTEGER) AS j,
         list_slice(qe, j*8 + 1, j*8 + 8) AS sq
  FROM q, UNNEST(range(0, 8)) u(j)),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
         qe
  FROM (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT 4)),
seedsub AS (
  SELECT code, CAST(j AS INTEGER) AS j,
         list_slice(qe, j*8 + 1, j*8 + 8) AS ce
  FROM seeds, UNNEST(range(0, 8)) u(j)),
d0 AS (  -- seed-round assignment: argmin squared-L2, tie to lower code
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, b.code,
           row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
             list_sum(list_transform(list_zip(s.sq, b.ce),
                      x -> CAST((x[1]-x[2]) AS DOUBLE)*(x[1]-x[2]))),
             b.code) AS rk
    FROM subs s JOIN seedsub b ON s.j = b.j) WHERE rk = 1),
sums AS (
  SELECT d0.j, d0.code, p, SUM(sq[p]) AS sd, COUNT(*) AS cnt
  FROM d0 JOIN subs USING (vec_id, j), UNNEST(range(1, 9)) u(p)
  GROUP BY d0.j, d0.code, p),
refined AS (  -- Lloyd round: truncated-toward-zero integer mean
  SELECT j, code, list(CAST(CASE WHEN sd >= 0 THEN sd // cnt
                                 ELSE -((-sd) // cnt) END AS BIGINT)
                       ORDER BY p) AS ce
  FROM sums GROUP BY j, code),
books AS (  -- empty codewords keep their seed
  SELECT s.j, s.code, COALESCE(r.ce, s.ce) AS ce
  FROM seedsub s LEFT JOIN refined r ON s.j = r.j AND s.code = r.code),
d1 AS (
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, b.code,
           row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
             list_sum(list_transform(list_zip(s.sq, b.ce),
                      x -> CAST((x[1]-x[2]) AS DOUBLE)*(x[1]-x[2]))),
             b.code) AS rk
    FROM subs s JOIN books b ON s.j = b.j) WHERE rk = 1)
"""


_SQL_PQ_BOOKS = _sql_pq_books_src("embeddings")

_SQL_PQ_ENCODE = f"""
WITH {_SQL_PQ_BOOKS},
codes AS (
  SELECT vec_id,
         array_to_string(list(code ORDER BY j), ',') AS pq_code_str
  FROM d1 GROUP BY vec_id)
-- invalid embeddings encode to NULL codes (valid_vec contract)
SELECT e.vec_id, c.pq_code_str
FROM embeddings e LEFT JOIN codes c USING (vec_id)
ORDER BY e.vec_id
"""

_SQL_ANN_PQ = f"""
WITH {_SQL_PQ_BOOKS},
probesub AS (SELECT j, sq AS pq FROM subs WHERE vec_id = 0),
adc AS (
  SELECT d1.vec_id,
         SUM(CAST(list_sum(list_transform(list_zip(p.pq, b.ce),
             x -> CAST((x[1]-x[2]) AS DOUBLE)*(x[1]-x[2]))) AS BIGINT))
           AS adc_dist
  FROM d1 JOIN books b ON d1.j = b.j AND d1.code = b.code
          JOIN probesub p ON p.j = d1.j
  GROUP BY d1.vec_id)
SELECT vec_id, CAST(adc_dist AS BIGINT) AS adc_dist
FROM adc ORDER BY adc_dist, vec_id LIMIT 10
"""

_SQL_PQ_BOOKS_MODEL = f"""
WITH {_SQL_PQ_BOOKS}
SELECT j AS subspace, code, array_to_string(ce, ',') AS codeword_str
FROM books ORDER BY subspace, code
"""


def q_vector_store_maintain(spark, sf_dir):
    """Vector-store compaction + retention (round 11,
    streaming/ops.vector_store_maintain — VERDICT r10 #5): build a
    4-batch store of PQ codes (batch = vec_id % 4, the ingest layout),
    then maintain with drop_below=1 (retention drops batch 0) and
    hot_batches=1 (batches 1-2 FOLD into one partition, batch 3 stays
    hot/replayable). The pair is value-anchored: every surviving
    row's code must be BIT-EQUAL to DuckDB's independent replay of
    the PQ pipeline, and every batch id must land exactly where the
    fold/retention contract says — content preservation checked cell
    by cell, not as a boolean. The post-maintenance read is
    localCheckpointed so the temp store can be removed eagerly."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings")
    codes = op("pq_encode", e, _PQ_CFG)
    staged = op("expr", codes, {"exprs": {
        "pq_code_str": "coalesce(array_join(pq_code, ','), '')",
        "__ingest_batch": "vec_id % 4"}})
    staged = op("select", staged, {
        "fields": ["vec_id", "pq_code_str", "__ingest_batch"]})

    root = tempfile.mkdtemp(prefix="vec_store_maintain_")
    try:
        from blackroad_data_pipeline_spark.streaming.ops import (
            vector_store_maintain)
        src, dst = f"{root}/store", f"{root}/store2"
        staged.write.partitionBy("__ingest_batch").parquet(src)
        vector_store_maintain(spark, src, dst,
                              hot_batches=1, drop_below=1)
        out = (spark.read.parquet(dst)
               .select("vec_id", "pq_code_str",
                       F.col("__ingest_batch").cast("long").alias("batch"))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return op("sort", out, {"fields": ["vec_id"]})


_SQL_VECTOR_STORE_MAINTAIN = f"""
WITH {_SQL_PQ_BOOKS},
codes AS (
  SELECT vec_id,
         array_to_string(list(code ORDER BY j), ',') AS pq_code_str
  FROM d1 GROUP BY vec_id)
-- retention drops batch 0 (vec_id % 4 = 0); cold batches 1-2 fold
-- into partition 1; batch 3 is the hot survivor. Codes replay the
-- same fixed-point PQ pipeline (invalid embeddings -> '' codes).
SELECT e.vec_id, COALESCE(c.pq_code_str, '') AS pq_code_str,
       CAST(CASE WHEN e.vec_id % 4 = 3 THEN 3 ELSE 1 END AS BIGINT)
         AS batch
FROM embeddings e LEFT JOIN codes c USING (vec_id)
WHERE e.vec_id % 4 >= 1
ORDER BY e.vec_id
"""


def q_centroid_drift(spark, sf_dir):
    """Frozen-model drift gate (round 11, llmops/similarity.py
    op_centroid_drift — VERDICT r10 #6): even-id embeddings are the
    bootstrap baseline, odd-id the serving batch, and the frozen
    quantizer is the 4 smallest-id valid vectors (SQL-replayable by
    construction — no float Lloyd means in the oracle). All math is
    the semdedup integer discipline: floor(x*1e6) quantization, exact
    int64 squared-L2 argmin (tie to lower cell), DECIMAL(38,0) sums
    and STRING-pinned double means, so the per-cell means and the
    drifted booleans replay bit-for-bit."""
    from blackroad_data_pipeline_spark.llmops.similarity import valid_vec

    e = _t(spark, sf_dir, "embeddings")
    seed_rows = (e.filter(valid_vec("embedding"))
                 .orderBy("vec_id").limit(4).select("embedding").collect())
    cells = lit_frame(
        spark,
        [(i, [float(x) for x in r["embedding"]])
         for i, r in enumerate(seed_rows)],
        "cell int, centroid array<double>")
    base = op("sql", e, {"query":
                         "SELECT * FROM self WHERE vec_id % 2 = 0"},
              views={})
    batch = op("sql", e, {"query":
                          "SELECT * FROM self WHERE vec_id % 2 = 1"},
               views={})
    df = op("centroid_drift", batch,
            {"dim": 64, "cells": cells, "baseline": base,
             "threshold": 0.1}, views={})
    return op("sort", df, {"fields": ["cell"]})


_SQL_CENTROID_DRIFT = f"""
WITH val AS (
  SELECT vec_id, embedding FROM embeddings WHERE {_VALID_EMB}),
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS cell,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1e6)
                                  AS BIGINT)) AS qc
  FROM (SELECT vec_id, embedding FROM val ORDER BY vec_id LIMIT 4)),
q AS (
  SELECT vec_id, vec_id % 2 = 0 AS is_base,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1e6)
                                  AS BIGINT)) AS qv
  FROM val),
d AS (
  SELECT q.vec_id, q.is_base, c.cell,
         list_sum(list_transform(list_zip(q.qv, c.qc),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
           list_sum(list_transform(list_zip(q.qv, c.qc),
                                   x -> (x[1]-x[2])*(x[1]-x[2]))),
           c.cell) AS rk
  FROM q CROSS JOIN cents c),
m AS (
  SELECT cell,
    CAST(COALESCE(SUM(CASE WHEN is_base THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_base,
    CAST(COALESCE(SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_batch,
    CASE WHEN SUM(CASE WHEN is_base THEN 1 ELSE 0 END) > 0 THEN
      CAST(CAST(SUM(CASE WHEN is_base THEN d2 ELSE 0 END) AS VARCHAR)
           AS DOUBLE) / SUM(CASE WHEN is_base THEN 1 ELSE 0 END)
    END AS mean_d2_base,
    CASE WHEN SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) > 0 THEN
      CAST(CAST(SUM(CASE WHEN NOT is_base THEN d2 ELSE 0 END) AS VARCHAR)
           AS DOUBLE) / SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END)
    END AS mean_d2_batch
  FROM d WHERE rk = 1 GROUP BY cell)
SELECT c.cell,
       COALESCE(m.n_base, 0) AS n_base,
       COALESCE(m.n_batch, 0) AS n_batch,
       m.mean_d2_base, m.mean_d2_batch,
       COALESCE(m.mean_d2_batch
                > m.mean_d2_base * CAST(1.1 AS DOUBLE), FALSE) AS drifted
FROM cents c LEFT JOIN m USING (cell)
ORDER BY c.cell
"""


# shared by q_model_refresh / q_ann_pq_versioned: old model = full
# corpus books + 4 smallest-id centroids; drift gate at threshold 0
# (even=baseline vs odd=batch — naturally MIXED drifted booleans, so
# both the keep and the re-encode branch carry rows at any sf);
# retrain window = the odd rows; only rows in drifted cells re-encode.
def _sql_model_refresh_ctes() -> str:
    return f"""{_sql_pq_books_src(_HEMBS)},
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS cell, qe AS qc
  FROM (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT 4)),
dassign AS (
  SELECT q.vec_id, q.vec_id % 2 = 0 AS is_base, c.cell,
         list_sum(list_transform(list_zip(q.qe, c.qc),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
           list_sum(list_transform(list_zip(q.qe, c.qc),
                                   x -> (x[1]-x[2])*(x[1]-x[2]))),
           c.cell) AS rk
  FROM q CROSS JOIN cents c),
oldcell AS (SELECT vec_id, is_base, cell FROM dassign WHERE rk = 1),
drift AS (
  SELECT cell,
    CASE WHEN SUM(CASE WHEN is_base THEN 1 ELSE 0 END) > 0 AND
              SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) > 0 THEN
      CAST(CAST(SUM(CASE WHEN NOT is_base THEN d2 ELSE 0 END)
                AS VARCHAR) AS DOUBLE)
        / SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END)
      > CAST(CAST(SUM(CASE WHEN is_base THEN d2 ELSE 0 END)
                  AS VARCHAR) AS DOUBLE)
        / SUM(CASE WHEN is_base THEN 1 ELSE 0 END)
        * CAST(1.0 AS DOUBLE)
    ELSE FALSE END AS drifted
  FROM dassign WHERE rk = 1 GROUP BY cell),
affected AS (
  SELECT o.vec_id FROM oldcell o
  JOIN drift dr ON dr.cell = o.cell AND dr.drifted),
nseeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS code, qe
  FROM (SELECT vec_id, qe FROM q WHERE vec_id % 2 = 1
        ORDER BY vec_id LIMIT 4)),
nseedsub AS (
  SELECT code, CAST(j AS INTEGER) AS j,
         list_slice(qe, j*8 + 1, j*8 + 8) AS ce
  FROM nseeds, UNNEST(range(0, 8)) u(j)),
nd0 AS (  -- seed-round assignment of the WINDOW (odd) rows only
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, b.code,
           row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
             list_sum(list_transform(list_zip(s.sq, b.ce),
                      x -> CAST((x[1]-x[2]) AS DOUBLE)*(x[1]-x[2]))),
             b.code) AS rk
    FROM subs s JOIN nseedsub b ON s.j = b.j
    WHERE s.vec_id % 2 = 1) WHERE rk = 1),
nsums AS (
  SELECT nd0.j, nd0.code, p, SUM(sq[p]) AS sd, COUNT(*) AS cnt
  FROM nd0 JOIN subs USING (vec_id, j), UNNEST(range(1, 9)) u(p)
  GROUP BY nd0.j, nd0.code, p),
nrefined AS (
  SELECT j, code, list(CAST(CASE WHEN sd >= 0 THEN sd // cnt
                                 ELSE -((-sd) // cnt) END AS BIGINT)
                       ORDER BY p) AS ce
  FROM nsums GROUP BY j, code),
nbooks AS (
  SELECT s.j, s.code, COALESCE(r.ce, s.ce) AS ce
  FROM nseedsub s LEFT JOIN nrefined r ON s.j = r.j AND s.code = r.code),
nd1 AS (  -- re-encode: AFFECTED rows only, against the new books
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, b.code,
           row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
             list_sum(list_transform(list_zip(s.sq, b.ce),
                      x -> CAST((x[1]-x[2]) AS DOUBLE)*(x[1]-x[2]))),
             b.code) AS rk
    FROM subs s JOIN nbooks b ON s.j = b.j
    WHERE s.vec_id IN (SELECT vec_id FROM affected)) WHERE rk = 1),
cseeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           AS cell, qe AS ce
  FROM (SELECT vec_id, qe FROM q WHERE vec_id % 2 = 1
        ORDER BY vec_id LIMIT 4)),
cd0 AS (  -- coarse retrain: window rows against the coarse seeds
  SELECT vec_id, cell FROM (
    SELECT s.vec_id, b.cell,
           row_number() OVER (PARTITION BY s.vec_id ORDER BY
             list_sum(list_transform(list_zip(s.qe, b.ce),
                      x -> CAST((x[1]-x[2]) AS DOUBLE)*(x[1]-x[2]))),
             b.cell) AS rk
    FROM (SELECT vec_id, qe FROM q WHERE vec_id % 2 = 1) s
    CROSS JOIN cseeds b) WHERE rk = 1),
csums AS (
  SELECT cd0.cell, p, SUM(q.qe[p]) AS sd, COUNT(*) AS cnt
  FROM cd0 JOIN q USING (vec_id), UNNEST(range(1, 65)) u(p)
  GROUP BY cd0.cell, p),
crefined AS (
  SELECT cell, list(CAST(CASE WHEN sd >= 0 THEN sd // cnt
                              ELSE -((-sd) // cnt) END AS BIGINT)
                    ORDER BY p) AS ce
  FROM csums GROUP BY cell),
ccells AS (
  SELECT s.cell, COALESCE(r.ce, s.ce) AS ce
  FROM cseeds s LEFT JOIN crefined r ON s.cell = r.cell),
newcell AS (  -- AFFECTED rows against the refreshed coarse centroids
  SELECT vec_id, cell FROM (
    SELECT q.vec_id, b.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(list_zip(q.qe, b.ce),
                      x -> (x[1]-x[2])*(x[1]-x[2]))),
             b.cell) AS rk
    FROM q CROSS JOIN ccells b
    WHERE q.vec_id IN (SELECT vec_id FROM affected)) WHERE rk = 1),
oldcodes AS (
  SELECT vec_id, array_to_string(list(code ORDER BY j), ',') AS cs
  FROM d1 GROUP BY vec_id),
newcodes AS (
  SELECT vec_id, array_to_string(list(code ORDER BY j), ',') AS cs
  FROM nd1 GROUP BY vec_id)"""


def q_model_refresh(spark, sf_dir):
    """Drift→retrain loop closure (round 12, llmops/similarity.py
    op_model_refresh — VERDICT r11 #4): the frozen old model is the
    full-corpus PQ books + the 4 smallest-id centroids
    (centroid_drift geometry); even ids are the bootstrap baseline,
    odd ids the serving window, threshold 0 so the drifted booleans
    come out MIXED at any sf. Drifted cells retrain (books AND coarse
    quantizer, pinned integer discipline — the refreshed coarse
    centroids are truncated-integer means, so the whole refresh
    replays bit-for-bit), and ONLY store rows living in drifted
    cells re-encode: the oracle value-checks every row's version
    tag, cell id and code string — new codes must equal DuckDB's
    from-scratch replay of the retrain on the same frozen window,
    old codes must pass through bit-untouched."""
    from blackroad_data_pipeline_spark.llmops.similarity import valid_vec

    e = _hmod_embs(spark, sf_dir)
    seed_rows = (e.filter(valid_vec("embedding"))
                 .orderBy("vec_id").limit(4).select("embedding").collect())
    cells = lit_frame(
        spark,
        [(i, [float(x) for x in r["embedding"]])
         for i, r in enumerate(seed_rows)],
        "cell int, centroid array<double>")
    base = op("sql", e, {"query":
                         "SELECT * FROM self WHERE vec_id % 2 = 0"},
              views={})
    batch = op("sql", e, {"query":
                          "SELECT * FROM self WHERE vec_id % 2 = 1"},
               views={})
    books = op("pq_encode", e, {**_PQ_CFG, "emit": "books"})
    out = op("model_refresh", batch,
             {**_PQ_CFG, "threshold": 0.0, "n_cells": 4,
              "cells": cells, "books": books, "baseline": base,
              "store": e}, views={})
    out = op("expr", out, {"exprs": {
        "pq_code_str": "array_join(pq_code, ',')"}})
    out = op("select", out, {"fields": ["vec_id", "model_version",
                                        "ivf_cell", "pq_code_str"]})
    return op("sort", out, {"fields": ["vec_id"]})


_SQL_MODEL_REFRESH = f"""
WITH {_sql_model_refresh_ctes()}
SELECT o.vec_id,
       CAST(CASE WHEN dr.drifted THEN 1 ELSE 0 END AS INTEGER)
         AS model_version,
       CAST(CASE WHEN dr.drifted THEN nc.cell ELSE o.cell END
            AS INTEGER) AS ivf_cell,
       CASE WHEN dr.drifted THEN nw.cs ELSE oc.cs END AS pq_code_str
FROM oldcell o
JOIN drift dr ON dr.cell = o.cell
JOIN oldcodes oc ON oc.vec_id = o.vec_id
LEFT JOIN newcell nc ON nc.vec_id = o.vec_id
LEFT JOIN newcodes nw ON nw.vec_id = o.vec_id
ORDER BY o.vec_id
"""


def q_ann_pq_versioned(spark, sf_dir):
    """Mixed-version ADC serving (round 12, op_ann_pq_versioned —
    the day-3 story: after model_refresh, probes answer from a store
    whose rows carry codes from TWO model versions until maintenance
    retires one). The versioned books table is v0 = the full-corpus
    model and v1 = the window retrain (bit-identical to the books
    model_refresh froze — deterministic training IS the parity);
    the probe's merged top-10 must equal DuckDB's replay of both ADC
    scans stitched by each row's version tag. adc_dist is exact
    int64 — no float compare."""
    from blackroad_data_pipeline_spark.llmops.similarity import valid_vec

    e = _hmod_embs(spark, sf_dir)
    seed_rows = (e.filter(valid_vec("embedding"))
                 .orderBy("vec_id").limit(4).select("embedding").collect())
    cells = lit_frame(
        spark,
        [(i, [float(x) for x in r["embedding"]])
         for i, r in enumerate(seed_rows)],
        "cell int, centroid array<double>")
    base = op("sql", e, {"query":
                         "SELECT * FROM self WHERE vec_id % 2 = 0"},
              views={})
    batch = op("sql", e, {"query":
                          "SELECT * FROM self WHERE vec_id % 2 = 1"},
               views={})
    # books1 (the window retrain replay) is independent of books0 and
    # of the refresh chain — train it concurrently (guide §2.6) so its
    # seed/refine jobs back-fill the chain's idle capacity (round 14)
    def _refresh_chain():
        books0 = op("pq_encode", e, {**_PQ_CFG, "emit": "books"})
        return books0, op("model_refresh", batch,
                          {**_PQ_CFG, "threshold": 0.0, "n_cells": 4,
                           "cells": cells, "books": books0,
                           "baseline": base, "store": e}, views={})

    (books0, mixed), books1 = overlap(
        _refresh_chain,
        lambda: op("pq_encode", batch, {**_PQ_CFG, "emit": "books"}))
    vbooks = (books0.withColumn("model_version", F.lit(0))
              .unionByName(books1.withColumn("model_version", F.lit(1))))
    out = op("ann_pq_versioned", e,
             {**_PQ_CFG, "probe_id": 0, "k": 10,
              "books": vbooks, "codes": mixed}, views={})
    return op("sort", out, {"fields": ["adc_dist", "vec_id"]})


_SQL_ANN_PQ_VERSIONED = f"""
WITH {_sql_model_refresh_ctes()},
probesub AS (SELECT j, sq AS pq FROM subs WHERE vec_id = 0),
adc0 AS (
  SELECT d1.vec_id,
         SUM(CAST(list_sum(list_transform(list_zip(p.pq, b.ce),
             x -> CAST((x[1]-x[2]) AS DOUBLE)*(x[1]-x[2]))) AS BIGINT))
           AS adc_dist
  FROM d1 JOIN books b ON d1.j = b.j AND d1.code = b.code
          JOIN probesub p ON p.j = d1.j
  GROUP BY d1.vec_id),
adc1 AS (
  SELECT nd1.vec_id,
         SUM(CAST(list_sum(list_transform(list_zip(p.pq, b.ce),
             x -> CAST((x[1]-x[2]) AS DOUBLE)*(x[1]-x[2]))) AS BIGINT))
           AS adc_dist
  FROM nd1 JOIN nbooks b ON nd1.j = b.j AND nd1.code = b.code
           JOIN probesub p ON p.j = nd1.j
  GROUP BY nd1.vec_id)
SELECT o.vec_id,
       CAST(CASE WHEN dr.drifted THEN a1.adc_dist ELSE a0.adc_dist END
            AS BIGINT) AS adc_dist
FROM oldcell o
JOIN drift dr ON dr.cell = o.cell
LEFT JOIN adc0 a0 ON a0.vec_id = o.vec_id
LEFT JOIN adc1 a1 ON a1.vec_id = o.vec_id
-- empty-probe parity (ADVICE r12): if vec_id 0's embedding is
-- invalid on a sweep clone (--nan-frac hits arbitrary rows) the
-- Spark op returns an EMPTY frame; without this gate the LEFT
-- JOINs would still emit 10 NULL-adc_dist rows — a spurious FAIL.
WHERE EXISTS (SELECT 1 FROM probesub)
ORDER BY adc_dist, o.vec_id LIMIT 10
"""


def q_split_assign_gate(spark, sf_dir):
    """split_assign's contract is partition-invariance: assignments on
    the natural read and on an adversarial repartition must agree row
    for row (n_mismatch = 0 — randomSplit fails this), the row count
    must match the table (value-checked against DuckDB), and realized
    split fractions must sit near the requested 0.9/0.05/0.05."""
    d = _t(spark, sf_dir, "documents")
    cfg = {"on": ["doc_id"], "splits": {"train": 0.9, "val": 0.05, "test": 0.05}}
    a = op("split_assign", d, cfg).select("doc_id", "split")
    b = op("split_assign", d.repartition(7, "lang"), cfg).select(
        F.col("doc_id").alias("doc_id_b"), F.col("split").alias("split_b"))
    joined = a.join(b, a.doc_id == b.doc_id_b, "full_outer")
    return joined.agg(
        F.coalesce(F.sum((~F.col("split").eqNullSafe(F.col("split_b")))
                         .cast("long")), F.lit(0).cast("long")).alias("n_mismatch"),
        F.count(F.lit(1)).alias("n_rows"),
        ((F.avg((F.col("split") == "train").cast("double")) - 0.9).between(-0.05, 0.05)
         ).alias("train_frac_ok"),
    )


_SQL_SPLIT_ASSIGN_GATE = """
SELECT CAST(0 AS BIGINT) AS n_mismatch,
       (SELECT COUNT(*) FROM documents) AS n_rows,
       TRUE AS train_frac_ok
"""


def q_shuffle_rows(spark, sf_dir):
    """Reproducible corpus shuffle: the exported md5 shuffle key IS
    the ordering (any consumer sorts by it), so value-checking the
    key against DuckDB's md5 proves the permutation — no row-order
    hashing needed."""
    d = _t(spark, sf_dir, "documents")
    df = op("shuffle_rows", d, {"on": ["doc_id"], "salt": "epoch0",
                                "as": "shuffle_key"})
    return op("select", df, {"fields": ["doc_id", "shuffle_key"]})


_SQL_SHUFFLE_ROWS = """
SELECT doc_id,
       md5('epoch0' || chr(31) || CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents
ORDER BY shuffle_key
"""


def q_mix_corpus(spark, sf_dir):
    """mix_corpus value-checked row-for-row (round 3): with md5-
    derived keep buckets DuckDB recomputes the exact keep set — a
    strictly stronger check than the invariance gate below, which
    stays for the partition/repartition contract."""
    d = _t(spark, sf_dir, "documents")
    df = op("mix_corpus", d, {"by": "lang", "rates": {"en": 0.5, "zh": 1.0},
                              "default_rate": 0.8, "on": ["doc_id"]})
    df = op("select", df, {"fields": ["doc_id", "lang", "source"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_MIX_CORPUS = """
WITH b AS (
  SELECT doc_id, lang, source,
         CAST(concat('0x', substring(md5(concat_ws(chr(31), 'mix',
              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS bucket
  FROM documents)
SELECT doc_id, lang, source
FROM b
WHERE bucket < CASE WHEN lang = 'en' THEN 500000
                    WHEN lang = 'zh' THEN 1000000
                    ELSE 800000 END
ORDER BY doc_id
"""


def q_mix_temperature(spark, sf_dir):
    """mix_corpus temperature mode (alpha=0.5) value-checked
    row-for-row: DuckDB recomputes the per-lang counts, the
    pow-derived keep thresholds (floor(r*buckets + 0.5), same libm
    pow on this host — the operator PINS the thresholds as integer
    literals so the Spark output is deterministic regardless), and
    the salted md5 keep buckets."""
    d = _t(spark, sf_dir, "documents")
    df = op("mix_corpus", d, {"by": "lang", "temperature": 0.5,
                              "on": ["doc_id"], "salt": "mixT"})
    df = op("select", df, {"fields": ["doc_id", "lang"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_MIX_TEMPERATURE = """
WITH n AS (
  -- NULL strata are excluded from the proportion stats and ALWAYS
  -- kept (op_mix_corpus's documented ADVICE-r4 contract)
  SELECT lang, COUNT(*) AS cnt FROM documents
  WHERE lang IS NOT NULL GROUP BY lang),
t AS (
  SELECT lang,
         CAST(floor(pow(CAST((SELECT MIN(cnt) FROM n) AS DOUBLE) / cnt, 0.5)
              * 1000000 + 0.5) AS BIGINT) AS thresh
  FROM n),
b AS (
  SELECT doc_id, d.lang AS lang,
         CAST(concat('0x', substring(md5(concat_ws(chr(31), 'mixT',
              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS bucket,
         thresh
  FROM documents d LEFT JOIN t ON d.lang = t.lang)
SELECT doc_id, lang FROM b WHERE lang IS NULL OR bucket < thresh
ORDER BY doc_id
"""


def q_mix_corpus_gate(spark, sf_dir):
    """mix_corpus's contract: the keep set is partition-invariant
    (n_mismatch = 0 under an adversarial repartition), a rate-1.0
    stratum survives in full (zh_full — value-checked against DuckDB's
    zh count), the stratum inventory is untouched (n_strata), and
    realized keep rates sit near the requested mixture."""
    d = _t(spark, sf_dir, "documents")
    cfg = {"by": "lang", "rates": {"en": 0.5, "zh": 1.0},
           "default_rate": 0.8, "on": ["doc_id"]}
    a = op("mix_corpus", d, cfg)
    b = op("mix_corpus", d.repartition(7, "source"), cfg)
    pair = (a.select("doc_id")
            .join(b.select(F.col("doc_id").alias("doc_id_b")),
                  F.col("doc_id") == F.col("doc_id_b"), "full_outer"))
    mismatch = pair.agg(
        F.coalesce(F.sum((F.col("doc_id").isNull()
                          | F.col("doc_id_b").isNull()).cast("long")),
                   F.lit(0).cast("long")).alias("n_mismatch"))
    target = (F.when(F.col("lang") == "en", 0.5)
              .when(F.col("lang") == "zh", 1.0).otherwise(0.8))
    # NULL-safe joinback (CLAUDE.md group-scalar invariant): a NULL
    # lang is a real stratum on both sides of the join
    kept_g = a.groupBy(F.col("lang").alias("lang_k")).agg(
        F.count(F.lit(1)).alias("n_kept"))
    per_stratum = (
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
        .join(kept_g, F.col("lang").eqNullSafe(F.col("lang_k")), "left")
        .select("lang", "n_total",
                F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
                target.alias("target")))
    stratum_checks = per_stratum.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.bool_and(
            F.abs(F.col("n_kept").cast("double") / F.col("n_total")
                  - F.col("target")) <= 0.2).alias("rates_ok"),
        F.bool_and(F.when(F.col("target") < 1.0, F.lit(True))
                   .otherwise(F.col("n_kept") == F.col("n_total")))
        .alias("zh_full"),
        F.sum(F.when(F.col("lang") == "zh", F.col("n_kept"))
              .otherwise(F.lit(0))).alias("n_zh_kept"))
    return mismatch.crossJoin(stratum_checks)


_SQL_MIX_CORPUS_GATE = """
SELECT CAST(0 AS BIGINT) AS n_mismatch,
       -- groupBy counts a NULL lang as a real stratum
       (SELECT COUNT(DISTINCT lang)
               + CASE WHEN bool_or(lang IS NULL) THEN 1 ELSE 0 END
        FROM documents) AS n_strata,
       TRUE AS rates_ok,
       TRUE AS zh_full,
       (SELECT COUNT(*) FROM documents WHERE lang = 'zh') AS n_zh_kept
"""


# --------------------------------------------------------------------------
# training-corpus prep extensions (round 2): chunking, vocab stats,
# benchmark decontamination, PII scrubbing — all fully oracle-checked
# --------------------------------------------------------------------------


def q_chunk_text(spark, sf_dir):
    """Sliding token-window chunking (context-window prep): 32-token
    chunks overlapping by 8 (docs are ~100 tokens, so every doc
    produces several windows) — explode shape, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    df = op("chunk_text", d, {"field": "text", "id_field": "doc_id",
                              "chunk_tokens": 32, "overlap": 8})
    return op("sort", df, {"fields": ["doc_id", "chunk_idx"]})


_SQL_CHUNK_TEXT = f"""
WITH d AS (
  SELECT doc_id, {_D_TOKS} AS toks, len({_D_TOKS}) AS n
  FROM documents),
c AS (
  SELECT doc_id, toks, n,
         1 + CAST(floor((greatest(n - 32, 0) + 23) / 24) AS INT) AS n_chunks
  FROM d),
x AS (
  SELECT doc_id,
         unnest(list_transform(range(n_chunks), i -> {{
           'chunk_idx': CAST(i AS INTEGER),
           'start_token': CAST(i * 24 AS BIGINT),
           'chunk_text': CASE WHEN toks IS NULL THEN NULL
             ELSE COALESCE(array_to_string(
               toks[CAST(i*24+1 AS BIGINT):CAST(i*24+32 AS BIGINT)],
               ' '), '') END,
           'chunk_tokens': CAST(least(n - i * 24, 32) AS BIGINT)}})) AS ch
  FROM c)
SELECT doc_id, ch.chunk_idx AS chunk_idx, ch.start_token AS start_token,
       ch.chunk_text AS chunk_text, ch.chunk_tokens AS chunk_tokens
FROM x
ORDER BY doc_id, chunk_idx
"""


def q_vocab_topk(spark, sf_dir):
    """Corpus token-frequency top-100 (word-count shape: map-side
    partial agg, one shuffle, deterministic tie cut)."""
    d = _t(spark, sf_dir, "documents")
    return op("vocab_topk", d, {"field": "text", "k": 100})


_SQL_VOCAB_TOPK = """
SELECT token, COUNT(*) AS n_occurrences
FROM (SELECT unnest(list_filter(
        regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
      FROM documents)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 100
"""


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: docs sharing >= 5 distinct 3-gram
    shingles with the pseudo-benchmark set (doc_id % 20 == 0). The
    benchmark side broadcasts; the corpus side never shuffles."""
    d = _hmod_docs(spark, sf_dir)
    train = op("sql", d, {"query": "SELECT * FROM self WHERE doc_id % 20 <> 0"},
               views={})
    bench = op("sql", d, {"query": "SELECT * FROM self WHERE doc_id % 20 = 0"},
               views={})
    df = op("contamination_join", train,
            {"benchmark": bench, "shingle_size": 3, "min_shared": 5}, views={})
    return op("sort", df, {"fields": ["doc_id", "bench_id"]})


_SQL_CONTAMINATION = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len({_D_TOKS}) >= 3 THEN
           list_distinct(list_transform(
             range(1, len({_D_TOKS}) - 1),
             i -> array_to_string(({_D_TOKS})[i:i+2], ' ')))
         -- same empty-vs-NULL split as the jaccard template (r12)
         ELSE [CASE WHEN text IS NOT NULL THEN
                 COALESCE(array_to_string({_D_TOKS}, ' '), '') END]
         END AS s
  FROM {_HDOCS}),
flat AS (SELECT doc_id, unnest(s) AS s FROM sh),
train AS (SELECT doc_id, s FROM flat WHERE doc_id % 20 <> 0),
bench AS (SELECT doc_id AS bench_id, s FROM flat WHERE doc_id % 20 = 0)
SELECT t.doc_id AS doc_id, b.bench_id AS bench_id, COUNT(*) AS n_shared
FROM train t JOIN bench b USING (s)
GROUP BY 1, 2
HAVING COUNT(*) >= 5
ORDER BY doc_id, bench_id
"""


def q_pii_scrub(spark, sf_dir):
    """PII redaction over text seeded with synthetic email/URL/IP/phone
    spans (the corpus itself is clean, so the spans are injected
    deterministically from doc_id to give the scrubber real work)."""
    d = _t(spark, sf_dir, "documents")
    df = op("sql", d, {"query": """
        SELECT doc_id,
               concat('reach user', CAST(doc_id AS STRING),
                      '@example.com or https://ex.io/p?id=',
                      CAST(doc_id AS STRING), ' ip 10.0.0.',
                      CAST(doc_id % 256 AS STRING), ' tel +1 (555) 010-',
                      CAST(1000 + doc_id % 9000 AS STRING), ' ',
                      coalesce(text, '')) AS text
        FROM self"""}, views={})
    df = op("pii_scrub", df, {"field": "text", "as": "scrubbed"})
    df = op("select", df, {"fields": ["doc_id", "scrubbed"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_PII_SCRUB = """
WITH seeded AS (
  SELECT doc_id,
         concat('reach user', CAST(doc_id AS VARCHAR),
                '@example.com or https://ex.io/p?id=',
                CAST(doc_id AS VARCHAR), ' ip 10.0.0.',
                CAST(doc_id % 256 AS VARCHAR), ' tel +1 (555) 010-',
                CAST(1000 + doc_id % 9000 AS VARCHAR), ' ',
                COALESCE(text, '')) AS text
  FROM documents)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\\s]+', '<URL>', 'g'),
           '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IPV4>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
FROM seeded
ORDER BY doc_id
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals over a deterministically
    re-lined corpus: the synthetic documents are single-line, so every
    5-token group is terminated with a newline first to give the line
    stats real duplicate structure (the tiny vocabulary makes repeated
    lines and 2-grams common)."""
    d = _t(spark, sf_dir, "documents")
    df = op("sql", d, {"query": r"""
        SELECT doc_id,
               regexp_replace(text, '((\\S+ ){4}\\S+) ', '$1\n') AS text
        FROM self"""}, views={})
    df = op("repetition_stats", df, {"field": "text", "id_field": "doc_id"})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_REPETITION_STATS = f"""
WITH prep AS (
  SELECT doc_id,
         COALESCE(
           regexp_replace(text, '((\\S+ ){{4}}\\S+) ', '\\1' || chr(10), 'g'),
           '') AS text
  FROM documents),
base AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         {_D_TOKS} AS toks
  FROM prep),
scal AS (
  SELECT doc_id, lines,
         len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_distinct_lines,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END AS grams
  FROM base),
lcounts AS (
  SELECT doc_id, val, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(lines) AS val FROM scal)
  GROUP BY 1, 2),
lstats AS (
  SELECT doc_id,
         MAX(c) AS top_line_count,
         CAST(COALESCE(SUM(CASE WHEN c > 1 THEN LENGTH(val) * c END), 0) AS BIGINT)
           AS dup_line_chars,
         CAST(SUM(LENGTH(val) * c) AS BIGINT) AS line_chars
  FROM lcounts GROUP BY 1),
gcounts AS (
  SELECT doc_id, val, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(grams) AS val FROM scal)
  GROUP BY 1, 2),
gstats AS (SELECT doc_id, MAX(c) AS top_2gram_count FROM gcounts GROUP BY 1)
SELECT s.doc_id AS doc_id, s.n_lines, s.n_distinct_lines, s.n_tokens,
       l.top_line_count, g.top_2gram_count,
       1.0 - CAST(s.n_distinct_lines AS DOUBLE) / s.n_lines AS dup_line_ratio,
       CASE WHEN l.line_chars > 0
            THEN CAST(l.dup_line_chars AS DOUBLE) / l.line_chars
            ELSE 0.0 END AS dup_line_char_ratio,
       CASE WHEN s.n_tokens >= 2
            THEN LEAST(1.0, 2.0 * g.top_2gram_count / s.n_tokens)
       END AS top_2gram_ratio
FROM scal s JOIN lstats l USING (doc_id) LEFT JOIN gstats g USING (doc_id)
ORDER BY doc_id
"""


def q_tfidf_topk(spark, sf_dir):
    """Per-doc top-5 TF-IDF terms. The compared columns are the
    integers (tf, doc_freq, rank): the float score's ORDER decides the
    rank identically in both engines (exact score ties share identical
    (tf, doc_freq) so the term tiebreak resolves them the same way,
    and distinct (tf, doc_freq) score gaps are far above ln() ulp
    differences), but the raw double itself is libm-dependent and is
    deliberately left out of the hash."""
    d = _t(spark, sf_dir, "documents")
    df = op("tfidf_topk", d, {"field": "text", "id_field": "doc_id",
                              "k": 5, "lowercase": True})
    df = op("select", df, {"fields": ["doc_id", "term", "tf", "doc_freq",
                                      "tfidf_rank"]})
    return op("sort", df, {"fields": ["doc_id", "tfidf_rank"]})


_SQL_TFIDF_TOPK = f"""
WITH pairs AS (
  SELECT doc_id, t AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_D_TOKS_LOWER}) AS t FROM documents)
  GROUP BY 1, 2),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
dfs AS (SELECT term, COUNT(*) AS doc_freq FROM pairs GROUP BY 1),
scored AS (
  SELECT p.doc_id, p.term, p.tf, d.doc_freq,
         p.tf * (ln((n.n_docs + 1.0) / (d.doc_freq + 1.0)) + 1.0) AS score
  FROM pairs p JOIN dfs d USING (term) CROSS JOIN nd n),
ranked AS (
  SELECT doc_id, term, tf, doc_freq,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS tfidf_rank
  FROM scored)
SELECT doc_id, term, tf, doc_freq, tfidf_rank
FROM ranked WHERE tfidf_rank <= 5
ORDER BY doc_id, tfidf_rank
"""


def q_stateful_dedup_stream(spark, sf_dir):
    """applyInPandasWithState dedup executed as a real stream: emit the
    first event per (user_id, event_type) across micro-batches, drain
    to a memory sink. WHICH row is emitted first is arrival-order-
    dependent, but the emitted KEY SET is exactly the distinct key set
    — that projection is the oracle-checked output."""
    from blackroad_data_pipeline_spark.sources.readers import nanos_to_timestamp
    from blackroad_data_pipeline_spark.streaming.ops import (
        read_events_stream, run_stream_to_memory)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = nanos_to_timestamp(
        read_events_stream(spark, f"{sf_dir}/events.parquet"), "ts")
    dedup = op("stateful_dedup", stream, {"keys": ["user_id", "event_type"]})
    # NOTE: no shuffle_partitions override here — this stream is
    # Python-WORKER-bound (applyInPandasWithState), not
    # state-store-bound: 8 partitions measured 1.6x SLOWER than the
    # 32 default (fewer Arrow workers in flight)
    run_stream_to_memory(dedup, "stateful_dedup_stream_out",
                         output_mode="append")
    df = spark.table("stateful_dedup_stream_out")
    df = op("select", df, {"fields": ["user_id", "event_type"]})
    return op("sort", df, {"fields": ["user_id", "event_type"]})


_SQL_STATEFUL_DEDUP_STREAM = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""


def q_vector_ingest_stream(spark, sf_dir):
    """Streaming vector intake (round 10,
    streaming/ops.run_stream_vector_ingest): two availableNow drains
    over split halves of the embeddings corpus — drain 1 bootstraps
    and FREEZES the PQ books + IVF cells, drain 2 near-dedups against
    the int8 history and encodes with the frozen models. The gate
    compares the streamed store against a BATCH composition of the
    same oracle-anchored ops (dedup_embedding / dedup_embedding_against
    / quantize / pq_encode(books) / ivf_assign(cells)) — survivor id
    sets equal, stored codes bit-equal — and emits scale-independent
    booleans (the simhash-gate pattern; every component op also has
    its own value-checked oracle pair). Rides the heavy-pair knob
    (_hmod_embs): the recall~1 dedup geometry inside the gate is
    by-design quadratic, so sf10 sweeps subset the corpus like the
    other parity pairs (at the default scale the knob is a no-op)."""
    import shutil
    import tempfile

    from blackroad_data_pipeline_spark.llmops.similarity import valid_vec
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest)

    e = _hmod_embs(spark, sf_dir).select("vec_id", "embedding")
    # deterministic eighths, not halves: the gate's recall~1 dedup is
    # quadratic per bucket, and bench times every contract query at
    # sf0.1 — eighths keep the pair work at the dedup_parity scale
    # while exercising the identical two-drain path
    day1 = e.filter("vec_id % 8 = 0")
    day2 = e.filter("vec_id % 8 = 1")
    # min_train=1: this gate checks stream/batch PARITY, not the
    # bootstrap guard (its own pytest covers that) — at a knobbed
    # parity scale on a small fixture day-1 can shrink to 1-2 vectors
    # and must still bootstrap so both sides run identical ops
    kw = dict(threshold=0.9, dim=64, m=8, ks=4, n_cells=4,
              n_planes=2, n_tables=15, min_train=1)

    root = tempfile.mkdtemp(prefix="vec_ingest_gate_")
    try:
        src = f"{root}/src"
        store_p, models, ckpt = f"{root}/store", f"{root}/models", f"{root}/ckpt"
        day1.write.parquet(f"{src}/d1.parquet")
        schema = "vec_id long, embedding array<float>"
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(src)
        run_stream_vector_ingest(stream, store_p, ckpt, models, **kw)
        day2.write.parquet(f"{src}/d2.parquet")
        stream2 = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(src)
        run_stream_vector_ingest(stream2, store_p, ckpt, models, **kw)

        store = spark.read.parquet(store_p)
        books = spark.read.parquet(f"{models}/books")
        cells = spark.read.parquet(f"{models}/cells")

        # batch twin over the same split, same frozen models
        dd = {k: kw[k] for k in ("threshold", "dim", "n_planes", "n_tables")}
        pq = {"dim": 64, "m": 8, "ks": 4, "seed_order": "id"}
        k1 = op("dedup_embedding", day1.filter(valid_vec("embedding")), dd)
        h = op("dequantize_embedding",
               store.filter("__ingest_batch = 0").select(
                   "vec_id", F.col("q_emb").alias("embedding"),
                   F.array(*[F.lit(-1.0)] * 64).alias("q_lo"),
                   F.array(*[F.lit(1.0)] * 64).alias("q_hi")),
               {"bits": 8})
        k2 = op("dedup_embedding_against",
                op("dedup_embedding",
                   day2.filter(valid_vec("embedding")), dd),
                {**dd, "history": h}, views={})
        batch_kept = k1.select("vec_id").unionByName(k2.select("vec_id"))
        twin = op("ivf_assign",
                  op("pq_encode",
                     e.join(batch_kept, "vec_id", "left_semi"),
                     {**pq, "books": books}),
                  {"n_cells": 4, "cells": cells}).select(
            "vec_id", F.col("pq_code").alias("t_code"),
            F.col("ivf_cell").alias("t_cell"))

        joined = store.join(twin, "vec_id", "full_outer")
        agg = joined.agg(
            F.coalesce(F.sum((F.col("pq_code").isNull()
                              | F.col("t_code").isNull()).cast("long")),
                       F.lit(0).cast("long")).alias("n_id_mismatch"),
            F.coalesce(F.sum(((F.col("pq_code") != F.col("t_code"))
                              | (F.col("ivf_cell") != F.col("t_cell")))
                             .cast("long")),
                       F.lit(0).cast("long")).alias("n_code_mismatch"),
            (F.count(F.lit(1)) > 0).alias("store_nonempty")).collect()[0]
        return lit_frame(
            spark,
            [(int(agg["n_id_mismatch"]), int(agg["n_code_mismatch"]),
              bool(agg["store_nonempty"]))],
            "n_id_mismatch long, n_code_mismatch long, store_nonempty boolean")
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_VECTOR_INGEST_STREAM = """
SELECT CAST(0 AS BIGINT) AS n_id_mismatch,
       CAST(0 AS BIGINT) AS n_code_mismatch,
       TRUE AS store_nonempty
"""


def q_corpus_prep_stream(spark, sf_dir):
    """Corpus-prep operators composed on a STRUCTURED STREAM: stream
    the documents parquet, break/clean lines, count tokens, and
    aggregate per-language doc + token totals in complete mode —
    evidence the curation layer is streaming-compatible (the cleaning
    chain is pure projection, so it rides micro-batches unchanged;
    the only stateful piece is the final streaming aggregate). Shares
    the batch clean_lines/token_count semantics, so the DuckDB batch
    recomputation is the oracle."""
    from blackroad_data_pipeline_spark.streaming.ops import (
        read_events_stream, run_stream_to_memory)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_events_stream(spark, f"{sf_dir}/documents.parquet")
    d = op("expr", stream, {"exprs": {"lined": "replace(text, ' a ', '\n')"}})
    df = op("clean_lines", d, {"field": "lined", "as": "text",
                               "min_words": 6, "min_doc_words": 20,
                               "blacklist": ["customer"]})
    df = op("token_count", df, {"field": "text"})
    agg = df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"))
    run_stream_to_memory(agg, "corpus_prep_stream_out",
                         output_mode="complete", shuffle_partitions=8)
    out = spark.table("corpus_prep_stream_out")
    return op("sort", out, {"fields": ["lang"]})


_SQL_CORPUS_PREP_STREAM = """
WITH d AS (
  SELECT doc_id, lang, replace(text, ' a ', chr(10)) AS t FROM documents),
c AS (
  SELECT doc_id, lang,
         array_to_string(list_filter(
           list_transform(string_split(t, chr(10)), x -> trim(x)),
           x -> len(list_filter(regexp_split_to_array(trim(x), '\\s+'),
                                y -> y <> '')) >= 6
                AND NOT contains(lower(x), 'customer')), chr(10)) AS text
  FROM d),
k AS (
  SELECT lang, text FROM c
  WHERE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        y -> y <> '')) >= 20)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                y -> y <> ''))) AS BIGINT) AS total_ws_tokens
FROM k GROUP BY lang ORDER BY lang
"""


def q_pack_sequences(spark, sf_dir):
    """Sequence packing: shard by doc_id % 8, lay docs out in id order,
    bin by cumulative token count into 512-token packs. Shard-local
    windows — no global sort, no single-partition stage."""
    d = _t(spark, sf_dir, "documents")
    df = op("sql", d, {"query":
                       "SELECT doc_id, text, doc_id % 8 AS shard FROM self"},
            views={})
    df = op("pack_sequences", df, {"field": "text", "id_field": "doc_id",
                                   "seq_tokens": 512, "shard_by": "shard"})
    df = op("select", df, {"fields": ["doc_id", "n_tokens", "pack_id"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_PACK_SEQUENCES = f"""
WITH d AS (
  SELECT doc_id, doc_id % 8 AS shard, len({_D_TOKS}) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM d)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(shard AS VARCHAR) || '#' ||
         CAST(CAST(floor(cum_before / 512) AS BIGINT) AS VARCHAR) AS pack_id
FROM c
ORDER BY doc_id
"""


def q_sample_gate(spark, sf_dir):
    """Gate for the stratified sampler: per-stratum realized fractions
    must sit near the requested rates, the sample must be a subset of
    the input (value-checked row count bound), and the same seed must
    reproduce the same rows within one plan."""
    li = _t(spark, sf_dir, "lineitem")
    frac = {"A": 0.5, "N": 0.1, "R": 0.25}
    s = op("sample", li, {"by": "l_returnflag", "fractions": frac, "seed": 7})
    a = s.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_s"))
    base = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_b"))
    j = a.join(base, "l_returnflag")
    target = F.create_map(*[x for kv in frac.items()
                            for x in (F.lit(kv[0]), F.lit(kv[1]))])
    return j.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.min(F.abs(F.col("n_s") / F.col("n_b")
                    - target[F.col("l_returnflag")]) < 0.05
              ).alias("fracs_ok"),
        F.min(F.col("n_s") < F.col("n_b")).alias("proper_subset"),
    )


_SQL_SAMPLE_GATE = """
SELECT CAST(3 AS BIGINT) AS n_strata, TRUE AS fracs_ok, TRUE AS proper_subset
"""


def q_events_window_stream(spark, sf_dir):
    """The windowed aggregation executed as a STRUCTURED STREAM:
    readStream over the events parquet -> watermarked windowed_agg ->
    memory sink driven to completion. Shares events_window's oracle, so
    stream==batch equivalence is driver-visible, not only pytest-visible."""
    from blackroad_data_pipeline_spark.sources.readers import nanos_to_timestamp
    from blackroad_data_pipeline_spark.streaming.ops import (
        read_events_stream, run_stream_to_memory)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = nanos_to_timestamp(
        read_events_stream(spark, f"{sf_dir}/events.parquet"), "ts")
    agg = op("windowed_agg", stream, {
        "ts_field": "ts", "window": "1 hour", "group_by": ["event_type"],
        "aggregates": [
            {"field": "event_id", "function": "count", "alias": "n_events"},
            {"field": "value", "function": "sum", "alias": "sum_value"},
        ]})
    run_stream_to_memory(agg, "events_window_stream_out",
                         shuffle_partitions=8)
    df = spark.table("events_window_stream_out")
    return op("sort", df, {"fields": ["window_start", "event_type"]})


def q_events_session_window_stream(spark, sf_dir):
    """Gap-based session windows executed as a STRUCTURED STREAM:
    readStream over the events parquet -> session_windowed_agg
    (F.session_window, the streaming-native stateful session merge) ->
    memory sink driven to completion. Shares events_session_window's
    oracle, so stream==batch session-boundary equivalence is
    driver-visible. At scale this is the bounded-state path: a
    watermark evicts closed sessions instead of the batch lag+cumsum
    full-history sort."""
    from blackroad_data_pipeline_spark.sources.readers import nanos_to_timestamp
    from blackroad_data_pipeline_spark.streaming.ops import (
        read_events_stream, run_stream_to_memory)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = nanos_to_timestamp(
        read_events_stream(spark, f"{sf_dir}/events.parquet"), "ts")
    agg = op("session_windowed_agg", stream, {
        "ts_field": "ts", "gap": "10 minutes", "group_by": ["user_id"],
        "aggregates": [
            {"field": "event_id", "function": "count", "alias": "n_events"},
            {"field": "value", "function": "sum", "alias": "sum_value"},
        ]})
    run_stream_to_memory(agg, "events_session_window_stream_out",
                         shuffle_partitions=8)
    df = spark.table("events_session_window_stream_out")
    return op("sort", df, {"fields": ["user_id", "window_start"]})


# --------------------------------------------------------------------------
# temporal joins — operators/temporal.py (absent from reference, SURVEY.md §2.5)
# --------------------------------------------------------------------------


def q_asof_join(spark, sf_dir):
    """For each click, the most recent purchase at/before it per user
    (backward as-of; one shuffle, no interval cross product)."""
    e = _hmod_events(spark, sf_dir)
    clicks = op("filter", e, {"field": "event_type", "op": "eq", "value": "click"})
    purchases = op("filter", e, {"field": "event_type", "op": "eq", "value": "purchase"})
    df = op("asof_join", clicks, {
        "right": purchases, "by": ["user_id"], "left_ts": "ts",
        "values": ["value"], "right_tiebreak": "event_id", "how": "inner",
    }, views={})
    return op("select", df, {"fields": ["event_id", "user_id", "r_value"]})


def _touches_convs(spark, sf_dir):
    e = _hmod_events(spark, sf_dir)
    touches = op("filter", e, {"field": "event_type", "op": "eq",
                               "value": "click"})
    convs = op("filter", e, {"field": "event_type", "op": "eq",
                             "value": "purchase"})
    convs = op("expr", convs, {"replace": True, "exprs": {
        "conv_id": "event_id", "user_id": "user_id", "conv_ts": "ts"}})
    return touches, convs


def q_attribution_last(spark, sf_dir):
    """Last-touch attribution (operators/temporal.py op_attribution):
    each purchase credited to the user's latest click within 6 hours.
    Rides the as-of union+carry shape — ONE key shuffle, no
    touch-pair materialization. DuckDB replays with a join +
    ROW_NUMBER pick at identical tiebreak and second-truncated
    tolerance semantics."""
    touches, convs = _touches_convs(spark, sf_dir)
    df = op("attribution", touches, {
        "conversions": convs, "by": ["user_id"], "conv_id": "conv_id",
        "touch_id": "event_id", "touch_ts": "ts", "conv_ts": "conv_ts",
        "lookback": 21600, "model": "last", "tiebreak": "event_id"},
        views={})
    df = op("select", df, {"fields": ["conv_id", "user_id", "touch_id",
                                      "credit"]})
    return op("sort", df, {"fields": ["conv_id"]})


_SQL_ATTRIBUTION_LAST = f"""
WITH t AS (SELECT user_id, event_id AS touch_id,
                  epoch_ns(ts) // 1000 AS tus,
                  epoch_ns(ts) // 1000000000 AS tsec
           FROM {_HEVENTS} WHERE event_type = 'click'),
c AS (SELECT user_id, event_id AS conv_id,
             epoch_ns(ts) // 1000 AS cus,
             epoch_ns(ts) // 1000000000 AS csec
      FROM {_HEVENTS} WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.conv_id, c.user_id, t.touch_id,
         ROW_NUMBER() OVER (PARTITION BY c.conv_id
                            ORDER BY t.tus DESC, t.touch_id DESC) AS rn
  FROM c JOIN t ON c.user_id = t.user_id AND t.tus <= c.cus
              AND c.csec - t.tsec <= 21600)
SELECT conv_id, user_id, touch_id, 1e0 AS credit FROM pairs WHERE rn = 1
ORDER BY conv_id
"""


def q_attribution_first(spark, sf_dir):
    """First-touch attribution (operators/temporal.py op_attribution
    model='first') at the UNIFIED default precision (round 9 —
    VERDICT r8 #6): each purchase credited to the user's EARLIEST
    click within 6 hours, lookback depth at epoch-second granularity
    (floor(conv) − floor(touch) <= lookback, the same arithmetic
    attribution_last pins) with the exact upper bound
    touch_ts <= conv_ts. The round-6 exact-both-bounds mode is opt-in
    (``precision: "exact"``, pytest-pinned in
    test_attribution_first_subsecond_bounds); this pair
    driver-verifies the new cross-model default. Rides the forward
    as-of union+carry shape (one key shuffle)."""
    touches, convs = _touches_convs(spark, sf_dir)
    df = op("attribution", touches, {
        "conversions": convs, "by": ["user_id"], "conv_id": "conv_id",
        "touch_id": "event_id", "touch_ts": "ts", "conv_ts": "conv_ts",
        "lookback": 21600, "model": "first", "tiebreak": "event_id"},
        views={})
    df = op("select", df, {"fields": ["conv_id", "user_id", "touch_id",
                                      "credit"]})
    return op("sort", df, {"fields": ["conv_id"]})


_SQL_ATTRIBUTION_FIRST = f"""
WITH t AS (SELECT user_id, event_id AS touch_id,
                  epoch_ns(ts) // 1000 AS tus,
                  epoch_ns(ts) // 1000000000 AS tsec
           FROM {_HEVENTS} WHERE event_type = 'click'),
c AS (SELECT user_id, event_id AS conv_id,
             epoch_ns(ts) // 1000 AS cus,
             epoch_ns(ts) // 1000000000 AS csec
      FROM {_HEVENTS} WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.conv_id, c.user_id, t.touch_id,
         ROW_NUMBER() OVER (PARTITION BY c.conv_id
                            ORDER BY t.tus ASC, t.touch_id ASC) AS rn
  FROM c JOIN t ON c.user_id = t.user_id AND t.tus <= c.cus
              AND c.csec - t.tsec <= 21600)
SELECT conv_id, user_id, touch_id, 1e0 AS credit FROM pairs WHERE rn = 1
ORDER BY conv_id
"""


def q_attribution_linear(spark, sf_dir):
    """Linear attribution: every in-window click splits the
    purchase's credit equally (credit = 1/n, the same IEEE division
    in both engines). Rides the bucketized range join — pairs bounded
    by the lookback, never all-history; containment evaluated at
    epoch-second granularity like the range_join operator."""
    touches, convs = _touches_convs(spark, sf_dir)
    df = op("attribution", touches, {
        "conversions": convs, "by": ["user_id"], "conv_id": "conv_id",
        "touch_id": "event_id", "touch_ts": "ts", "conv_ts": "conv_ts",
        "lookback": 21600, "model": "linear"}, views={})
    df = op("select", df, {"fields": ["conv_id", "user_id", "touch_id",
                                      "credit"]})
    return op("sort", df, {"fields": ["conv_id", "touch_id"]})


_SQL_ATTRIBUTION_LINEAR = f"""
WITH t AS (SELECT user_id, event_id AS touch_id,
                  epoch_ns(ts) // 1000000000 AS tsec
           FROM {_HEVENTS} WHERE event_type = 'click'),
c AS (SELECT user_id, event_id AS conv_id,
             epoch_ns(ts) // 1000000000 AS csec
      FROM {_HEVENTS} WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.conv_id, c.user_id, t.touch_id,
         COUNT(*) OVER (PARTITION BY c.conv_id) AS n
  FROM c JOIN t ON c.user_id = t.user_id
              AND t.tsec >= c.csec - 21600 AND t.tsec <= c.csec)
SELECT conv_id, user_id, touch_id, 1e0 / n AS credit FROM pairs
ORDER BY conv_id, touch_id
"""


def q_attribution_linear_exact(spark, sf_dir):
    """Linear attribution at ``precision: "exact"`` (round 8 — the
    config-parity completion of ADVICE r6 #2): the lookback window
    [conv − 6h, conv] evaluated at native MICROSECOND precision on
    BOTH bounds, riding the same bucketized range join on µs longs
    (operators/temporal.py op_attribution). DuckDB replays at
    epoch_ns//1000 — the same µs arithmetic as attribution_first.
    The events fixture carries sub-second timestamps, so this pair
    genuinely differs from the second-granular attribution_linear
    (boundary touches flip) and the oracle value-checks the exact
    window."""
    touches, convs = _touches_convs(spark, sf_dir)
    df = op("attribution", touches, {
        "conversions": convs, "by": ["user_id"], "conv_id": "conv_id",
        "touch_id": "event_id", "touch_ts": "ts", "conv_ts": "conv_ts",
        "lookback": 21600, "model": "linear", "precision": "exact"},
        views={})
    df = op("select", df, {"fields": ["conv_id", "user_id", "touch_id",
                                      "credit"]})
    return op("sort", df, {"fields": ["conv_id", "touch_id"]})


_SQL_ATTRIBUTION_LINEAR_EXACT = f"""
WITH t AS (SELECT user_id, event_id AS touch_id,
                  epoch_ns(ts) // 1000 AS tus
           FROM {_HEVENTS} WHERE event_type = 'click'),
c AS (SELECT user_id, event_id AS conv_id,
             epoch_ns(ts) // 1000 AS cus
      FROM {_HEVENTS} WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.conv_id, c.user_id, t.touch_id,
         COUNT(*) OVER (PARTITION BY c.conv_id) AS n
  FROM c JOIN t ON c.user_id = t.user_id
              AND t.tus >= c.cus - 21600000000
              AND t.tus <= c.cus)
SELECT conv_id, user_id, touch_id, 1e0 / n AS credit FROM pairs
ORDER BY conv_id, touch_id
"""


# oracle compares at epoch-microseconds (Spark timestamps are µs; the
# parquet source is ns — both sides truncate identically)
_SQL_ASOF_JOIN = f"""
WITH c AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS tus
           FROM {_HEVENTS} WHERE event_type = 'click'),
     p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS tus, value
           FROM {_HEVENTS} WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.event_id, c.user_id, p.value,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY p.tus DESC, p.event_id DESC) AS rn
  FROM c JOIN p ON c.user_id = p.user_id AND p.tus <= c.tus)
SELECT event_id, user_id, value AS r_value FROM pairs WHERE rn = 1
"""


def q_time_weighted(spark, sf_dir):
    """LOCF time-weighted average purchase value (in exact CENTS) per
    user (operators/temporal.py op_time_weighted, round 8 — the
    irregular-sampling mean a plain AVG mis-weights): each purchase
    holds until the user's next purchase; twa = Σ v·Δt / span over
    exact µs instants.

    The pair feeds INTEGER cents, not raw dollars, and that is what
    makes it cross-engine replayable: with integer v and integer Δt,
    every per-term product double is the identical correctly-rounded
    INTEGER-valued double in both engines (doubles ≥ 2^52 are exact
    integers), so the 10-dp decimal quantization has no boundary to
    disagree on. Raw 2-dp doubles multiplied by µs deltas produce
    long fractional expansions where Spark's shortest-repr
    double→decimal cast and DuckDB's full-binary cast can round the
    10th decimal apart (~1e-16 rel — measured 19 mismatching groups
    at sf0.01 before the cents rewrite; the CLAUDE.md decimal-cast
    caveat, now demonstrated)."""
    e = _t(spark, sf_dir, "events")
    p = op("filter", e, {"field": "event_type", "op": "eq",
                         "value": "purchase"})
    p = op("expr", p, {"exprs": {
        "value_c": "CAST(ROUND(value * 100) AS BIGINT)"}})
    df = op("time_weighted", p, {
        "ts_field": "ts", "value_field": "value_c",
        "group_by": ["user_id"]}, views={})
    return op("sort", df, {"fields": ["user_id"]})


_SQL_TIME_WEIGHTED = """
WITH p AS (SELECT user_id, epoch_ns(ts)//1000 AS e,
                  CAST(ROUND(value * 100) AS BIGINT) AS vc
           FROM events
           WHERE event_type = 'purchase'
             AND ts IS NOT NULL AND value IS NOT NULL),
o AS (SELECT user_id, e, vc,
             LEAD(e) OVER (PARTITION BY user_id
                           ORDER BY e, vc) AS ne
      FROM p),
a AS (SELECT user_id, COUNT(*) AS n_obs,
             MAX(e) - MIN(e) AS span,
             CAST(CAST(SUM(CAST(vc AS DECIMAL(38,0)) * (ne - e))
                       AS VARCHAR) AS DOUBLE) AS num
      FROM o GROUP BY user_id)
SELECT user_id, n_obs, span,
       CASE WHEN span > 0 THEN num / CAST(span AS DOUBLE) END AS twa
FROM a ORDER BY user_id
"""


def q_time_weighted_daily(spark, sf_dir):
    """Bucketed time_weighted (round 8 — the continuous-aggregate
    shape): DAILY time-weighted average purchase cents per user.
    Holding intervals explode into the daily buckets they overlap
    (exact pmod floor arithmetic) with durations CLIPPED per bucket;
    one hash aggregate on (user, bucket); partial edge buckets divide
    by covered time. Integral cents keep the numerator in exact
    DECIMAL(38,0) (see q_time_weighted). DuckDB replays with
    generate_series over the same floor buckets; its HUGEINT covered
    sum is cast back to BIGINT (driver dtype invariant)."""
    e = _t(spark, sf_dir, "events")
    p = op("filter", e, {"field": "event_type", "op": "eq",
                         "value": "purchase"})
    p = op("expr", p, {"exprs": {
        "value_c": "CAST(ROUND(value * 100) AS BIGINT)"}})
    df = op("time_weighted", p, {
        "ts_field": "ts", "value_field": "value_c",
        "group_by": ["user_id"], "interval": 86400}, views={})
    df = op("select", df, {"fields": ["user_id", "bucket", "n_obs",
                                      "covered", "twa"]})
    return op("sort", df, {"fields": ["user_id", "bucket"]})


_SQL_TIME_WEIGHTED_DAILY = """
WITH p AS (SELECT user_id, epoch_ns(ts)//1000 AS e,
                  CAST(ROUND(value * 100) AS BIGINT) AS vc
           FROM events
           WHERE event_type = 'purchase'
             AND ts IS NOT NULL AND value IS NOT NULL),
o AS (SELECT user_id, e, vc,
             LEAD(e) OVER (PARTITION BY user_id
                           ORDER BY e, vc) AS ne
      FROM p),
h AS (SELECT * FROM o WHERE ne > e),
x AS (SELECT user_id, vc, e, ne,
             UNNEST(generate_series(
               e - ((e % 86400000000) + 86400000000) % 86400000000,
               (ne - 1) - (((ne - 1) % 86400000000) + 86400000000)
                 % 86400000000,
               86400000000)) AS b
      FROM h),
a AS (SELECT user_id, b AS bucket, COUNT(*) AS n_obs,
             CAST(SUM(LEAST(ne, b + 86400000000) - GREATEST(e, b))
                  AS BIGINT) AS covered,
             CAST(CAST(SUM(CAST(vc AS DECIMAL(38,0))
                           * (LEAST(ne, b + 86400000000)
                              - GREATEST(e, b)))
                       AS VARCHAR) AS DOUBLE) AS num
      FROM x GROUP BY user_id, b)
SELECT user_id, bucket, n_obs, covered,
       num / CAST(covered AS DOUBLE) AS twa
FROM a ORDER BY user_id, bucket
"""


def q_asof_nearest(spark, sf_dir):
    """For each click, the purchase CLOSEST in event time per user
    (direction='nearest', round 8 — pandas merge_asof parity;
    operators/temporal.py op_asof_join). Both directional picks come
    out of one shared window sort (one shuffle); the choice compares
    exact µs distances, ties resolve backward, equal-ts candidates by
    the directional tiebreak rules (backward max event_id, forward
    min). DuckDB replays the choice as a ROW_NUMBER over
    (distance, side, signed tiebreak)."""
    e = _hmod_events(spark, sf_dir)
    clicks = op("filter", e, {"field": "event_type", "op": "eq",
                              "value": "click"})
    purchases = op("filter", e, {"field": "event_type", "op": "eq",
                                 "value": "purchase"})
    df = op("asof_join", clicks, {
        "right": purchases, "by": ["user_id"], "left_ts": "ts",
        "values": ["value"], "right_tiebreak": "event_id",
        "how": "inner", "direction": "nearest",
    }, views={})
    return op("select", df, {"fields": ["event_id", "user_id", "r_value"]})


_SQL_ASOF_NEAREST = f"""
WITH c AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS tus
           -- NULL event-time: excluded (temporal contract)
           FROM {_HEVENTS} WHERE event_type = 'click' AND ts IS NOT NULL),
     p AS (SELECT event_id AS pid, user_id, epoch_ns(ts)//1000 AS tus,
                  value
           FROM {_HEVENTS}
           WHERE event_type = 'purchase' AND ts IS NOT NULL),
cand AS (
  SELECT c.event_id, c.user_id, p.value,
         CASE WHEN p.tus <= c.tus THEN c.tus - p.tus
              ELSE p.tus - c.tus END AS d,
         CASE WHEN p.tus <= c.tus THEN 0 ELSE 1 END AS side,
         CASE WHEN p.tus <= c.tus THEN -p.pid ELSE p.pid END AS tb
  FROM c JOIN p ON c.user_id = p.user_id),
r AS (SELECT event_id, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_id
                                ORDER BY d, side, tb) AS rn
      FROM cand)
SELECT event_id, user_id, value AS r_value FROM r WHERE rn = 1
"""


def q_asof_forward(spark, sf_dir):
    """For each click, the NEXT purchase at/after it per user
    (forward as-of — e.g. time-to-conversion analysis)."""
    e = _hmod_events(spark, sf_dir)
    clicks = op("filter", e, {"field": "event_type", "op": "eq", "value": "click"})
    purchases = op("filter", e, {"field": "event_type", "op": "eq", "value": "purchase"})
    df = op("asof_join", clicks, {
        "right": purchases, "by": ["user_id"], "left_ts": "ts",
        "values": ["value"], "right_tiebreak": "event_id", "how": "inner",
        "direction": "forward",
    }, views={})
    return op("select", df, {"fields": ["event_id", "user_id", "r_value"]})


_SQL_ASOF_FORWARD = f"""
WITH c AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS tus
           FROM {_HEVENTS} WHERE event_type = 'click'),
     p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS tus, value
           FROM {_HEVENTS} WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.event_id, c.user_id, p.value,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY p.tus ASC, p.event_id ASC) AS rn
  FROM c JOIN p ON c.user_id = p.user_id AND p.tus >= c.tus)
SELECT event_id, user_id, value AS r_value FROM pairs WHERE rn = 1
"""


def q_range_join(spark, sf_dir):
    """Clicks landing inside [purchase, purchase+6h) windows per user —
    bucketized point-in-interval join (stays a shuffled equi-join).

    Containment is SECOND-granular by operator contract (range_join
    floors timestamp bounds through epoch_seconds — sub-second bound
    precision truncates, operators/temporal.py), and the oracle must
    replay THAT arithmetic: an exact-µs oracle disagrees whenever a
    click and a window bound share a second (one such boundary pair
    appeared in the round-8 sf1 sweep: spark=21917 vs duck=21916 —
    fixture-scale luck had hidden it at sf0.01/sf0.1)."""
    e = _hmod_events(spark, sf_dir)
    clicks = op("filter", e, {"field": "event_type", "op": "eq", "value": "click"})
    purchases = op("filter", e, {"field": "event_type", "op": "eq", "value": "purchase"})
    windows = op("expr", purchases, {"replace": True, "exprs": {
        "user_id": "user_id",
        "win_id": "event_id",
        "w_start": "ts",
        "w_end": "ts + INTERVAL 6 HOURS",
    }})
    df = op("range_join", clicks, {
        "right": windows, "by": ["user_id"], "left_ts": "ts",
        "start_field": "w_start", "end_field": "w_end",
        "bucket_seconds": 21600,
    }, views={})
    return op("select", df, {"fields": ["event_id", "user_id", "r_win_id"]})


_SQL_RANGE_JOIN = f"""
WITH c AS (SELECT event_id, user_id, epoch_ms(ts)//1000 AS tsec
           FROM {_HEVENTS} WHERE event_type = 'click'),
     p AS (SELECT event_id AS win_id, user_id, epoch_ms(ts)//1000 AS s
           FROM {_HEVENTS} WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, p.win_id AS r_win_id
FROM c JOIN p
  ON c.user_id = p.user_id AND c.tsec >= p.s AND c.tsec < p.s + 21600
"""


# --------------------------------------------------------------------------
# rollup / pivot / set ops / expressions (absent from reference, SURVEY.md §2.5)
# --------------------------------------------------------------------------


def q_rollup(spark, sf_dir):
    """Customer balance by region/nation with ROLLUP subtotals —
    one pass, grouping-set expansion is map-side."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    df = op("join", c, {"right": n, "left_key": "c_nationkey",
                        "right_key": "n_nationkey", "broadcast": True,
                        "prefix": ""}, views={})
    df = op("join", df, {"right": r, "left_key": "n_regionkey",
                         "right_key": "r_regionkey", "broadcast": True,
                         "prefix": ""}, views={})
    return op("aggregate", df, {
        "grouping": "rollup", "group_by": ["r_name", "n_name"],
        "aggregates": [
            {"field": "c_acctbal", "function": "sum", "alias": "sum_bal"},
            {"field": "c_custkey", "function": "count", "alias": "n_cust"},
        ]})


_SQL_ROLLUP = """
SELECT r_name, n_name,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_bal,
       COUNT(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all four grouping-set
    combinations in one map-side-expanded pass."""
    li = _t(spark, sf_dir, "lineitem")
    df = op("aggregate", li, {
        "grouping": "cube", "group_by": ["l_returnflag", "l_linestatus"],
        "aggregates": [
            {"field": "l_quantity", "function": "sum", "alias": "sum_qty"},
            {"field": "l_orderkey", "function": "count", "alias": "n_items"},
        ]})
    return op("sort", df, {"fields": ["l_returnflag", "l_linestatus"]})


_SQL_CUBE = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — per-flag and per-status marginals in
    one pass, without the full cube's cross combinations."""
    li = _t(spark, sf_dir, "lineitem")
    df = op("aggregate", li, {
        "grouping": "grouping_sets",
        "group_by": ["l_returnflag", "l_linestatus"],
        "sets": [["l_returnflag"], ["l_linestatus"]],
        "aggregates": [
            {"field": "l_quantity", "function": "sum", "alias": "sum_qty"},
            {"field": "l_orderkey", "function": "count", "alias": "n_items"},
        ]})
    return op("sort", df, {"fields": ["l_returnflag", "l_linestatus"]})


_SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
ORDER BY l_returnflag, l_linestatus
"""


def q_dispersion(spark, sf_dir):
    """Per-group dispersion stats. stddev comes from decimal-exact
    sum/sumsq components (Spark's built-in stddev merges partial
    moments in task-completion order — run-to-run ulp drift — while
    decimal sums are partition-order-invariant and match DuckDB
    bit-for-bit); median is exact in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    df = op("sql", li, {"query": """
        WITH s AS (
          SELECT l_returnflag,
                 COUNT(*) AS n,
                 SUM(CAST(l_quantity AS DECIMAL(38,10))) AS s1,
                 SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS s2,
                 MEDIAN(l_quantity) AS med_qty
          FROM self GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               SQRT((CAST(CAST(s2 AS STRING) AS DOUBLE)
                     - CAST(CAST(s1 AS STRING) AS DOUBLE)
                       * CAST(CAST(s1 AS STRING) AS DOUBLE) / n)
                    / (n - 1)) AS sd_qty,
               med_qty
        FROM s"""}, views={})
    return op("sort", df, {"fields": ["l_returnflag"]})


_SQL_DISPERSION = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(38,10))) AS s1,
         SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS s2,
         MEDIAN(l_quantity) AS med_qty
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       SQRT((CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
             - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
               * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
            / (n - 1)) AS sd_qty,
       med_qty
FROM s
ORDER BY l_returnflag
"""


def q_pivot(spark, sf_dir):
    """Lineitem quantity pivoted by linestatus (explicit value list —
    no distinct-discovery scan at scale)."""
    li = _t(spark, sf_dir, "lineitem")
    return op("pivot", li, {
        "group_by": ["l_returnflag"], "pivot": "l_linestatus",
        "values": ["O", "F"], "prefix": "qty_",
        "aggregate": {"field": "l_quantity", "function": "sum"},
    })


_SQL_PIVOT = """
SELECT l_returnflag,
       CAST(CAST(SUM(CASE WHEN l_linestatus = 'O'
                 THEN CAST(l_quantity AS DECIMAL(38,10)) END) AS VARCHAR) AS DOUBLE) AS qty_O,
       CAST(CAST(SUM(CASE WHEN l_linestatus = 'F'
                 THEN CAST(l_quantity AS DECIMAL(38,10)) END) AS VARCHAR) AS DOUBLE) AS qty_F
FROM lineitem GROUP BY l_returnflag
"""


def q_set_except(spark, sf_dir):
    """Customers with open orders but no finished orders (EXCEPT)."""
    o = _t(spark, sf_dir, "orders")
    a = op("filter", o, {"field": "o_orderstatus", "op": "eq", "value": "O"})
    a = op("select", a, {"fields": ["o_custkey"]})
    b = op("filter", o, {"field": "o_orderstatus", "op": "eq", "value": "F"})
    b = op("select", b, {"fields": ["o_custkey"]})
    return op("except", a, {"other": b}, views={})


_SQL_SET_EXCEPT = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def q_set_intersect(spark, sf_dir):
    """Customers with both open and pending orders (INTERSECT)."""
    o = _t(spark, sf_dir, "orders")
    a = op("filter", o, {"field": "o_orderstatus", "op": "eq", "value": "O"})
    a = op("select", a, {"fields": ["o_custkey"]})
    b = op("filter", o, {"field": "o_orderstatus", "op": "eq", "value": "P"})
    b = op("select", b, {"fields": ["o_custkey"]})
    return op("intersect", a, {"other": b}, views={})


_SQL_SET_INTERSECT = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
"""


def q_expr_funcs(spark, sf_dir):
    """Scalar function surface: date parts, string ops, modular
    arithmetic — all Catalyst expressions (map + expr operators)."""
    o = _t(spark, sf_dir, "orders")
    df = op("map", o, {"field": "o_orderdate", "operation": "year", "as": "order_year"})
    df = op("map", df, {"field": "o_orderdate", "operation": "month", "as": "order_month"})
    df = op("expr", df, {"exprs": {
        "pri_code": "substring(o_orderpriority, 1, 1)",
        "total_floor": "cast(floor(o_totalprice) as bigint)",
        "key_mod": "o_orderkey % 7",
    }})
    return op("select", df, {"fields": [
        "o_orderkey", "order_year", "order_month", "pri_code",
        "total_floor", "key_mod"]})


_SQL_EXPR_FUNCS = """
SELECT o_orderkey,
       EXTRACT(YEAR FROM o_orderdate) AS order_year,
       EXTRACT(MONTH FROM o_orderdate) AS order_month,
       SUBSTRING(o_orderpriority, 1, 1) AS pri_code,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS total_floor,
       o_orderkey % 7 AS key_mod
FROM orders
"""


def q_json_extract(spark, sf_dir):
    """JSON path extraction from the events props blob — built-in
    get_json_object, no Python."""
    e = _t(spark, sf_dir, "events")
    df = op("expr", e, {"exprs": {
        "k_val": "cast(get_json_object(props, '$.k') as int)",
    }})
    return op("select", df, {"fields": ["event_id", "event_type", "k_val"]})


_SQL_JSON_EXTRACT = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_val
FROM events
"""


def q_monthly_revenue(spark, sf_dir):
    """Revenue by calendar month — date_trunc + aggregate."""
    o = _t(spark, sf_dir, "orders")
    df = op("map", o, {"field": "o_orderdate", "operation": "date_trunc_month",
                       "as": "order_month"})
    return op("aggregate", df, {
        "group_by": ["order_month"],
        "aggregates": [
            {"field": "o_totalprice", "function": "sum", "alias": "revenue"},
            {"field": "o_orderkey", "function": "count", "alias": "n_orders"},
        ]})


_SQL_MONTHLY_REVENUE = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1
"""


# --------------------------------------------------------------------------
# multi-join analytic suite (TPC-H-derived; public spec shapes Q3/Q5/
# Q6/Q10 adapted to the fixture schema). One SQL text serves BOTH
# engines: Catalyst broadcasts every dimension side automatically and
# pushes the date/flag predicates into the parquet scans, and revenue
# sums use the scaled-long exact pattern (products of 2dp money and
# 2dp discounts are exact 4dp fixed-point; ROUND(x*10000) never lands
# on .5, so Spark HALF_UP and DuckDB half-away agree).
# --------------------------------------------------------------------------

_REV = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"


def _sql_all_tables(spark, sf_dir, query):
    li = _t(spark, sf_dir, "lineitem")
    views = {name: _t(spark, sf_dir, name)
             for name in ("orders", "customer", "supplier", "nation",
                          "region", "part")}
    return op("sql", li, {"query": query, "self_name": "lineitem"},
              views=views)


_SQL_SHIPPING_PRIORITY = f"""
SELECT l_orderkey,
       SUM({_REV}) / 1e4 AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    revenue — two fact joins with a broadcast customer filter."""
    return _sql_all_tables(spark, sf_dir, _SQL_SHIPPING_PRIORITY)


_SQL_REGIONAL_VOLUME = f"""
SELECT n_name,
       SUM({_REV}) / 1e4 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_regional_volume(spark, sf_dir):
    """TPC-H Q5 shape: local-supplier revenue per ASIA nation — the
    six-table join; every dimension side broadcasts."""
    return _sql_all_tables(spark, sf_dir, _SQL_REGIONAL_VOLUME)


_SQL_REVENUE_FORECAST = """
SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT)) / 1e4
         AS potential_revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape: discount-elimination what-if — a pure
    scan+filter+global-agg whose three predicates all push into the
    parquet scan."""
    return _sql_all_tables(spark, sf_dir, _SQL_REVENUE_FORECAST)


_SQL_RETURNED_ITEMS = f"""
SELECT c_custkey, c_name, n_name,
       SUM({_REV}) / 1e4 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue."""
    return _sql_all_tables(spark, sf_dir, _SQL_RETURNED_ITEMS)


def q_embedding_stats(spark, sf_dir):
    """Per-dimension range check over the embedding column (explode
    with position -> aggregate) — the vector-column QA primitive,
    over the VALID vectors that participate in vector math (Spark
    and DuckDB disagree on NaN min/max ordering and NULL-element
    explode; q_vector_health audits the excluded mass).
    Count/min/max only: float->decimal casts drift between engines,
    so summed stats aren't oracle-exact for float32 data."""
    from blackroad_data_pipeline_spark.llmops.similarity import valid_vec
    e = _t(spark, sf_dir, "embeddings")
    e = e.filter(valid_vec("embedding"))
    df = op("explode", e, {"field": "embedding", "as": "val",
                           "with_position": True})
    df = op("aggregate", df, {"group_by": ["pos"], "aggregates": [
        {"field": "val", "function": "count", "alias": "n"},
        {"field": "val", "function": "min", "alias": "min_val"},
        {"field": "val", "function": "max", "alias": "max_val"},
    ]})
    return op("sort", df, {"fields": ["pos"]})


_SQL_EMBEDDING_STATS = f"""
WITH e AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
         UNNEST(embedding) AS val
  FROM embeddings WHERE {_VALID_EMB})
SELECT pos, COUNT(*) AS n,
       MIN(CAST(val AS DOUBLE)) AS min_val,
       MAX(CAST(val AS DOUBLE)) AS max_val
FROM e GROUP BY pos ORDER BY pos
"""


def q_running_total(spark, sf_dir):
    """Cumulative revenue over calendar months via the sql operator —
    a running window frame over exact decimal month sums. Prices are
    exact 2-decimal values, so decimal(18,2) casts are identical in
    both engines (a double->decimal(38,10) cast is NOT: sub-1e-10
    conversion drift accumulates visibly over a running sum)."""
    o = _t(spark, sf_dir, "orders")
    return op("sql", o, {"query": """
        WITH m AS (
          SELECT date_trunc('month', o_orderdate) AS order_month,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
                 COUNT(*) AS n_orders
          FROM self GROUP BY 1)
        SELECT order_month,
               CAST(CAST(rev_dec AS STRING) AS DOUBLE) AS revenue,
               n_orders,
               CAST(CAST(SUM(rev_dec) OVER (ORDER BY order_month
                         ROWS UNBOUNDED PRECEDING) AS STRING) AS DOUBLE)
                 AS cum_revenue
        FROM m ORDER BY order_month
    """}, views={})


_SQL_RUNNING_TOTAL = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT order_month,
       CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
       n_orders,
       CAST(CAST(SUM(rev_dec) OVER (ORDER BY order_month
                 ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
         AS cum_revenue
FROM m ORDER BY order_month
"""


def q_dedup_against(spark, sf_dir):
    """Incremental corpus dedup: odd-doc_id batch anti-joined against
    the even-doc_id history on the normalized-content fingerprint,
    then deduped within the batch — the continuous-crawl ingestion
    contract (llmops/dedup.py op_dedup_against)."""
    d = _t(spark, sf_dir, "documents")
    history = op("filter", op("expr", d, {"exprs": {"par": "doc_id % 2"}}),
                 {"field": "par", "op": "eq", "value": 0})
    batch = op("filter", op("expr", d, {"exprs": {"par": "doc_id % 2"}}),
               {"field": "par", "op": "eq", "value": 1})
    df = op("dedup_against", batch,
            {"field": "text", "id_field": "doc_id", "history": history,
             "broadcast": True}, views={})
    return op("select", df, {"fields": ["doc_id", "lang", "source"]})


_SQL_DEDUP_AGAINST = """
WITH fp AS (
  SELECT doc_id, lang, source,
         md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
  FROM documents),
batch AS (
  SELECT * FROM fp WHERE doc_id % 2 = 1
  AND fp NOT IN (SELECT fp FROM fp WHERE doc_id % 2 = 0))
SELECT doc_id, lang, source FROM batch
WHERE doc_id IN (SELECT min(doc_id) FROM batch GROUP BY fp)
"""


def q_bm25(spark, sf_dir):
    """Okapi BM25 keyword relevance against a fixed query
    (llmops/text.py op_bm25_score). The oracle audits the exact
    integer pipeline (dl, matched terms, summed tf — the full
    explode→filter→tf→df→join path); the float score is ln()-based
    and libm-dependent, so it is dropped here and pytest-checked
    against a Python model."""
    d = _t(spark, sf_dir, "documents")
    df = op("bm25_score", d, {"query": "customer data spark",
                              "id_field": "doc_id"})
    df = op("select", df, {"fields": ["doc_id", "dl", "n_matched_terms",
                                      "sum_tf"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_BM25 = f"""
WITH toks AS (
  SELECT doc_id, unnest({_D_TOKS_LOWER}) AS t FROM documents),
lens AS (
  SELECT doc_id, len({_D_TOKS}) AS dl FROM documents),
tf AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM toks
  WHERE t IN ('customer', 'data', 'spark') GROUP BY doc_id, t)
SELECT tf.doc_id, l.dl, COUNT(*) AS n_matched_terms,
       CAST(SUM(tf) AS BIGINT) AS sum_tf
FROM tf JOIN lens l ON l.doc_id = tf.doc_id
GROUP BY tf.doc_id, l.dl
ORDER BY tf.doc_id
"""


def q_scd2(spark, sf_dir):
    """Type-2 SCD history of each user's event_type state
    (operators/temporal.py op_scd2): consecutive same-type events
    collapse, each version carries [valid_from, valid_to) and
    is_current. One key shuffle (lag + lead share the user_id
    window). Timestamps exported as epoch micros for exact
    cross-engine compare."""
    e = _t(spark, sf_dir, "events")
    df = op("scd2", e, {"keys": ["user_id"], "attrs": ["event_type"],
                        "ts_field": "ts", "tiebreak": ["event_id"]})
    df = df.select(
        "user_id", "event_type",
        F.unix_micros("valid_from").alias("valid_from"),
        F.unix_micros("valid_to").alias("valid_to"), "is_current")
    return op("sort", df, {"fields": ["user_id", "valid_from"]})


_SQL_SCD2 = """
WITH e AS (
  SELECT user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
  -- NULL event-time: excluded (temporal contract)
  FROM events WHERE ts IS NOT NULL),
o AS (
  SELECT user_id, event_type, t,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY t, event_id) AS pv
  FROM e),
p AS (
  SELECT user_id, event_type, t, rn FROM o
  WHERE rn = 1 OR event_type IS DISTINCT FROM pv),
v AS (
  SELECT user_id, event_type, t AS valid_from, rn,
         LEAD(t) OVER (PARTITION BY user_id ORDER BY rn) AS valid_to
  FROM p)
SELECT user_id, event_type, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM v ORDER BY user_id, valid_from
"""


def q_rolling(spark, sf_dir):
    """Per-row rolling velocity features (operators/temporal.py
    op_rolling, round 8): each purchase annotated with the user's
    trailing-6h purchase count and exact cents spend — a value-based
    RANGE frame [ts − 6h, ts] over µs instants (equal-instant rows
    share the frame, deterministic in both engines), ONE key shuffle.
    Integral cents sum as plain longs; DuckDB replays the identical
    RANGE frame over the same µs order key."""
    e = _t(spark, sf_dir, "events")
    p = op("filter", e, {"field": "event_type", "op": "eq",
                         "value": "purchase"})
    p = op("expr", p, {"exprs": {
        "value_c": "CAST(ROUND(value * 100) AS BIGINT)"}})
    df = op("rolling", p, {
        "ts_field": "ts", "group_by": ["user_id"], "window": 21600,
        "aggregates": [
            {"function": "count", "alias": "n_6h"},
            {"field": "value_c", "function": "sum", "alias": "spend_6h"},
            {"field": "value_c", "function": "max", "alias": "max_6h"}]},
        views={})
    df = op("select", df, {"fields": ["event_id", "user_id", "n_6h",
                                      "spend_6h", "max_6h"]})
    return op("sort", df, {"fields": ["event_id"]})


_SQL_ROLLING = """
WITH p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS e,
                  CAST(ROUND(value * 100) AS BIGINT) AS vc
           FROM events WHERE event_type = 'purchase'
             AND ts IS NOT NULL)
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_6h,
       CAST(SUM(vc) OVER w AS BIGINT) AS spend_6h,
       MAX(vc) OVER w AS max_6h
FROM p
WINDOW w AS (PARTITION BY user_id ORDER BY e
             RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def q_pit_enrich(spark, sf_dir):
    """Point-in-time enrichment (round 8, composition — no new
    operator): each purchase joined to the scd2 VERSION of the user's
    click-profile tier that was valid at purchase time. The
    dimensional correctness problem every feature-store backfill has
    — joining facts to today's dimension leaks the future. Shape:
    op_scd2 builds [valid_from, valid_to) versions (one key shuffle),
    open current versions close at a fixed horizon literal, and
    op_range_join buckets the point-in-interval join into a plain
    equi-join. BOTH sides convert to µs LONGS first, so containment
    is exact microseconds by construction — the operator's
    second-granular timestamp path is deliberately bypassed (the
    range_join granularity lesson, q_range_join docstring)."""
    e = _hmod_events(spark, sf_dir)
    clicks = op("filter", e, {"field": "event_type", "op": "eq",
                              "value": "click"})
    clicks = op("expr", clicks, {"exprs": {
        "tier": "CAST(get_json_object(props, '$.k') AS INT) % 4"}})
    hist = op("scd2", clicks, {"keys": ["user_id"], "attrs": ["tier"],
                               "ts_field": "ts",
                               "tiebreak": ["event_id"]})
    # open (current) versions close at a horizon just past the fixture
    # event span (2024-07-01) — NOT a far-future date: range_join
    # explodes each interval into the daily buckets it spans, and a
    # year-2100 horizon would emit ~28k buckets per user for identical
    # join results (caught by the round-8 self-review: 4.16M exploded
    # rows at sf0.01, ~416M at sf1)
    hist = op("sql", hist, {"query": """
        SELECT user_id, tier,
               unix_micros(valid_from) AS vf,
               COALESCE(unix_micros(valid_to),
                        1719792000000000) AS vt
        FROM self"""}, views={})
    purchases = op("filter", e, {"field": "event_type", "op": "eq",
                                 "value": "purchase"})
    purchases = op("sql", purchases, {"query": """
        SELECT event_id, user_id, unix_micros(ts) AS pt FROM self"""},
        views={})
    df = op("range_join", purchases, {
        "right": hist, "by": ["user_id"], "left_ts": "pt",
        "start_field": "vf", "end_field": "vt",
        "bucket_seconds": 86400 * 1_000_000, "prefix": "v_",
    }, views={})
    df = op("select", df, {"fields": ["event_id", "user_id", "v_tier"]})
    return op("sort", df, {"fields": ["event_id"]})


_SQL_PIT_ENRICH = f"""
WITH c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
                  event_id,
                  CAST(json_extract_string(props, '$.k') AS INT) % 4
                    AS tier
           FROM {_HEVENTS} WHERE event_type = 'click'),
o AS (SELECT user_id, tier, t,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY t, event_id) AS rn,
             LAG(tier) OVER (PARTITION BY user_id
                             ORDER BY t, event_id) AS pv
      FROM c),
p2 AS (SELECT user_id, tier, t, rn FROM o
       WHERE rn = 1 OR tier IS DISTINCT FROM pv),
v AS (SELECT user_id, tier, t AS vf, rn,
             COALESCE(LEAD(t) OVER (PARTITION BY user_id ORDER BY rn),
                      1719792000000000) AS vt
      FROM p2),
b AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS pt
      FROM {_HEVENTS} WHERE event_type = 'purchase')
SELECT b.event_id, b.user_id, v.tier AS v_tier
FROM b JOIN v ON b.user_id = v.user_id
             AND b.pt >= v.vf AND b.pt < v.vt
ORDER BY event_id
"""


def q_heavy_hitters(spark, sf_dir):
    """Corpus heavy hitters (llmops/sketch.py op_heavy_hitters, exact
    mode): tokens with frequency > 1/60 of all tokens. One key
    shuffle + a broadcast 1-row total; share is exact long/long
    double division both engines reproduce bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    toks = op("sql", d, {"query":
                         "SELECT explode(filter(split(trim(lower(text)), "
                         "'\\\\s+'), x -> x != '')) AS token FROM self"},
              views={})
    df = op("heavy_hitters", toks, {"field": "token", "k": 60})
    return op("sort", df, {"fields": ["value"]})


def q_heavy_hitters_mg(spark, sf_dir):
    """The same profile through the Misra-Gries scale path: bounded
    per-partition candidate counters + an exact semi-join-pruned
    recount — output must EQUAL exact mode (shared oracle)."""
    d = _t(spark, sf_dir, "documents")
    toks = op("sql", d, {"query":
                         "SELECT explode(filter(split(trim(lower(text)), "
                         "'\\\\s+'), x -> x != '')) AS token FROM self"},
              views={})
    df = op("heavy_hitters", toks, {"field": "token", "k": 60,
                                    "mode": "approx", "capacity": 240})
    return op("sort", df, {"fields": ["value"]})


_SQL_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest({_D_TOKS_LOWER}) AS value FROM documents),
c AS (SELECT value, COUNT(*) AS n_occurrences FROM toks GROUP BY value),
t AS (SELECT COUNT(*) AS total FROM toks)
SELECT value, n_occurrences,
       CAST(n_occurrences AS DOUBLE) / total AS share
FROM c, t WHERE n_occurrences * 60 > total
ORDER BY value
"""


def q_distinct_sketch_gate(spark, sf_dir):
    """HLL distinct-count sketches per event_type over user_id
    (llmops/sketch.py op_distinct_sketch) gated against the exact
    count_distinct computed in the same frame: at lgk=14 the relative
    error bound is ~0.8%, so a 3%% tolerance flags only real breakage.
    The oracle predicts the within_tolerance booleans (all true)."""
    e = _t(spark, sf_dir, "events")
    sk = op("distinct_sketch", e, {"fields": ["user_id"],
                                   "group_by": ["event_type"], "lgk": 14})
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("__exact"))
    df = (sk.join(exact, "event_type")
          .select("event_type",
                  (F.abs(F.col("distinct_user_id") - F.col("__exact"))
                   <= F.col("__exact") * 0.03).alias("within_tolerance")))
    return op("sort", df, {"fields": ["event_type"]})


_SQL_DISTINCT_SKETCH_GATE = """
SELECT event_type, TRUE AS within_tolerance
FROM (SELECT DISTINCT event_type FROM events)
ORDER BY event_type
"""


def q_budget_select(spark, sf_dir):
    """Token-budget corpus selection: highest-quality documents until
    a 12k-token budget fills (distributed prefix sum — range
    partitions, per-partition offsets to the driver, parallel
    per-partition window cumsums; see op_budget_select). Oracle: the
    same running sum as a single SQL window, value-for-value
    (the long arithmetic makes the running totals exact on both
    engines)."""
    d = _t(spark, sf_dir, "documents")
    df = op("quality_score", d, {"field": "text"})
    df = op("token_count", df, {"field": "text"})
    df = op("budget_select", df, {
        "weight_field": "ws_tokens", "budget": 12000,
        "order_by": ["quality_score", "doc_id"], "descending": True,
        "as": "running_tokens"})
    df = op("select", df, {"fields": ["doc_id", "quality_score",
                                      "ws_tokens", "running_tokens"]})
    return op("sort", df, {"fields": ["running_tokens"]})


_SQL_BUDGET_SELECT = f"""
WITH q AS (
  SELECT doc_id,
         (CASE WHEN len({_D_TOKS}) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
          + CASE WHEN LENGTH(text) = 0 THEN 0.0
                 WHEN CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                      AS DOUBLE) / LENGTH(text) < 0.2 THEN 1.0 ELSE 0.0 END
          + CASE WHEN len(list_intersect({_D_TOKS_LOWER}, {_EN})) >= 1 THEN 1.0 ELSE 0.0 END
         ) / 3.0 AS quality_score,
         len({_D_TOKS}) AS ws_tokens
  FROM documents),
c AS (
  SELECT doc_id, quality_score, ws_tokens,
         CAST(SUM(ws_tokens) OVER (ORDER BY quality_score DESC, doc_id DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS running_tokens
  FROM q)
SELECT doc_id, quality_score, ws_tokens, running_tokens
FROM c WHERE running_tokens <= 12000
ORDER BY running_tokens
"""


def q_corpus_diff(spark, sf_dir):
    """Corpus snapshot diff: the previous snapshot is the even-id docs
    (with drifted text on ids divisible by 8), the current build drops
    multiples of 3 — every status class (added / removed / changed /
    unchanged) appears and DuckDB recomputes the classification
    value-for-value from the same md5 fingerprints."""
    d = _t(spark, sf_dir, "documents")
    new = op("sql", d, {"query":
                        "SELECT * FROM self WHERE doc_id % 3 <> 0"}, views={})
    old = op("sql", d, {"query": """
        SELECT doc_id,
               CASE WHEN doc_id % 8 = 0 THEN text || ' v1' ELSE text END AS text
        FROM self WHERE doc_id % 2 = 0"""}, views={})
    df = op("corpus_diff", new, {"other": old, "field": "text",
                                 "id_field": "doc_id"})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_CORPUS_DIFF = """
SELECT doc_id,
       -- NULL text: the || ' v1' drift is NULL || ' v1' = NULL in
       -- Spark SQL, so old == new null-safely -> unchanged (the
       -- group-scalar null-safe compare invariant)
       CASE WHEN doc_id % 2 <> 0 THEN 'added'
            WHEN doc_id % 3 = 0 THEN 'removed'
            WHEN doc_id % 8 = 0 AND text IS NOT NULL THEN 'changed'
            ELSE 'unchanged' END AS status
FROM documents
WHERE doc_id % 3 <> 0 OR doc_id % 2 = 0
ORDER BY doc_id
"""


def q_cdc_gate(spark, sf_dir):
    """Content-defined chunking losslessness gate (llmops/text.py
    op_chunk_cdc): for every document, concatenating the chunks in
    chunk_idx order must reconstruct the text byte-for-byte (the
    rolling-hash boundary choice is not SQL-expressible; the
    invariant catches real cut/offset/encode bugs). Also audits
    n_chunks >= 1 for non-empty docs. Oracle predicts the booleans."""
    d = _t(spark, sf_dir, "documents")
    ch = op("chunk_cdc", d, {"mask_bits": 6, "min_size": 24,
                             "max_size": 512})
    rec = (ch.groupBy("doc_id", "text")
           .agg(F.count(F.lit(1)).alias("n_chunks"),
                F.concat_ws("", F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("chunk_idx", "chunk_text"))),
                    lambda s: s["chunk_text"])).alias("__rec")))
    df = rec.select(
        "doc_id",
        (F.col("__rec") == F.coalesce(F.col("text"), F.lit("")))
        .alias("reconstruction_ok"),
        (F.col("n_chunks") >= 1).alias("has_chunks"))
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_CDC_GATE = """
SELECT doc_id, TRUE AS reconstruction_ok, TRUE AS has_chunks
FROM documents WHERE text IS NOT NULL AND text <> ''
ORDER BY doc_id
"""


def q_bpe_gate(spark, sf_dir):
    """BPE losslessness gate (llmops/tokenize.py): a merge table
    trained on the corpus vocabulary, applied to every document, must
    reconstruct the whitespace tokenization exactly — concatenating
    the subword pieces (each word terminated by the </w> marker)
    equals the lowercased token stream. The merge loop itself is not
    SQL-expressible; this invariant catches real encoder bugs
    (dropped symbols, wrong merge order) and the oracle predicts the
    per-doc booleans (all true)."""
    d = _t(spark, sf_dir, "documents")
    merges = op("train_bpe", d, {"field": "text", "num_merges": 60,
                                 "min_count": 2})
    df = op("bpe_apply", d, {"field": "text", "merges": merges})
    df = op("expr", df, {"exprs": {
        "reconstruction_ok":
            "concat_ws('', bpe_tokens) = concat_ws('', transform("
            "filter(split(trim(lower(text)), '\\\\s+'), x -> x != ''),"
            " w -> concat(w, '</w>')))"}})
    df = op("select", df, {"fields": ["doc_id", "reconstruction_ok"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_BPE_GATE = """
SELECT doc_id, TRUE AS reconstruction_ok FROM documents ORDER BY doc_id
"""


def q_sample_pps(spark, sf_dir):
    """Exact-size weighted sampling (op_sample_pps): exactly 100
    draws from documents, probability proportional to n_chars, over
    the reproducible md5 order — pure integer systematic PPS that
    DuckDB replays bit-for-bit (multiplicities included)."""
    d = _t(spark, sf_dir, "documents")
    # NULL weights are a config/data ERROR by the op's guard (silent
    # drops would bias sampling) — the contract pre-filters them, the
    # `ts IS NOT NULL` pin pattern (round-11 NULL-text sweep)
    d = op("filter", d, {"field": "n_chars", "op": "notnull"})
    df = op("sample_pps", d, {"weight_field": "n_chars", "n": 100,
                              "id_field": "doc_id"})
    df = op("select", df, {"fields": ["doc_id", "n_copies"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_SAMPLE_PPS = """
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE n_chars IS NOT NULL),
c AS (
  SELECT doc_id, w,
         SUM(w) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM w),
t AS (SELECT SUM(w) AS tot FROM w)
SELECT doc_id,
       CAST((cum * 100) // tot - ((cum - w) * 100) // tot
            AS BIGINT) AS n_copies
FROM c, t
WHERE (cum * 100) // tot - ((cum - w) * 100) // tot >= 1
ORDER BY doc_id
"""


def q_sample_pps_group(spark, sf_dir):
    """Per-group exact-size weighted sampling: exactly 20 draws per
    language, proportional to n_chars — plain windows over one group
    shuffle (no driver pass), integer-exact like the global variant."""
    d = _t(spark, sf_dir, "documents")
    d = op("filter", d, {"field": "n_chars", "op": "notnull"})
    df = op("sample_pps", d, {"weight_field": "n_chars", "n": 20,
                              "id_field": "doc_id", "group_by": ["lang"]})
    df = op("select", df, {"fields": ["doc_id", "lang", "n_copies"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_SAMPLE_PPS_GROUP = """
WITH w AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE n_chars IS NOT NULL),
c AS (
  SELECT doc_id, lang, w,
         SUM(w) OVER (PARTITION BY lang ORDER BY h, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY lang) AS tot
  FROM w)
SELECT doc_id, lang,
       CAST((cum * 20) // tot - ((cum - w) * 20) // tot
            AS BIGINT) AS n_copies
FROM c
WHERE tot > 0
  AND (cum * 20) // tot - ((cum - w) * 20) // tot >= 1
ORDER BY doc_id
"""


def q_url_parts(spark, sf_dir):
    """URL decomposition (llmops/text.py op_url_parts) over URLs
    synthesized deterministically from the documents table (the
    fixtures carry no URL column): host/path/query/registered-domain
    extraction must match DuckDB's regexp replay character-for-
    character. Pure codegen, zero shuffle before the contract sort."""
    d = _t(spark, sf_dir, "documents")
    # the query param synthesizes from SOURCE (never NULL): a NULL
    # lang would NULL Spark's whole concat while DuckDB's || only
    # NULLs the parts it touches (round-11 NULL-text sweep)
    d = op("expr", d, {"exprs": {
        "url": "concat('https://www.', source, '.example.com/docs/',"
               " doc_id, '?src=', source)"}})
    df = op("url_parts", d, {"params": ["src"]})
    df = op("select", df, {"fields": [
        "doc_id", "url_protocol", "url_host", "url_path", "url_query",
        "url_registered_domain", "param_src"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_URL_PARTS = """
SELECT doc_id,
       'https' AS url_protocol,
       'www.' || source || '.example.com' AS url_host,
       '/docs/' || doc_id AS url_path,
       'src=' || source AS url_query,
       'example.com' AS url_registered_domain,
       source AS param_src
FROM documents
ORDER BY doc_id
"""


def q_k_anonymity(spark, sf_dir):
    """k-anonymity screen (op_k_anonymity, tag mode) over the
    (c_nationkey, c_mktsegment) quasi-identifier pair: one window
    shuffle proves each equivalence-class size; DuckDB recomputes
    sizes and flags value-for-value."""
    c = _t(spark, sf_dir, "customer")
    df = op("k_anonymity", c, {
        "quasi_identifiers": ["c_nationkey", "c_mktsegment"], "k": 40})
    df = op("select", df, {"fields": ["c_custkey", "eq_class_size",
                                      "k_anonymous"]})
    return op("sort", df, {"fields": ["c_custkey"]})


_SQL_K_ANONYMITY = """
SELECT c_custkey,
       COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
         AS eq_class_size,
       COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) >= 40
         AS k_anonymous
FROM customer
ORDER BY c_custkey
"""


def q_l_diversity(spark, sf_dir):
    """l-diversity screen (op_l_diversity, tag mode): each
    (c_nationkey, c_mktsegment) class must carry >= 3 distinct
    account-balance bands. The distinct count runs as dense_rank +
    partition MAX over ONE shuffle; DuckDB recomputes it as a plain
    COUNT(DISTINCT) GROUP BY + re-join — two independent routes to
    the same exact counts."""
    c = _t(spark, sf_dir, "customer")
    d = op("expr", c, {"exprs": {
        "bal_band": "cast(floor(c_acctbal / 1000) as bigint)"}})
    df = op("l_diversity", d, {
        "quasi_identifiers": ["c_nationkey", "c_mktsegment"],
        "sensitive": "bal_band", "l": 3})
    df = op("select", df, {"fields": ["c_custkey", "bal_band",
                                      "sensitive_diversity", "l_diverse"]})
    return op("sort", df, {"fields": ["c_custkey"]})


_SQL_L_DIVERSITY = """
WITH d AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
  FROM customer),
g AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(DISTINCT bal_band) AS sensitive_diversity
  FROM d GROUP BY c_nationkey, c_mktsegment)
SELECT d.c_custkey, d.bal_band, g.sensitive_diversity,
       g.sensitive_diversity >= 3 AS l_diverse
FROM d JOIN g USING (c_nationkey, c_mktsegment)
ORDER BY c_custkey
"""


def _drift_halves(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    d = op("expr", d, {"exprs": {"par": "doc_id % 2"}})
    cur = op("filter", d, {"field": "par", "op": "eq", "value": 1})
    base = op("filter", d, {"field": "par", "op": "eq", "value": 0})
    return cur, base


def q_category_drift(spark, sf_dir):
    """Snapshot drift of the documents lang mix (op_category_drift,
    per_category mode): two word-counts meet in a null-safe FULL
    OUTER join, shares divide by broadcast 1-row totals — exact
    long/long divisions DuckDB replays bit-for-bit."""
    cur, base = _drift_halves(spark, sf_dir)
    df = op("category_drift", cur, {"baseline": base, "field": "lang"},
            views={})
    return op("sort", df, {"fields": ["category"]})


_SQL_CATEGORY_DRIFT = """
WITH cur AS (SELECT lang, COUNT(*) AS n_cur FROM documents
             WHERE doc_id % 2 = 1 GROUP BY lang),
base AS (SELECT lang, COUNT(*) AS n_base FROM documents
         WHERE doc_id % 2 = 0 GROUP BY lang),
j AS (SELECT COALESCE(cur.lang, base.lang) AS category,
             COALESCE(n_cur, 0) AS n_cur, COALESCE(n_base, 0) AS n_base
      FROM cur FULL OUTER JOIN base
        ON cur.lang IS NOT DISTINCT FROM base.lang),
t AS (SELECT CAST(SUM(n_cur) AS BIGINT) AS tc,
             CAST(SUM(n_base) AS BIGINT) AS tb FROM j)
SELECT category, n_cur, n_base,
       CAST(n_cur AS DOUBLE) / tc AS share_cur,
       CAST(n_base AS DOUBLE) / tb AS share_base,
       CAST(n_cur AS DOUBLE) / tc - CAST(n_base AS DOUBLE) / tb
         AS share_diff
FROM j, t
ORDER BY category
"""


def q_category_drift_summary(spark, sf_dir):
    """The one-row drift gate: category counts + total variation
    distance. TVD's numerator is exact integer arithmetic
    (sum |n_cur*total_base - n_base*total_cur|, decimal(38,0) /
    HUGEINT on the two sides) with ONE final double division — no
    float accumulation anywhere, so both engines agree exactly."""
    cur, base = _drift_halves(spark, sf_dir)
    return op("category_drift", cur, {
        "baseline": base, "field": "lang", "mode": "summary"}, views={})


_SQL_CATEGORY_DRIFT_SUMMARY = """
WITH cur AS (SELECT lang, COUNT(*) AS n_cur FROM documents
             WHERE doc_id % 2 = 1 GROUP BY lang),
base AS (SELECT lang, COUNT(*) AS n_base FROM documents
         WHERE doc_id % 2 = 0 GROUP BY lang),
j AS (SELECT COALESCE(n_cur, 0) AS n_cur, COALESCE(n_base, 0) AS n_base
      FROM cur FULL OUTER JOIN base
        ON cur.lang IS NOT DISTINCT FROM base.lang),
t AS (SELECT CAST(SUM(n_cur) AS BIGINT) AS tc,
             CAST(SUM(n_base) AS BIGINT) AS tb FROM j)
SELECT COUNT(*) AS n_categories,
       CAST(SUM(CASE WHEN n_base = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN n_cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gone,
       CAST(SUM(ABS(CAST(n_cur AS HUGEINT) * tb
                    - CAST(n_base AS HUGEINT) * tc)) AS DOUBLE)
         / (2e0 * tc * tb) AS tvd
FROM j, t
GROUP BY tc, tb
"""


def q_bucketize(spark, sf_dir):
    """Equal-frequency binning (op_bucketize): customer balances into
    4 per-segment quantile buckets. Boundaries use the repo's PINNED
    rank definition (max(ceil(q*n),1)) and bucket membership is a
    strict-comparison count, so DuckDB replays the assignment
    bit-for-bit via the same rank arithmetic."""
    c = _t(spark, sf_dir, "customer")
    df = op("bucketize", c, {"field": "c_acctbal", "n_buckets": 4,
                             "group_by": ["c_mktsegment"]})
    df = op("select", df, {"fields": ["c_custkey", "c_mktsegment",
                                      "bucket"]})
    return op("sort", df, {"fields": ["c_custkey"]})


_SQL_BUCKETIZE = """
WITH nn AS (
  SELECT c_mktsegment AS g, c_acctbal AS val FROM customer
  WHERE c_acctbal IS NOT NULL),
ranked AS (
  SELECT g, val, ROW_NUMBER() OVER (PARTITION BY g ORDER BY val) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM nn),
bnds AS (
  SELECT DISTINCT g, val AS b FROM ranked JOIN range(1, 4) r(j)
    ON rn = greatest((j * n + 3) // 4, 1))
SELECT c.c_custkey, c.c_mktsegment,
       CASE WHEN c.c_acctbal IS NULL THEN NULL ELSE
         (SELECT COUNT(*) FROM bnds
          WHERE bnds.g IS NOT DISTINCT FROM c.c_mktsegment
            AND c.c_acctbal > bnds.b) END
         AS bucket
FROM customer c ORDER BY c_custkey
"""


def q_sequence_assemble(spark, sf_dir):
    """User-journey assembly (op_sequence_assemble): each user's
    event types concatenated in (ts, event_id) order — one shuffle,
    map-side partial collect, array_sort orders inside the struct.
    DuckDB replays with ORDER BY-qualified string_agg."""
    e = _t(spark, sf_dir, "events")
    df = op("sequence_assemble", e, {
        "key": ["user_id"], "ts_field": "ts",
        "token_field": "event_type", "tiebreak": ["event_id"]},
        views={})
    return op("sort", df, {"fields": ["user_id"]})


_SQL_SEQUENCE_ASSEMBLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       string_agg(event_type, ' ' ORDER BY ts, event_id) AS sequence
-- NULL event-time: excluded (temporal contract)
FROM events WHERE ts IS NOT NULL GROUP BY user_id ORDER BY user_id
"""


def q_ks_drift(spark, sf_dir):
    """Numeric drift gate (op_ks_drift): exact two-sample KS
    statistic over parity-split customer balances. ECDFs run as a
    distributed prefix sum; the numerator is exact integer
    (|cum_cur*n_base - cum_base*n_cur| in decimal(38,0) / HUGEINT),
    the max is ONE TakeOrdered row, and the single division is the
    only float op — both engines agree bit-for-bit."""
    c = _t(spark, sf_dir, "customer")
    c = op("expr", c, {"exprs": {"par": "c_custkey % 2"}})
    cur = op("filter", c, {"field": "par", "op": "eq", "value": 1})
    base = op("filter", c, {"field": "par", "op": "eq", "value": 0})
    return op("ks_drift", cur, {"baseline": base, "field": "c_acctbal"},
              views={})


_SQL_KS_DRIFT = """
WITH cur AS (SELECT c_acctbal AS v FROM customer
             WHERE c_custkey % 2 = 1 AND c_acctbal IS NOT NULL),
base AS (SELECT c_acctbal AS v FROM customer
         WHERE c_custkey % 2 = 0 AND c_acctbal IS NOT NULL),
counts AS (
  SELECT v, SUM(ic) AS c_cur, SUM(ib) AS c_base FROM (
    SELECT v, 1 AS ic, 0 AS ib FROM cur
    UNION ALL SELECT v, 0, 1 FROM base) GROUP BY v),
cums AS (
  SELECT v,
         CAST(SUM(c_cur) OVER (ORDER BY v) AS BIGINT) AS cum_cur,
         CAST(SUM(c_base) OVER (ORDER BY v) AS BIGINT) AS cum_base
  FROM counts),
t AS (SELECT COUNT(*) AS nc FROM cur),
b AS (SELECT COUNT(*) AS nb FROM base),
nums AS (
  SELECT v, ABS(CAST(cum_cur AS HUGEINT) * nb
                - CAST(cum_base AS HUGEINT) * nc) AS num
  FROM cums, t, b)
SELECT nc AS n_cur, nb AS n_base, v AS ks_at,
       CAST(num AS DOUBLE) / (CAST(nc AS DOUBLE) * nb) AS ks
FROM nums, t, b ORDER BY num DESC, v LIMIT 1
"""


def q_merge_agg(spark, sf_dir):
    """Incremental aggregate maintenance (operators/relational.py
    op_merge_agg): the lineitem fact is split by orderkey parity into
    'history' and 'new batch'; the batch's partials merge into the
    history store WITHOUT re-reading history rows, and the result
    must equal the one-shot whole-table aggregate — which is exactly
    what the DuckDB oracle computes. sum_fixed keeps the money sum
    exact-long so the merge is float-order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    hist = op("expr", li, {"exprs": {"par": "l_orderkey % 2"}})
    old = op("filter", hist, {"field": "par", "op": "eq", "value": 0})
    new = op("filter", hist, {"field": "par", "op": "eq", "value": 1})
    cfg = {"group_by": ["l_returnflag"], "aggregates": [
        {"field": "l_quantity", "function": "count", "alias": "n_items"},
        {"field": "l_extendedprice", "function": "sum_fixed", "scale": 2,
         "alias": "sum_price_c"},
        {"field": "l_quantity", "function": "min", "alias": "min_qty"},
        {"field": "l_quantity", "function": "max", "alias": "max_qty"},
    ]}
    store = op("merge_agg", old, cfg, views={})
    df = op("merge_agg", new, {**cfg, "store": store}, views={})
    return op("sort", df, {"fields": ["l_returnflag"]})


_SQL_MERGE_AGG = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_c,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_triangles(spark, sf_dir):
    """Exact triangle count over the parts-co-purchase graph (parts
    appearing in the same order; llmops/dedup.py op_triangle_count).
    Degree-ordered orientation bounds the wedge join at m^1.5 —
    skew-proof on power-law graphs. The oracle replays the count with
    an id-ordered 3-way join (orientation-independent result)."""
    li = _hmod_lineitem(spark, sf_dir)
    # edge generation WITHOUT a fact-fact self-join: one groupBy
    # shuffle collects each order's part set, pairs explode from the
    # sorted array (slice from i+2 keeps src < dst exactly once).
    # basket cap (round-12 zipf-skew lever): co-purchase edge
    # generation is QUADRATIC in an order's distinct-part count — a
    # zipf-hot order holding 38% of lineitem carries a ~15k-part
    # basket (~10^8 edges, ~10^12 wedges; the sweep ran unbounded for
    # 40 minutes before this cap). Orders past 256 distinct parts are
    # data artifacts, not purchase behavior — exclude them, exactly
    # like max_postings drops boilerplate fingerprints. Byte-identical
    # on the driver fixtures (max basket there is ~7).
    # round 13: the pair explode is GENERATOR-based (posexplode +
    # slice-explode LATERAL VIEWs) instead of nested transform()
    # lambdas building structs — Spark evaluates higher-order lambdas
    # INTERPRETED per element, and the struct-builder was the measured
    # edge-gen bottleneck (2.08 s -> 1.29 s at sf0.1, identical edge
    # set verified by exceptAll both ways). Same pairs: src = ps[i],
    # dst ranges over the elements after i.
    edges = op("sql", li, {"query": """
        SELECT DISTINCT src, dst
        FROM (SELECT ps FROM (
                SELECT array_sort(collect_set(l_partkey)) AS ps
                FROM self GROUP BY l_orderkey)
              WHERE size(ps) <= 256)
        LATERAL VIEW posexplode(ps) t1 AS i, src
        LATERAL VIEW explode(slice(ps, i + 2, size(ps))) t2 AS dst
    """}, views={})
    return op("triangle_count", edges, {})


_SQL_TRIANGLES = f"""
WITH ok AS (
  SELECT l_orderkey FROM {_HLINE}
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_partkey) <= 256),
e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM {_HLINE} a JOIN {_HLINE} b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN ok ON ok.l_orderkey = a.l_orderkey)
SELECT COUNT(*) AS n_triangles
FROM e e1
JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
"""


def q_funnel_timing(spark, sf_dir):
    """Time-to-convert funnel metrics (op_funnel mode=timing): per
    transition, how many users converted and the EXACT summed
    whole-second delay (floor-to-second each step time, then
    subtract — the order DuckDB replays). Consumers derive mean =
    sum/n; no float rides the contract."""
    e = _t(spark, sf_dir, "events")
    df = op("funnel", e, {"steps": ["view", "click", "purchase"],
                          "key": "user_id", "mode": "timing"})
    return op("sort", df, {"fields": ["step_idx"]})


_SQL_FUNNEL_TIMING = """
WITH u1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  -- ts IS NOT NULL: a user whose ONLY view events carry NULL ts
  -- still forms a group here (MIN = NULL) and was counted as
  -- reaching step 1, where the op's _drop_null_ts contract never
  -- admits the rows. Latent until the round-12 skew+NULL clone:
  -- only the zipf tail makes one-view-and-it-is-NULL users likely.
  WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY user_id),
u2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN u1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > u1.t1
  GROUP BY e.user_id),
u3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN u2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
  GROUP BY e.user_id)
SELECT 2 AS step_idx, 'view' AS from_step, 'click' AS to_step,
       (SELECT COUNT(*) FROM u2) AS n_converted,
       COALESCE((SELECT CAST(SUM(
           epoch_us(CAST(t2 AS TIMESTAMP)) // 1000000
         - epoch_us(CAST(t1 AS TIMESTAMP)) // 1000000) AS BIGINT)
         FROM u2 JOIN u1 USING (user_id)), 0) AS sum_seconds
UNION ALL
SELECT 3, 'click', 'purchase',
       (SELECT COUNT(*) FROM u3),
       COALESCE((SELECT CAST(SUM(
           epoch_us(CAST(t3 AS TIMESTAMP)) // 1000000
         - epoch_us(CAST(t2 AS TIMESTAMP)) // 1000000) AS BIGINT)
         FROM u3 JOIN u2 USING (user_id)), 0)
ORDER BY step_idx
"""


def q_triangles_per_node(spark, sf_dir):
    """Per-node triangle participation over a thinned co-purchase
    graph (parts divisible by 5 — keeps the wedge path affordable at
    the contract SF): the wedge-enumeration branch of
    op_triangle_count, oracle-replayed by crediting all three corners
    of the id-ordered 3-way join."""
    li = _t(spark, sf_dir, "lineitem")
    # same 256-part basket cap as q_triangles (applied to the thinned
    # part set — the quadratic is in the post-thin basket)
    # generator-based pair explode (see q_triangles — round 13)
    edges = op("sql", li, {"query": """
        SELECT DISTINCT src, dst
        FROM (SELECT ps FROM (
                SELECT array_sort(collect_set(l_partkey)) AS ps
                FROM self WHERE l_partkey % 5 = 0 GROUP BY l_orderkey)
              WHERE size(ps) <= 256)
        LATERAL VIEW posexplode(ps) t1 AS i, src
        LATERAL VIEW explode(slice(ps, i + 2, size(ps))) t2 AS dst
    """}, views={})
    df = op("triangle_count", edges, {"per_node": True})
    return op("sort", df, {"fields": ["node"]})


_SQL_TRIANGLES_PER_NODE = """
WITH ok AS (
  SELECT l_orderkey FROM lineitem WHERE l_partkey % 5 = 0
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_partkey) <= 256),
e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN ok ON ok.l_orderkey = a.l_orderkey
  WHERE a.l_partkey % 5 = 0 AND b.l_partkey % 5 = 0),
t AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
c AS (
  SELECT x AS node FROM t
  UNION ALL SELECT y FROM t
  UNION ALL SELECT z FROM t)
SELECT node, COUNT(*) AS n_triangles
FROM c GROUP BY node ORDER BY node
"""


def q_expect_fk(spark, sf_dir):
    """Referential-integrity expectation (op_expect foreign_key):
    lineitem rows checked against a deliberately truncated orders key
    set (o_orderkey < 10000), tag mode — DuckDB recomputes the exact
    violation arrays. The FK attach is a broadcast left join on the
    distinct ref keys."""
    li = _hmod_lineitem(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    refs = op("filter", orders, {"field": "o_orderkey", "op": "lt",
                                 "value": 10000})
    df = op("expect", li, {"on_fail": "tag", "checks": [
        {"type": "foreign_key", "field": "l_orderkey", "ref": refs,
         "ref_field": "o_orderkey"},
    ]}, views={})
    df = op("expr", df, {"exprs": {
        "violations_s": "array_join(violations, ',')"}})
    df = op("select", df, {"fields": ["l_orderkey", "l_linenumber",
                                      "l_partkey", "violations_s"]})
    df = op("rename", df, {"mapping": {"violations_s": "violations"}})
    return op("sort", df, {"fields": ["l_orderkey", "l_linenumber",
                                      "l_partkey"]})


_SQL_EXPECT_FK = f"""
SELECT l_orderkey, l_linenumber, l_partkey,
       CASE WHEN l_orderkey IS NULL
                 OR l_orderkey IN (SELECT o_orderkey FROM orders
                                   WHERE o_orderkey < 10000)
            THEN ''
            ELSE 'foreign_key_l_orderkey' END AS violations
FROM {_HLINE}
ORDER BY l_orderkey, l_linenumber, l_partkey
"""


def q_expect(spark, sf_dir):
    """Row-level data-quality expectations in tag mode over events:
    every check compiles into one projection (plus one shuffle for
    the uniqueness proof), and DuckDB recomputes the per-row
    violation arrays value-for-value."""
    e = _t(spark, sf_dir, "events")
    df = op("expect", e, {"on_fail": "tag", "checks": [
        {"type": "in_range", "field": "value", "min": 0, "max": 100},
        {"type": "in_set", "field": "event_type",
         "values": ["click", "view", "signup", "purchase"]},
        {"type": "not_null", "field": "props"},
        {"type": "unique", "field": "event_id"},
        {"type": "matches", "field": "props", "pattern": "^\\{"},
    ]})
    df = op("expr", df, {"exprs": {
        "violations_s": "array_join(violations, ',')"}})
    df = op("select", df, {"fields": ["event_id", "violations_s"]})
    df = op("rename", df, {"mapping": {"violations_s": "violations"}})
    return op("sort", df, {"fields": ["event_id"]})


_SQL_EXPECT = r"""
WITH base AS (
WITH u AS (
  SELECT event_id, event_type, value, props,
         COUNT(*) OVER (PARTITION BY event_id) AS n_id
  FROM events)
SELECT event_id,
       list_filter(list_value(
         CASE WHEN NOT (value BETWEEN 0 AND 100 OR value IS NULL)
              THEN 'in_range_value' END,
         CASE WHEN NOT (event_type IN ('click','view','signup','purchase')
                        OR event_type IS NULL)
              THEN 'in_set_event_type' END,
         CASE WHEN props IS NULL THEN 'not_null_props' END,
         CASE WHEN NOT (n_id = 1 OR event_id IS NULL)
              THEN 'unique_event_id' END,
         CASE WHEN NOT (regexp_matches(props, '^\{') OR props IS NULL)
              THEN 'matches_props' END
       ), x -> x IS NOT NULL) AS raw_violations
FROM u)
SELECT event_id,
       COALESCE(array_to_string(raw_violations, ','), '') AS violations
FROM base
ORDER BY event_id
"""


def q_fuzzy_join(spark, sf_dir):
    """Edit-distance record-linkage join over 30-char document
    prefixes (PassJoin segment filtering + exact levenshtein verify;
    recall is a theorem so DuckDB's brute-force levenshtein join must
    match value-for-value). The subset modulus is knob-derived
    (4 * _PSCALE, quarter at the default scale): the OPERATOR is
    collision-bounded since the round-11 PassJoin rewrite, but the
    ORACLE is all-pairs levenshtein by design, so sf10 sweeps must
    shrink the compared subset like every other quadratic-oracle
    pair."""
    d = _t(spark, sf_dir, "documents")
    pref = op("sql", d, {"query":
                         "SELECT doc_id, substring(text, 1, 30) AS name "
                         f"FROM self WHERE doc_id % {4 * _PSCALE} = 0"},
              views={})
    df = op("fuzzy_join", pref, {"field": "name", "id_field": "doc_id",
                                 "max_distance": 2})
    return op("sort", df, {"fields": ["id_a", "id_b"]})


_SQL_FUZZY_JOIN = f"""
WITH p AS (
  SELECT doc_id, substring(coalesce(text, ''), 1, 30) AS name
  FROM documents WHERE doc_id % {4 * _PSCALE} = 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE levenshtein(a.name, b.name) <= 2
ORDER BY id_a, id_b
"""


def q_dedup_lines(spark, sf_dir):
    """Corpus-global line dedup (C4 move): documents are re-lined at
    8-word boundaries (the fixture's word-salad has no newlines), then
    every >=10-char line that occurs anywhere else in the corpus
    survives only at its smallest (doc_id, line_idx). DuckDB replays
    the same first-occurrence rule with a window over the exploded
    lines."""
    d = _hmod_docs(spark, sf_dir)
    lined = op("sql", d, {"query": r"""
        SELECT doc_id,
               regexp_replace(coalesce(text, ''),
                              '((?:\\S+ ){7}\\S+) ', '$1\n') AS text
        FROM self"""}, views={})
    df = op("dedup_lines", lined, {"field": "text", "id_field": "doc_id",
                                   "min_chars": 10, "as": "text_dedup"})
    df = op("select", df, {"fields": ["doc_id", "text_dedup"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_DEDUP_LINES = rf"""
WITH src AS (
  SELECT doc_id,
         regexp_replace(coalesce(text, ''), '((?:\S+ ){{7}}\S+) ',
                        '\1' || chr(10), 'g') AS text
  FROM {_HDOCS}),
ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM src),
l AS (SELECT doc_id, unnest(list_zip(range(1, len(arr) + 1), arr)) AS r FROM ls),
lines AS (
  SELECT doc_id, CAST(r[1] AS BIGINT) AS idx,
         trim(CAST(r[2] AS VARCHAR)) AS line
  FROM l),
marked AS (
  SELECT doc_id, idx, line,
         CASE WHEN length(line) >= 10
              THEN row_number() OVER (PARTITION BY line ORDER BY doc_id, idx)
              ELSE 1 END AS rn
  FROM lines)
SELECT d.doc_id,
       coalesce(t.text_dedup, '') AS text_dedup
FROM {_HDOCS} d
LEFT JOIN (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text_dedup
  FROM marked WHERE rn = 1 GROUP BY doc_id) t USING (doc_id)
ORDER BY d.doc_id
"""


def q_strip_markup(spark, sf_dir):
    """Markup stripping over synthesized HTML-wrapped text (the
    fixture corpus is plain): tags out, entities decoded, whitespace
    collapsed — identical regex chain in both engines."""
    d = _t(spark, sf_dir, "documents")
    wrapped = op("sql", d, {"query": """
        SELECT doc_id,
               concat('<p class="x">', coalesce(text, ''), '</p> &amp; <br/> tail &lt;ok&gt;')
                 AS text
        FROM self"""}, views={})
    df = op("strip_markup", wrapped, {"field": "text", "as": "clean"})
    df = op("select", df, {"fields": ["doc_id", "clean"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_STRIP_MARKUP = r"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           regexp_replace(concat('<p class="x">', COALESCE(text, ''),
                                 '</p> &amp; <br/> tail &lt;ok&gt;'),
                          '<[^>]*>', ' ', 'g'),
           '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', ''''),
         '[^\S\n]+', ' ', 'g'),
         ' ?\n ?', chr(10), 'g'),
         '\n+', chr(10), 'g'),
         '^\s+|\s+$', '', 'g') AS clean
FROM documents
ORDER BY doc_id
"""


def q_cap_per_group(spark, sf_dir):
    """Per-source document cap (anti-monoculture guard): at most 10
    docs per (lang, source), selected by the stable md5-hash order so
    the kept set is an unbiased reproducible sample
    (operators/relational.py op_cap_per_group)."""
    d = _t(spark, sf_dir, "documents")
    df = op("cap_per_group", d, {"partition_by": ["lang", "source"],
                                 "n": 10, "id_field": "doc_id",
                                 "salt": "r2"})
    return op("select", df, {"fields": ["doc_id", "lang", "source"]})


_SQL_CAP_PER_GROUP = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || chr(31) || 'r2')) AS rn
  FROM documents)
WHERE rn <= 10
"""


def q_histogram(spark, sf_dir):
    """Fixed-width price histogram over lineitem: 22 × 5000-wide bins,
    values clamped into the edge bins — O(bins) output no matter the
    input size (operators/relational.py op_histogram)."""
    li = _t(spark, sf_dir, "lineitem")
    df = op("histogram", li, {"field": "l_extendedprice", "lo": 0.0,
                              "hi": 110000.0, "n_bins": 22})
    return op("sort", df, {"fields": ["bin"]})


_SQL_HISTOGRAM = """
WITH b AS (
  SELECT LEAST(GREATEST(CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0)
                                   / 5000.0) AS BIGINT), 0), 21) AS bin
  FROM lineitem WHERE l_extendedprice IS NOT NULL)
SELECT bin, 0e0 + bin * 5e3 AS bin_start, COUNT(*) AS n
FROM b GROUP BY bin ORDER BY bin
"""


def q_clean_lines(spark, sf_dir):
    """C4-style line cleaning: the fixture corpus is single-line, so a
    deterministic pre-step breaks it at ' a ' separators; then lines
    under 6 words or containing 'customer' are dropped and docs left
    under 20 words are removed (llmops/text.py op_clean_lines)."""
    d = _t(spark, sf_dir, "documents")
    d = op("expr", d, {"exprs": {"lined": "replace(text, ' a ', '\n')"}})
    df = op("clean_lines", d, {"field": "lined", "as": "text", "min_words": 6,
                               "min_doc_words": 20,
                               "blacklist": ["customer"]})
    return op("select", df, {"fields": ["doc_id", "text"]})


_SQL_CLEAN_LINES = """
WITH d AS (
  SELECT doc_id, replace(text, ' a ', chr(10)) AS t FROM documents),
c AS (
  SELECT doc_id,
         array_to_string(list_filter(
           list_transform(string_split(t, chr(10)), x -> trim(x)),
           x -> len(list_filter(regexp_split_to_array(trim(x), '\\s+'),
                                y -> y <> '')) >= 6
                AND NOT contains(lower(x), 'customer')), chr(10)) AS text
  FROM d)
SELECT doc_id, text FROM c
WHERE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                      y -> y <> '')) >= 20
"""


def q_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality signal (llmops/text.py op_unigram_logprob).
    The oracle compares the EXACT integer columns (n_tokens,
    sum_corpus_count — the full explode→count→join→agg path); the
    float mean_logprob is ln()-based and engine-libm-dependent, so it
    is dropped here and value-checked in pytest against a Python
    model."""
    d = _t(spark, sf_dir, "documents")
    df = op("unigram_logprob", d, {"field": "text", "id_field": "doc_id"})
    return op("select", df, {"fields": ["doc_id", "n_tokens",
                                        "sum_corpus_count"]})


_SQL_UNIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id, unnest({_D_TOKS_LOWER}) AS token FROM documents),
vocab AS (
  SELECT token, COUNT(*) AS c FROM toks GROUP BY token)
SELECT d.doc_id,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       COALESCE(s.sum_corpus_count, 0) AS sum_corpus_count
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN (
  SELECT toks.doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(vocab.c) AS BIGINT) AS sum_corpus_count
  FROM toks JOIN vocab USING (token)
  GROUP BY toks.doc_id) s USING (doc_id)
"""


def q_stream_join(spark, sf_dir):
    """Interval (stream-stream-shaped) join: purchases within 30 min
    AFTER each click, per user (streaming/ops.py op_stream_join). The
    driver runs the batch execution; tests/test_streaming.py proves
    the identical config produces the same rows as a real
    watermarked stream-stream join."""
    e = _hmod_events(spark, sf_dir)
    clicks = op("filter", e, {"field": "event_type", "op": "eq",
                              "value": "click"})
    clicks = op("select", clicks, {"fields": ["event_id", "user_id", "ts"]})
    purchases = op("filter", e, {"field": "event_type", "op": "eq",
                                 "value": "purchase"})
    purchases = op("select", purchases,
                   {"fields": ["event_id", "user_id", "ts"]})
    df = op("stream_join", clicks,
            {"right": purchases, "by": ["user_id"], "before": 0,
             "after": 1800}, views={})
    return op("select", df, {"fields": ["event_id", "r_event_id", "user_id"]})


_SQL_STREAM_JOIN = f"""
WITH c AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
           FROM {_HEVENTS} WHERE event_type = 'click'),
     p AS (SELECT event_id AS r_event_id, user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS t
           FROM {_HEVENTS} WHERE event_type = 'purchase')
SELECT c.event_id, p.r_event_id, c.user_id
FROM c JOIN p ON c.user_id = p.user_id
             AND p.t >= c.t AND p.t <= c.t + CAST(1800 AS BIGINT) * 1000000
"""


def q_stream_join_stream(spark, sf_dir):
    """The interval join executed as a REAL stream-stream join
    (VERDICT r3 #6): clicks and purchases are two watermarked file
    streams over the events parquet; the watermark-bounded inner join
    emits each match as it arrives (append mode), so the drained
    result set equals the batch execution — shared oracle with
    stream_join. State stays bounded by watermark + interval horizon,
    the production property at 100 TB event rates."""
    from blackroad_data_pipeline_spark.sources.readers import nanos_to_timestamp
    from blackroad_data_pipeline_spark.streaming.ops import (
        read_events_stream, run_stream_to_memory)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = nanos_to_timestamp(
        read_events_stream(spark, f"{sf_dir}/events.parquet"), "ts")
    hm = f" AND event_id % {_HMOD} = 0" if _PSCALE > 1 else ""
    clicks = stream.filter("event_type = 'click'" + hm).select(
        "event_id", "user_id", "ts")
    purchases = stream.filter("event_type = 'purchase'" + hm).select(
        "event_id", "user_id", "ts")
    joined = op("stream_join", clicks,
                {"right": purchases, "by": ["user_id"], "before": 0,
                 "after": 1800, "watermark": "30 minutes"}, views={})
    assert joined.isStreaming
    run_stream_to_memory(joined, "stream_join_stream_out",
                         output_mode="append", shuffle_partitions=8)
    df = spark.table("stream_join_stream_out")
    df = op("select", df, {"fields": ["event_id", "r_event_id", "user_id"]})
    return op("sort", df, {"fields": ["event_id", "r_event_id"]})


def q_zorder(spark, sf_dir):
    """Z-order layout key over (l_partkey, l_suppkey) — 16-bit
    quantization + Morton interleave, pure integer bitwise ops
    (operators/relational.py op_zorder). The oracle reproduces the
    magic-number spread bit-for-bit."""
    li = _hmod_lineitem(spark, sf_dir)
    df = op("zorder", li, {"cols": ["l_partkey", "l_suppkey"], "bits": 16,
                           "bounds": {"l_partkey": [0.0, 20000.0],
                                      "l_suppkey": [0.0, 1000.0]}})
    return op("select", df, {"fields": ["l_orderkey", "l_linenumber",
                                        "zvalue"]})


_SQL_ZORDER = f"""
WITH q AS (
  SELECT l_orderkey, l_linenumber,
    LEAST(GREATEST(CAST(floor((CAST(l_partkey AS DOUBLE) - 0.0)
                              / 20000.0 * 65535.0) AS BIGINT), 0), 65535) AS a,
    LEAST(GREATEST(CAST(floor((CAST(l_suppkey AS DOUBLE) - 0.0)
                              / 1000.0 * 65535.0) AS BIGINT), 0), 65535) AS b
  FROM {_HLINE}),
s1 AS (SELECT l_orderkey, l_linenumber,
        (a | (a << 16)) & 281470681808895 AS a, (b | (b << 16)) & 281470681808895 AS b FROM q),
s2 AS (SELECT l_orderkey, l_linenumber,
        (a | (a << 8)) & 71777214294589695 AS a, (b | (b << 8)) & 71777214294589695 AS b FROM s1),
s3 AS (SELECT l_orderkey, l_linenumber,
        (a | (a << 4)) & 1085102592571150095 AS a, (b | (b << 4)) & 1085102592571150095 AS b FROM s2),
s4 AS (SELECT l_orderkey, l_linenumber,
        (a | (a << 2)) & 3689348814741910323 AS a, (b | (b << 2)) & 3689348814741910323 AS b FROM s3),
s5 AS (SELECT l_orderkey, l_linenumber,
        (a | (a << 1)) & 6148914691236517205 AS a, (b | (b << 1)) & 6148914691236517205 AS b FROM s4)
SELECT l_orderkey, l_linenumber, a | (b << 1) AS zvalue FROM s5
"""


def q_key_skew(spark, sf_dir):
    """Shuffle-key skew diagnosis on events.user_id
    (operators/relational.py op_key_skew_stats): one row of the
    distribution stats that pick a partitioning strategy.
    percentiles='exact' (the pinned rank max(ceil(q*k), 1) over the
    counts table) — engine-native quantiles are banned from oracle
    pairs; the old approx_percentile/quantile_disc pair was the same
    latent boundary-rank hazard that bit `quantiles` at sf0.1."""
    e = _t(spark, sf_dir, "events")
    return op("key_skew_stats", e, {"keys": ["user_id"],
                                    "percentiles": "exact"})


_SQL_KEY_SKEW = """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS rn,
             COUNT(*) OVER () AS k
      FROM c)
SELECT (SELECT COUNT(*) FROM c) AS n_keys,
       (SELECT CAST(SUM(n) AS BIGINT) FROM c) AS n_rows,
       (SELECT MAX(n) FROM c) AS max_count,
       MIN(CASE WHEN rn = GREATEST(
           (500000000 * k + 999999999) // 1000000000, 1)
           THEN n END) AS p50_count,
       MIN(CASE WHEN rn = GREATEST(
           (990000000 * k + 999999999) // 1000000000, 1)
           THEN n END) AS p99_count,
       (SELECT CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) FROM c)
         AS max_share
FROM r
"""


def q_hash_columns(spark, sf_dir):
    """Salted-sha256 pseudonymization of the source column
    (llmops/text.py op_hash_columns) — joinability-preserving,
    truncated to a 16-hex (64-bit) prefix."""
    d = _t(spark, sf_dir, "documents")
    df = op("hash_columns", d, {"fields": ["source"], "salt": "k1",
                                "truncate": 16})
    return op("select", df, {"fields": ["doc_id", "source"]})


_SQL_HASH_COLUMNS = """
SELECT doc_id,
       CASE WHEN source IS NOT NULL
            THEN substr(sha256(source || chr(31) || 'k1'), 1, 16) END AS source
FROM documents
"""


def q_ntile(spark, sf_dir):
    """Decile assignment of orders by total price within each order
    status (window op: ntile + percent_rank; WindowExec partitioned by
    status — no global sort)."""
    o = _t(spark, sf_dir, "orders")
    df = op("window", o, {"function": "ntile", "n": 10,
                          "partition_by": ["o_orderstatus"],
                          "order_by": ["o_totalprice", "o_orderkey"],
                          "alias": "decile"})
    df = op("window", df, {"function": "percent_rank",
                           "partition_by": ["o_orderstatus"],
                           "order_by": ["o_totalprice", "o_orderkey"],
                           "alias": "pct_rank"})
    return op("select", df, {"fields": ["o_orderkey", "o_orderstatus",
                                        "decile", "pct_rank"]})


_SQL_NTILE = """
SELECT o_orderkey, o_orderstatus,
       NTILE(10) OVER w AS decile,
       PERCENT_RANK() OVER w AS pct_rank
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice, o_orderkey)
"""


def q_first_last(spark, sf_dir):
    """ANSI FIRST_VALUE/LAST_VALUE over an explicit whole-partition
    frame (RESPECT NULLS default — round-3 ADVICE fix: was
    ignorenulls=True, silently diverging from SQL; the ignore-nulls
    variant is opt-in via ``ignore_nulls: true`` and pytest-covered)."""
    o = _t(spark, sf_dir, "orders")
    w = {"partition_by": ["o_orderstatus"],
         "order_by": ["o_totalprice", "o_orderkey"],
         "frame": "rows", "frame_bounds": ["unbounded", "unbounded"]}
    df = op("window", o, {**w, "function": "first_value",
                          "field": "o_totalprice", "alias": "cheapest"})
    df = op("window", df, {**w, "function": "last_value",
                           "field": "o_totalprice", "alias": "priciest"})
    return op("select", df, {"fields": ["o_orderkey", "o_orderstatus",
                                        "cheapest", "priciest"]})


_SQL_FIRST_LAST = """
SELECT o_orderkey, o_orderstatus,
       FIRST_VALUE(o_totalprice) OVER w AS cheapest,
       LAST_VALUE(o_totalprice) OVER w AS priciest
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_ts_features(spark, sf_dir):
    """Per-user time-series features over events in ONE window
    partitioning: previous value (lag) and a trailing 4-row moving
    average (rows frame) — the feature-engineering shape for
    sequence models; one shuffle on user_id serves both. Float
    parity: a ROWS frame is an ORDERED small sum, so both engines
    evaluate the same additions in the same order (verified
    bit-exact over 10k rows at sf0.01)."""
    e = _t(spark, sf_dir, "events")
    cfg = {"partition_by": ["user_id"], "order_by": ["ts", "event_id"]}
    df = op("window", e, {**cfg, "function": "lag", "field": "value",
                          "alias": "prev_value"})
    df = op("window", df, {**cfg, "function": "avg", "field": "value",
                           "frame": "rows", "frame_bounds": [-3, 0],
                           "alias": "ma4"})
    return op("select", df, {"fields": ["event_id", "user_id",
                                        "prev_value", "ma4"]})


_SQL_TS_FEATURES = """
SELECT event_id, user_id,
       LAG(value) OVER w AS prev_value,
       AVG(value) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ma4
FROM events
-- NULLS FIRST replays Spark's ascending-order default (DuckDB
-- defaults to NULLS LAST): the generic window operator ORDERS
-- NULL keys rather than excluding them (it is not a temporal op)
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
"""


def q_fillna_dropna(spark, sf_dir):
    """NULL hygiene over events: drop rows with NULL user_id, fill
    NULL value with 0.0 and NULL props with '{}' — filter + projection
    only, IsNotNull pushes to the scan."""
    e = _t(spark, sf_dir, "events")
    df = op("dropna", e, {"subset": ["user_id"]})
    df = op("fillna", df, {"values": {"value": 0.0, "props": "{}"}})
    return op("select", df, {"fields": ["event_id", "user_id", "value",
                                        "props"]})


_SQL_FILLNA_DROPNA = """
SELECT event_id, user_id,
       COALESCE(value, 0.0) AS value,
       COALESCE(props, '{}') AS props
FROM events
WHERE user_id IS NOT NULL
"""


def q_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality signal (llmops/text.py op_bigram_logprob).
    As with unigram_logprob, the oracle compares the EXACT integer
    twin columns (the full bigram-explode -> count -> double-join ->
    agg path); the ln float is pytest-checked vs a Python model."""
    d = _t(spark, sf_dir, "documents")
    df = op("bigram_logprob", d, {"field": "text", "id_field": "doc_id"})
    return op("select", df, {"fields": ["doc_id", "n_bigrams",
                                        "sum_bigram_count",
                                        "sum_prefix_count"]})


_SQL_BIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id, {_D_TOKS_LOWER} AS t FROM documents),
bigs AS (
  SELECT doc_id,
         unnest(list_transform(range(len(t) - 1),
                               i -> t[i+1] || ' ' || t[i+2])) AS bigram
  FROM toks WHERE len(t) >= 2),
uc AS (SELECT token, COUNT(*) AS c1
      FROM (SELECT unnest(t) AS token FROM toks) GROUP BY token),
bc AS (SELECT bigram, COUNT(*) AS c12 FROM bigs GROUP BY bigram)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       COALESCE(s.sum_bigram_count, 0) AS sum_bigram_count,
       COALESCE(s.sum_prefix_count, 0) AS sum_prefix_count
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN (
  SELECT bigs.doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(bc.c12) AS BIGINT) AS sum_bigram_count,
         CAST(SUM(uc.c1) AS BIGINT) AS sum_prefix_count
  FROM bigs JOIN bc USING (bigram)
  JOIN uc ON uc.token = split_part(bigram, ' ', 1)
  GROUP BY bigs.doc_id) s USING (doc_id)
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher rule-based quality gate (llmops/text.py
    op_gopher_quality): seven per-rule flags + the conjunction, all
    boolean/int outputs so the oracle compare is exact. Thresholds
    tuned so the fixture corpus splits on word count, mean word
    length, and the two-stopword requirement."""
    d = _t(spark, sf_dir, "documents")
    df = op("gopher_quality", d, {
        "field": "text", "min_words": 30, "max_words": 120,
        "min_mean_word_len": 3.0, "max_mean_word_len": 4.0,
        "min_stop_hits": 2, "stopwords": ["the", "a"]})
    return op("select", df, {"fields": [
        "doc_id", "ok_n_words", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_bullet_lines", "ok_ellipsis_lines", "ok_alpha_words",
        "ok_stopwords", "gopher_pass"]})


_SQL_GOPHER_QUALITY = f"""
WITH d AS (
  SELECT doc_id,
         COALESCE(text, '') AS t,
         {_D_TOKS.replace("trim(text)", "trim(COALESCE(text, ''))")} AS toks,
         list_transform(string_split(COALESCE(text, ''), chr(10)),
                        x -> trim(x)) AS lines
  FROM documents),
m AS (
  SELECT doc_id, t, toks, lines,
         len(toks) AS n_words,
         len(lines) AS n_lines,
         CASE WHEN len(toks) > 0 THEN
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / len(toks) END AS mean_wl,
         length(t) - length(replace(t, '#', ''))
           + len(regexp_split_to_array(t, '\\.\\.\\.|…')) - 1 AS n_symbols,
         len(list_filter(lines, x -> regexp_matches(x, '^[-*•]\\s')))
           AS bullet_lines,
         len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)$')))
           AS ellipsis_lines,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
           AS alpha_words,
         len(list_filter(['the', 'a'],
             w -> list_contains(list_transform(toks, x -> lower(x)), w)))
           AS stop_hits
  FROM d),
f AS (
  SELECT doc_id,
         n_words BETWEEN 30 AND 120 AS ok_n_words,
         COALESCE(mean_wl BETWEEN 3.0 AND 4.0, FALSE) AS ok_mean_word_len,
         CASE WHEN n_words > 0
              THEN CAST(n_symbols AS DOUBLE) / n_words <= 0.1
              ELSE FALSE END AS ok_symbol_ratio,
         CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9 AS ok_bullet_lines,
         CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3
           AS ok_ellipsis_lines,
         CASE WHEN n_words > 0
              THEN CAST(alpha_words AS DOUBLE) / n_words >= 0.8
              ELSE FALSE END AS ok_alpha_words,
         stop_hits >= 2 AS ok_stopwords
  FROM m)
SELECT doc_id, ok_n_words, ok_mean_word_len, ok_symbol_ratio,
       ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words, ok_stopwords,
       (ok_n_words AND ok_mean_word_len AND ok_symbol_ratio
        AND ok_bullet_lines AND ok_ellipsis_lines AND ok_alpha_words
        AND ok_stopwords) AS gopher_pass
FROM f
"""


def q_dup_spans(spark, sf_dir):
    """Cross-doc duplicated-span stats (llmops/dedup.py
    op_dup_span_stats): 5-token windows duplicated across >=2 docs,
    per-doc window + covered-token counts. Integer counts + an exact
    bigint/bigint double division — oracle-exact."""
    d = _t(spark, sf_dir, "documents")
    df = op("dup_span_stats", d, {
        "field": "text", "id_field": "doc_id", "span": 5, "min_docs": 2})
    return op("select", df, {"fields": [
        "doc_id", "n_tokens", "n_windows", "dup_windows", "dup_tokens",
        "dup_token_fraction"]})


_SQL_DUP_SPANS = f"""
WITH d AS (
  SELECT doc_id, {_D_TOKS.replace("trim(text)", "trim(COALESCE(text, ''))")}
           AS toks
  FROM documents),
w AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i:i+4], ' ')) AS h
  FROM d, UNNEST(range(1, len(toks) - 3)) AS u(i)
  WHERE len(toks) >= 5),
dup AS (
  SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
dw AS (SELECT w.* FROM w JOIN dup USING (h)),
cov AS (
  SELECT doc_id, COUNT(DISTINCT cp) AS dup_tokens
  FROM (SELECT doc_id, UNNEST(range(pos, pos + 5)) AS cp FROM dw)
  GROUP BY doc_id),
per AS (
  SELECT d.doc_id,
         len(d.toks) AS n_tokens,
         COALESCE(wc.n_windows, 0) AS n_windows,
         COALESCE(dc.dup_windows, 0) AS dup_windows,
         COALESCE(cov.dup_tokens, 0) AS dup_tokens
  FROM d
  LEFT JOIN (SELECT doc_id, COUNT(*) AS n_windows FROM w
             GROUP BY doc_id) wc USING (doc_id)
  LEFT JOIN (SELECT doc_id, COUNT(*) AS dup_windows FROM dw
             GROUP BY doc_id) dc USING (doc_id)
  LEFT JOIN cov USING (doc_id))
SELECT doc_id, n_tokens, n_windows, dup_windows, dup_tokens,
       CASE WHEN n_tokens > 0
            THEN CAST(dup_tokens AS DOUBLE) / n_tokens
            ELSE 0.0 END AS dup_token_fraction
FROM per
"""


def q_embedding_outlier(spark, sf_dir):
    """Per-label centroid-similarity scoring (llmops/similarity.py
    op_embedding_outlier). The centroid is a scaled-long fixed-point
    sum — exact integer arithmetic both engines reproduce bit-for-bit
    (float->decimal casts have repr ties, q_embedding_stats) — and
    cosine against the sum equals cosine against the mean."""
    e = _t(spark, sf_dir, "embeddings")
    df = op("embedding_outlier", e, {
        "field": "embedding", "dim": 64, "by": "label"})
    return op("select", df, {"fields": ["vec_id", "label", "centroid_sim"]})


_SQL_EMBEDDING_OUTLIER = f"""
WITH s AS (
  -- centroid over VALID vectors only (valid_vec contract: Spark
  -- floor(NaN) long-casts to 0 where DuckDB would NaN the sum)
  SELECT label, i,
         SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT))
           AS sd
  FROM embeddings, UNNEST(range(1, 65)) AS u(i)
  WHERE {_VALID_EMB}
  GROUP BY label, i),
c AS (
  SELECT label, list(CAST(sd AS DOUBLE) ORDER BY i) AS centroid
  FROM s GROUP BY label)
SELECT vec_id, embeddings.label AS label,
  CASE WHEN {_VALID_EMB} THEN
    list_sum(list_transform(list_zip(embedding, centroid),
                            x -> CAST(x[1] AS DOUBLE) * x[2]))
    / (sqrt(list_sum(list_transform(embedding,
                                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(centroid, x -> x * x))))
  END AS centroid_sim
-- NULL-safe joinback (CLAUDE.md group-scalar invariant): a NULL
-- label is a real group on both engines; USING (label) would drop it.
FROM embeddings LEFT JOIN c ON embeddings.label IS NOT DISTINCT FROM c.label
"""


def q_importance_weight(spark, sf_dir):
    """DSIR importance weighting (llmops/text.py op_importance_weight)
    with the English subset as the target domain. The oracle compares
    the exact integer twin columns (n_tokens, sum_target_count,
    sum_raw_count — the full two-vocab explode→merge→join→agg path);
    the ln-ratio float is libm-dependent and pytest-checked against a
    Python model instead."""
    d = _t(spark, sf_dir, "documents")
    target = d.filter(F.col("lang") == "en")
    df = op("importance_weight", d,
            {"field": "text", "id_field": "doc_id", "target": target})
    return op("select", df, {"fields": [
        "doc_id", "n_tokens", "sum_target_count", "sum_raw_count"]})


_SQL_IMPORTANCE_WEIGHT = f"""
WITH toks AS (
  SELECT doc_id, unnest({_D_TOKS_LOWER}) AS token FROM documents),
raw_vocab AS (
  SELECT token, COUNT(*) AS cr FROM toks GROUP BY token),
tgt_vocab AS (
  SELECT token, COUNT(*) AS ct
  FROM (SELECT unnest({_D_TOKS_LOWER}) AS token FROM documents
        WHERE lang = 'en')
  GROUP BY token),
vocab AS (
  SELECT COALESCE(r.token, t.token) AS token,
         COALESCE(r.cr, 0) AS cr, COALESCE(t.ct, 0) AS ct
  FROM raw_vocab r FULL OUTER JOIN tgt_vocab t USING (token))
SELECT d.doc_id,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       COALESCE(s.sum_target_count, 0) AS sum_target_count,
       COALESCE(s.sum_raw_count, 0) AS sum_raw_count
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN (
  SELECT toks.doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(vocab.ct) AS BIGINT) AS sum_target_count,
         CAST(SUM(vocab.cr) AS BIGINT) AS sum_raw_count
  FROM toks JOIN vocab USING (token)
  GROUP BY toks.doc_id) s USING (doc_id)
"""


def q_quality_classifier_gate(spark, sf_dir):
    """Model-based quality filter gate (llmops/classify.py
    op_quality_classifier — the CCNet/GPT-3 hashed-BOW + logistic
    regression curation step). Training isn't SQL-expressible, so the
    gate asserts an invariant DuckDB can state as constants: on a
    label that is a deterministic function of one token (contains
    'customer'), the classifier must recover the rule — train
    accuracy >= 0.98 (measured 1.0 at sf0.001/0.01/0.1; the margin
    absorbs float-reduction noise)."""
    d = _t(spark, sf_dir, "documents")
    # a NULL text makes a NULL label, which the trainer refuses by
    # contract — pre-filter (round-11 NULL-text sweep)
    d = op("filter", d, {"field": "text", "op": "notnull"})
    d = d.withColumn("lab", F.col("text").contains("customer"))
    # max_iter=12 for the GATE only (round 14, VERDICT r13 #6): the
    # label is separable, so L-BFGS converges long before the default
    # 25 iterations — measured accuracy 1.0 at sf0.001/0.01/0.1 with
    # 12 (0.996 even at 4, all far above the 0.98 floor the oracle
    # replays). Every other quality_classifier consumer keeps the
    # default-25 semantics.
    out = op("quality_classifier", d,
             {"field": "text", "label_field": "lab", "max_iter": 12})
    return out.agg(
        F.count(F.lit(1)).alias("n_eval"),
        (F.sum(F.when(F.col("quality_pred") == F.col("lab"), 1)
               .otherwise(0)) >= F.count(F.lit(1)) * F.lit(0.98))
        .alias("accuracy_floor_met"))


_SQL_QUALITY_CLASSIFIER_GATE = """
-- the pipeline `filter notnull` op treats '' as NULL too (reference
-- parity, main.py:201) — the oracle must replay BOTH exclusions
-- (round-12 text-garble lever: planted empty strings caught the gap)
SELECT COUNT(*) AS n_eval, TRUE AS accuracy_floor_met
FROM documents WHERE text IS NOT NULL AND text <> ''
"""


def q_split_paragraphs(spark, sf_dir):
    """Separator-based paragraph splitting (llmops/text.py
    op_split_paragraphs). The fixture corpus is single-line, so a
    deterministic pre-step inserts blank-line breaks at ' a '
    separators (same trick as clean_lines); fragments under 10 chars
    drop."""
    d = _t(spark, sf_dir, "documents")
    d = op("expr", d, {"exprs": {"broken": "replace(text, ' a ', '\n\n')"}})
    df = op("split_paragraphs", d, {
        "field": "broken", "min_chars": 10, "as": "paragraph"})
    return op("select", df, {"fields": [
        "doc_id", "para_idx", "paragraph", "para_chars", "para_tokens"]})


_SQL_SPLIT_PARAGRAPHS = """
WITH d AS (
  SELECT doc_id,
         list_filter(
           list_transform(
             regexp_split_to_array(replace(text, ' a ', chr(10) || chr(10)),
                                   '\\n\\s*\\n'),
             x -> trim(x)),
           x -> length(x) >= 10) AS paras
  FROM documents)
SELECT doc_id,
       generate_subscripts(paras, 1) - 1 AS para_idx,
       UNNEST(paras) AS paragraph,
       length(UNNEST(paras)) AS para_chars,
       len(list_filter(regexp_split_to_array(trim(UNNEST(paras)), '\\s+'),
                       y -> y <> '')) AS para_tokens
FROM d
"""


def q_dup_spans_remove(spark, sf_dir):
    """Exact-substring REMOVAL (llmops/dedup.py op_dup_span_stats
    mode=remove): tokens covered by a cross-doc duplicated 5-token
    window are cut everywhere except the minimum-id canonical copy;
    text reassembles space-joined. Fully value-checked — the oracle
    reproduces the canonical-owner policy and the positional rebuild.
    Heavy-pair knob: see the note on _SQL_DUP_SPANS_REMOVE."""
    d = _hmod_docs(spark, sf_dir)
    df = op("dup_span_stats", d, {
        "field": "text", "id_field": "doc_id", "span": 5, "min_docs": 2,
        "mode": "remove"})
    return op("select", df, {"fields": ["doc_id", "text"]})


# dup_spans_remove rides the heavy-pair knob (round 11): the REMOVE
# oracle's positional rebuild (rem explode + NOT EXISTS anti-join over
# every covered token position) needs ~90 GB of DuckDB memory SOLO at
# 500k docs (r11 measured: green at ORACLE_DUCK_MEM=90GB, ENOSPC on
# >78 GB spill at 20-40GB) — oracle-compute class; the stats-mode
# sibling (dup_spans) fits the budget and stays full-corpus.
_SQL_DUP_SPANS_REMOVE = f"""
WITH d AS (
  SELECT doc_id, {_D_TOKS.replace("trim(text)", "trim(COALESCE(text, ''))")}
           AS toks, text AS orig
  FROM {_HDOCS}),
w AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i:i+4], ' ')) AS h
  FROM d, UNNEST(range(1, len(toks) - 3)) AS u(i)
  WHERE len(toks) >= 5),
dupmin AS (
  SELECT h, MIN(doc_id) AS keeper
  FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
rem AS (
  SELECT DISTINCT w.doc_id, cp
  FROM w JOIN dupmin USING (h), UNNEST(range(w.pos, w.pos + 5)) AS u(cp)
  WHERE w.doc_id <> dupmin.keeper),
touched AS (SELECT DISTINCT doc_id FROM rem),
toks_pos AS (
  SELECT doc_id, CAST(generate_subscripts(toks, 1) AS BIGINT) AS p,
         UNNEST(toks) AS tok
  FROM d WHERE doc_id IN (SELECT doc_id FROM touched)),
kept AS (
  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.p) AS rebuilt
  FROM toks_pos t
  WHERE NOT EXISTS (SELECT 1 FROM rem
                    WHERE rem.doc_id = t.doc_id AND rem.cp = t.p)
  GROUP BY t.doc_id)
SELECT d.doc_id,
       CASE WHEN d.doc_id IN (SELECT doc_id FROM touched)
            THEN COALESCE(k.rebuilt, '') ELSE d.orig END AS text
FROM d LEFT JOIN kept k USING (doc_id)
"""


_SQL_SMALL_QTY_REVENUE = """
WITH agg AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sq,
         COUNT(*) AS nq
  FROM lineitem GROUP BY l_partkey)
SELECT COUNT(*) AS n_small,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / 700 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN agg ON agg.l_partkey = lineitem.l_partkey
WHERE p_brand = 'Brand#12'
  AND 5 * CAST(l_quantity AS BIGINT) * nq < sq
"""


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue), decorrelated:
    the correlated `l_quantity < 0.2 * avg(l_quantity per part)`
    subquery becomes a per-part aggregate joined back, and the
    fractional comparison is restated in EXACT integer arithmetic
    (5·q·n < Σq ⟺ q < 0.2·avg) so no float average ever crosses
    engines. One shared SQL text serves Spark and DuckDB."""
    return _sql_all_tables(spark, sf_dir, _SQL_SMALL_QTY_REVENUE)


_SQL_LARGE_VOLUME_ORDERS = """
SELECT c_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 150)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY total_cents DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def q_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): the IN-subquery on a
    grouped HAVING plans as a shuffled semi join against the
    aggregate; quantities sum as exact bigints and the price exports
    as cents."""
    return _sql_all_tables(spark, sf_dir, _SQL_LARGE_VOLUME_ORDERS)


_SQL_ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

def q_order_priority_check(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking, shipdate-lag
    adaptation — the fixtures carry no commitdate): count one-quarter
    orders per priority having at least one line shipped >60 days
    after order placement. The correlated EXISTS with a non-equi
    outer reference decorrelates to ONE left-semi hash join on
    l_orderkey (DecorrelateInnerQuery) — at scale, orders shuffles
    once against a shipdate-filtered lineitem projection."""
    return _sql_all_tables(spark, sf_dir, _SQL_ORDER_PRIORITY_CHECK)


_SQL_VOLUME_SHIPPING = """
WITH shipped AS (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year, CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS rev
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(rev) AS BIGINT) / 1e4 AS revenue
FROM shipped
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between a nation pair):
    six-table join where both nation dims broadcast; revenue summed
    as exact 1e-4-scaled bigints, year extracted as BIGINT in both
    engines so the driver's dtype-sensitive compare holds."""
    return _sql_all_tables(spark, sf_dir, _SQL_VOLUME_SHIPPING)


_SQL_MARKET_SHARE = """
WITH rev AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS volume, n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO')
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
            AS BIGINT)
       / CAST(SUM(volume) AS BIGINT) AS mkt_share
FROM rev GROUP BY o_year ORDER BY o_year
"""

def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share inside ASIA for PROMO
    parts): conditional-sum ratio per year. Both sums stay exact
    bigints; the single division is the only float op, identical
    IEEE-754 in both engines for <2^53 operands."""
    return _sql_all_tables(spark, sf_dir, _SQL_MARKET_SHARE)


_SQL_PRODUCT_PROFIT = """
WITH profit AS (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) - CAST(ROUND(p_retailprice * 100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT) * 100 AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%')
SELECT nation, o_year, CAST(SUM(amount) AS BIGINT) / 1e4 AS sum_profit
FROM profit GROUP BY nation, o_year ORDER BY nation, o_year DESC
"""

def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit; p_retailprice*qty as
    the cost leg — the fixtures carry no partsupp): the LIKE filter
    prunes part FIRST, so the five-way join fans out from a reduced
    build side; amounts are exact 1e-4-scaled bigints (cents*100)."""
    return _sql_all_tables(spark, sf_dir, _SQL_PRODUCT_PROFIT)


_SQL_PRIORITY_LINES = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus ORDER BY l_linestatus
"""

def q_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape (late-shipment priority accounting,
    l_linestatus standing in for the absent shipmode): one fact-fact
    join, conditional counts cast to BIGINT (DuckDB SUM would emit
    pandas-hostile HUGEINT otherwise)."""
    return _sql_all_tables(spark, sf_dir, _SQL_PRIORITY_LINES)


_SQL_PROMO_REVENUE = """
SELECT 1e2 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) ELSE 0 END)
             AS BIGINT)
       / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""

def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (promotion revenue share): one month of
    lineitem against broadcast part, a conditional/total exact-bigint
    sum pair, one final IEEE division — scan-dominated at scale."""
    return _sql_all_tables(spark, sf_dir, _SQL_PROMO_REVENUE)


_SQL_PARTS_SUPPLIER_COUNT = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
"""

def q_parts_supplier_count(spark, sf_dir):
    """TPC-H Q16 shape (supplier breadth per part attribute;
    lineitem stands in for the absent partsupp relation):
    COUNT(DISTINCT l_suppkey) after a NOT-IN anti join against the
    negative-balance supplier list. The distinct aggregation shuffles
    on the (brand, type, size) group key with the suppkey carried —
    two-phase partial distinct keeps the exchange narrow."""
    return _sql_all_tables(spark, sf_dir, _SQL_PARTS_SUPPLIER_COUNT)


_SQL_DISCOUNTED_REVENUE = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""

def q_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape (disjunctive brand/size/quantity
    predicates): the OR-of-ANDs filter evaluates AFTER the
    l_partkey=p_partkey broadcast join (predicates span both sides);
    per-branch quantity bounds still prune lineitem at the scan."""
    return _sql_all_tables(spark, sf_dir, _SQL_DISCOUNTED_REVENUE)


_SQL_WAITING_SUPPLIERS = """
WITH late AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey),
per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_supp,
         CAST(SUM(is_late) AS BIGINT) AS n_late
  FROM late GROUP BY l_orderkey)
SELECT s_name, COUNT(*) AS numwait
FROM late
JOIN per_order USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""

def q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept multi-supplier orders
    waiting; shipdate-lag late proxy — no commitdate/receiptdate in
    the fixtures): re-expressed WITHOUT the classic correlated
    EXISTS/NOT EXISTS double self-scan — one (order, supplier)
    late-flag aggregate feeds a per-order supplier/late count, and
    the winner filter is a plain join — two key shuffles total, the
    scale-correct decorrelation."""
    return _sql_all_tables(spark, sf_dir, _SQL_WAITING_SUPPLIERS)


_SQL_SALES_OPPORTUNITY = """
WITH pos AS (
  SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
         c_custkey, c_name
  FROM customer WHERE c_acctbal > 0),
t AS (
  SELECT CAST(SUM(bal_c) AS BIGINT) AS tot, COUNT(*) AS n FROM pos)
SELECT substring(c_name, 18, 1) AS cust_group,
       COUNT(*) AS numcust,
       CAST(SUM(bal_c) AS BIGINT) AS totacctbal_cents
FROM pos, t
WHERE bal_c * n > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY cust_group
ORDER BY cust_group
"""

def q_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (dormant high-balance customers; name
    digit standing in for the absent phone country code): the
    above-average filter is EXACT integer arithmetic (bal_cents * n >
    total_cents — no cross-engine float mean), the anti join on
    recent orders decorrelates to a left-anti hash join, and the
    1-row totals frame broadcasts."""
    return _sql_all_tables(spark, sf_dir, _SQL_SALES_OPPORTUNITY)


_SQL_CUSTOMER_DISTRIBUTION = """
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution; the
    priority filter stands in for the absent o_comment): LEFT join
    with the extra predicate IN the join condition (a WHERE would
    turn it inner and lose zero-order customers), then a double
    aggregation — per-customer count, then a histogram of counts.
    Both COUNTs are native BIGINT in both engines. At scale the
    first agg shuffles on o_custkey; the second is tiny."""
    return _sql_all_tables(spark, sf_dir, _SQL_CUSTOMER_DISTRIBUTION)


_SQL_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey),
m AS (SELECT CAST(MAX(total_rev) AS BIGINT) AS max_rev FROM revenue)
SELECT s_suppkey, s_name, total_rev / 1e4 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey, m
WHERE total_rev = max_rev
ORDER BY s_suppkey
"""


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier of a quarter): per-supplier
    exact 1e-4-scaled revenue, a 1-row MAX scalar frame that
    broadcasts, and an exact-bigint equality filter (the classic
    view + scalar subquery, decorrelated). Revenue divides to double
    only at output."""
    return _sql_all_tables(spark, sf_dir, _SQL_TOP_SUPPLIER)


_SQL_MIN_COST_SUPPLIER = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_c
  FROM lineitem GROUP BY l_partkey, l_suppkey),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
costs AS (
  SELECT p_partkey, s_name, s_acctbal, n_name, cost_c,
         MIN(cost_c) OVER (PARTITION BY p_partkey) AS min_c
  FROM part JOIN ps ON p_partkey = l_partkey JOIN eu ON l_suppkey = s_suppkey
  WHERE p_size <= 15 AND p_type = 'LARGE')
SELECT CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_c, s_name, n_name,
       p_partkey, cost_c / 1e2 AS supplycost
FROM costs WHERE cost_c = min_c
ORDER BY acctbal_c DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part within a region;
    the per-(part, supplier) MIN line price stands in for the absent
    partsupp.ps_supplycost): the classic correlated MIN subquery is
    decorrelated to a window MIN over p_partkey — ONE extra shuffle
    on the already-partitioned key instead of a second scan. Costs
    are exact cents; the EUROPE dim chain broadcasts."""
    return _sql_all_tables(spark, sf_dir, _SQL_MIN_COST_SUPPLIER)


_SQL_IMPORTANT_PARTS = """
WITH v AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_c
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey),
t AS (SELECT CAST(SUM(value_c) AS BIGINT) AS total_c FROM v)
SELECT l_partkey AS p_partkey, value_c / 1e2 AS part_value
FROM v, t
WHERE value_c * 1000 > total_c
ORDER BY value_c DESC, p_partkey
"""


def q_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (important stock; one nation's line value per
    part stands in for the absent partsupp value): parts carrying
    more than 0.1% of the nation's total value. The HAVING-vs-global
    -scalar compare is EXACT integer arithmetic (value_c * 1000 >
    total_c — no cross-engine float fraction), the 1-row total
    broadcasts, and value_c stays within 2^63 up to ~9e15 dollars
    per part."""
    return _sql_all_tables(spark, sf_dir, _SQL_IMPORTANT_PARTS)


_SQL_EXCESS_SUPPLIERS = """
WITH pq AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey),
tot AS (
  SELECT l_partkey, CAST(SUM(supp_qty) AS BIGINT) AS part_qty
  FROM pq GROUP BY l_partkey),
cand AS (
  SELECT DISTINCT l_suppkey FROM pq JOIN tot USING (l_partkey)
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%red%' AND supp_qty * 2 > part_qty)
SELECT s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM cand)
ORDER BY s_name
"""


def q_interval_merge(spark, sf_dir):
    """Gaps-and-islands compaction: per-user event intervals
    ([ts, ts + value-derived dwell]) coalesced into maximal busy
    periods. Exact long epoch arithmetic means DuckDB replays island
    membership bit-for-bit; the merge runs as one hash shuffle on
    user_id (windows + final aggregate share the partitioning —
    operators/temporal.py op_interval_merge)."""
    e = _t(spark, sf_dir, "events")
    iv = op("expr", e, {"replace": True, "exprs": {
        "user_id": "user_id",
        "event_id": "event_id",
        "s": "cast(cast(ts as timestamp) as long)",
        "e": ("cast(cast(ts as timestamp) as long)"
              " + greatest(cast(round(value * 10) as bigint), 1) * 60"),
    }})
    df = op("interval_merge", iv, {
        "start_field": "s", "end_field": "e", "group_by": ["user_id"],
        "tiebreak": ["event_id"]})
    return op("sort", df, {"fields": ["user_id", "island"]})


_SQL_INTERVAL_MERGE = """
WITH iv AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS s,
         epoch_ns(ts) // 1000000000
           + greatest(CAST(ROUND(value * 10) AS BIGINT), 1) * 60 AS e
  -- NULL event-time: excluded (temporal contract)
  FROM events WHERE ts IS NOT NULL),
m AS (
  SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS pmax
  FROM iv),
g AS (
  SELECT *, CAST(SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
       OVER (PARTITION BY user_id ORDER BY s, e, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
  FROM m)
SELECT user_id, island, MIN(s) AS island_start, MAX(e) AS island_end,
       COUNT(*) AS n_intervals
FROM g GROUP BY user_id, island ORDER BY user_id, island
"""


def q_interval_join(spark, sf_dir):
    """Interval-overlap join (operators/temporal.py op_interval_join):
    each user's DAILY click-activity window [first click, last click]
    paired with every purchase-activity window it overlaps (closed
    intervals, exact overlap spans). Bucketized to stay a plain
    shuffled equi-join — both sides explode into 6h buckets, each
    pair kept exactly once at the bucket of its overlap start; never
    a distinct, never an inequality nested-loop. Exact long epoch
    arithmetic end-to-end, so DuckDB replays the pairs with a direct
    overlap join."""
    e = _t(spark, sf_dir, "events")
    iv = op("expr", e, {"replace": True, "exprs": {
        "user_id": "user_id",
        "event_type": "event_type",
        "e": "cast(cast(ts as timestamp) as long)",
        "day": "cast(cast(ts as timestamp) as long) div 86400",
    }})

    def _side(tp):
        d = op("filter", iv, {"field": "event_type", "op": "eq",
                              "value": tp})
        g = op("aggregate", d, {
            "group_by": ["user_id", "day"],
            "aggregates": [
                {"field": "e", "function": "min", "alias": "start"},
                {"field": "e", "function": "max", "alias": "end"}]})
        # aggregate's min/max coerce to double (reference parity);
        # the interval bounds must stay exact longs
        return op("expr", g, {"replace": True, "exprs": {
            "user_id": "user_id", "day": "day",
            "start": "cast(start as bigint)",
            "end": "cast(`end` as bigint)"}})

    df = op("interval_join", _side("click"), {
        "right": _side("purchase"), "by": ["user_id"],
        "bucket_width": 21600, "end_inclusive": True, "overlap": True},
        views={})
    return op("sort", df, {"fields": ["user_id", "day", "r_day"]})


_SQL_INTERVAL_JOIN = """
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(ts) // 1000 AS e,
         (epoch_ms(ts) // 1000) // 86400 AS day
  FROM events),
l AS (SELECT user_id, day, MIN(e) AS start, MAX(e) AS "end"
      FROM ev WHERE event_type = 'click' GROUP BY user_id, day),
r AS (SELECT user_id, day, MIN(e) AS start, MAX(e) AS "end"
      FROM ev WHERE event_type = 'purchase' GROUP BY user_id, day)
SELECT l.user_id, l.day, l.start, l."end",
       r.user_id AS r_user_id, r.day AS r_day,
       r.start AS r_start, r."end" AS r_end,
       GREATEST(l.start, r.start) AS overlap_start,
       LEAST(l."end", r."end") AS overlap_end,
       LEAST(l."end", r."end") - GREATEST(l.start, r.start) AS overlap_len
FROM l JOIN r ON l.user_id = r.user_id
             AND l.start <= r."end" AND r.start <= l."end"
ORDER BY l.user_id, l.day, r_day
"""


def q_time_rollup(spark, sf_dir):
    """Multi-resolution time rollup (operators/temporal.py
    op_time_rollup — the hypertable continuous-aggregate shape):
    hourly AND daily event counts + exact value cents per
    event_type, produced in ONE pass — each row expands into a
    (granularity, bucket) struct per level, then a single hash
    shuffle aggregates all levels together (the GROUPING SETS Expand
    shape). DuckDB replays it as a UNION ALL of the per-granularity
    aggregates over the same exact long bucket arithmetic."""
    e = _t(spark, sf_dir, "events")
    e = op("expr", e, {"exprs": {
        "value_c": "CAST(ROUND(value * 100) AS BIGINT)"}})
    df = op("time_rollup", e, {
        "ts_field": "ts", "intervals": [3600, 86400],
        "group_by": ["event_type"],
        "aggregates": [{"function": "count", "alias": "n_events"},
                       {"field": "value_c", "function": "sum",
                        "alias": "value_cents"}]})
    df = op("select", df, {"fields": ["granularity", "bucket",
                                      "event_type", "n_events",
                                      "value_cents"]})
    return op("sort", df, {"fields": ["granularity", "event_type",
                                      "bucket"]})


_SQL_TIME_ROLLUP = """
WITH ev AS (
  SELECT event_type, epoch_ms(ts) // 1000 AS e,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events),
l AS (
  SELECT CAST(3600 AS BIGINT) AS granularity,
         e - ((e % 3600) + 3600) % 3600 AS bucket, event_type,
         COUNT(*) AS n_events, CAST(SUM(vc) AS BIGINT) AS value_cents
  FROM ev GROUP BY bucket, event_type
  UNION ALL
  SELECT CAST(86400 AS BIGINT), e - ((e % 86400) + 86400) % 86400,
         event_type, COUNT(*), CAST(SUM(vc) AS BIGINT)
  FROM ev GROUP BY 2, event_type)
SELECT granularity, bucket, event_type, n_events, value_cents
FROM l ORDER BY granularity, event_type, bucket
"""


def q_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (suppliers dominating a part's yearly flow;
    the half-of-total-quantity test stands in for partsupp availqty
    vs half the year's demand): per-(part, supplier) quantity reuses
    its own partial for the per-part total (same key prefix — AQE
    plans one wide shuffle + one narrow), the dominance test is
    exact integer (supp_qty * 2 > part_qty), and the IN decorrelates
    to a left-semi hash join against the small candidate set."""
    return _sql_all_tables(spark, sf_dir, _SQL_EXCESS_SUPPLIERS)


def q_dedup_embedding_against(spark, sf_dir):
    """Incremental embedding near-dedup at the recall~1 multi-table
    geometry (2 planes x 30 tables, the dedup_embedding_parity
    config): batch vectors (vec_id%4==1) deduped against a HISTORY
    corpus (vec_id%4==0) must exactly equal DuckDB's brute-force
    NOT-EXISTS over exact cosines. Candidates come from a
    (table, bucket) join — batch x history work is per-bucket, never
    all-pairs (llmops/similarity.py op_dedup_embedding_against)."""
    e = _t(spark, sf_dir, "embeddings")
    batch = op("filter", op("expr", e, {"exprs": {"m4": f"vec_id % {_EMOD}"}}),
               {"field": "m4", "op": "eq", "value": 1})
    hist = op("filter", op("expr", e, {"exprs": {"m4": f"vec_id % {_EMOD}"}}),
              {"field": "m4", "op": "eq", "value": 0})
    df = op("dedup_embedding_against", batch,
            {"threshold": 0.3, "dim": 64, "n_planes": 2, "n_tables": 30,
             "history": hist}, views={})
    df = op("select", df, {"fields": ["vec_id"]})
    return op("sort", df, {"fields": ["vec_id"]})


_SQL_DEDUP_EMBEDDING_AGAINST = f"""
-- Invalid embeddings leave the NOT-EXISTS path BEFORE list_inner_product:
-- DuckDB's decorrelated mark-join evaluates the join condition even
-- for NULL vectors and ERRORS (misleadingly, "argument can not
-- contain NULL values" fires for a NULL list too), and plain CTEs
-- get inlined past the filter — MATERIALIZED pins the evaluation
-- order. NULL batch rows are never near-duplicates, so they survive.
WITH bn AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {_EMOD} = 1 AND {_VALID_EMB}),
hn AS MATERIALIZED (
  SELECT embedding FROM embeddings
  WHERE vec_id % {_EMOD} = 0 AND {_VALID_EMB})
SELECT vec_id FROM bn b
WHERE NOT EXISTS (
    SELECT 1 FROM hn h
    WHERE list_inner_product(b.embedding::DOUBLE[], h.embedding::DOUBLE[])
          / (sqrt(list_inner_product(b.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]))
             * sqrt(list_inner_product(h.embedding::DOUBLE[],
                                       h.embedding::DOUBLE[])))
          >= 0.3)
UNION ALL
SELECT vec_id FROM embeddings
WHERE vec_id % {_EMOD} = 1 AND NOT {_VALID_EMB}
ORDER BY vec_id
"""


def q_top_p(spark, sf_dir):
    """Nucleus (top-p) selection per language: the smallest set of
    longest documents covering 80% of each language's total chars.
    Membership is an exact integer comparison (cum_before x 1e9 <
    p_ppb x total in DECIMAL), so DuckDB replays the kept set
    bit-for-bit (operators/relational.py op_top_p_select)."""
    d = _t(spark, sf_dir, "documents")
    df = op("top_p_select", d, {"weight_field": "n_chars", "p": 0.8,
                                "id_field": "doc_id",
                                "group_by": ["lang"]})
    df = op("select", df, {"fields": ["doc_id", "lang", "n_chars"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_TOP_P = """
WITH c AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
         SUM(CAST(n_chars AS BIGINT)) OVER (
           PARTITION BY lang ORDER BY CAST(n_chars AS BIGINT) DESC, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang) AS tot
  FROM documents)
SELECT doc_id, lang, w AS n_chars FROM c
WHERE (cum - w) * 1000000000 < 800000000 * tot AND w > 0
ORDER BY doc_id
"""


def q_winsorize(spark, sf_dir):
    """Percentile clipping of document lengths to each language's
    [5th, 95th] discrete percentiles. The percentile definition is
    PINNED (value at 1-based rank ceil(q*n), integer arithmetic) so
    the oracle replays the exact boundary element — engine-native
    quantile functions disagree at boundary indices
    (operators/relational.py op_winsorize)."""
    d = _t(spark, sf_dir, "documents")
    df = op("winsorize", d, {"field": "n_chars", "lower": 0.05,
                             "upper": 0.95, "by": ["lang"]})
    df = op("select", df, {"fields": ["doc_id", "lang", "n_chars_wins"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_WINSORIZE = """
WITH nn AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL),
r AS (
  SELECT lang, v,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM nn),
b AS (
  SELECT lang,
         MIN(CASE WHEN rn = GREATEST((50000000 * n + 999999999)
                                     // 1000000000, 1)
                  THEN v END) AS lo,
         MIN(CASE WHEN rn = GREATEST((950000000 * n + 999999999)
                                     // 1000000000, 1)
                  THEN v END) AS hi
  FROM r GROUP BY lang)
SELECT doc_id, d.lang,
       CASE WHEN n_chars IS NULL THEN NULL
            ELSE LEAST(GREATEST(CAST(n_chars AS DOUBLE), lo), hi)
       END AS n_chars_wins
FROM documents d LEFT JOIN b ON d.lang IS NOT DISTINCT FROM b.lang
ORDER BY doc_id
"""



def q_resample(spark, sf_dir):
    """Time-grid regularization (operators/temporal.py
    op_time_resample): hourly buckets per user (user_id < 50),
    including GENERATED empty buckets between each user's first and
    last event — count fills zero, the value sum rides exact cents.
    DuckDB replays the grid with generate_series over the same
    epoch-floor buckets."""
    e = _t(spark, sf_dir, "events")
    e = op("filter", e, {"field": "user_id", "op": "lt", "value": 50})
    e = op("expr", e, {"exprs": {
        "value_c": "CAST(ROUND(value * 100) AS BIGINT)"}})
    df = op("time_resample", e, {
        "ts_field": "ts", "interval": 3600, "group_by": ["user_id"],
        "aggregates": [{"function": "count", "alias": "n_events"},
                       {"field": "value_c", "function": "sum",
                        "alias": "value_cents"}],
        "fill": "zero"})
    df = op("select", df, {"fields": ["user_id", "bucket", "n_events",
                                      "value_cents"]})
    return op("sort", df, {"fields": ["user_id", "bucket"]})


def q_resample_linear(spark, sf_dir):
    """time_resample fill='linear' (round 8): hourly per-user cents
    sums with gap buckets INTERPOLATED between their observed
    endpoints — p + (c − p)·((b − pb)/(cb − pb)), the identical IEEE
    op sequence in both engines, so the interpolated doubles replay
    bit-for-bit (all aggregate columns cast to double, observed
    buckets included). Same LAG-gap machinery as fill zero/ffill; the
    gap row carries the endpoint values, still one key shuffle."""
    e = _t(spark, sf_dir, "events")
    e = op("filter", e, {"field": "user_id", "op": "lt", "value": 50})
    e = op("expr", e, {"exprs": {
        "value_c": "CAST(ROUND(value * 100) AS BIGINT)"}})
    df = op("time_resample", e, {
        "ts_field": "ts", "interval": 3600, "group_by": ["user_id"],
        "aggregates": [{"field": "value_c", "function": "sum",
                        "alias": "cents"}],
        "fill": "linear"})
    df = op("select", df, {"fields": ["user_id", "bucket", "cents"]})
    return op("sort", df, {"fields": ["user_id", "bucket"]})


_SQL_RESAMPLE_LINEAR = """
WITH obs AS (
  SELECT user_id,
         (epoch_ms(ts) // 1000) - (((epoch_ms(ts) // 1000) % 3600)
           + 3600) % 3600 AS bucket,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  -- NULL event-time: excluded (temporal contract)
  FROM events WHERE user_id < 50 AND ts IS NOT NULL
  GROUP BY 1, 2),
l AS (
  SELECT user_id, bucket, cents,
         LAG(bucket) OVER w AS pb,
         LAG(cents) OVER w AS pc
  FROM obs
  WINDOW w AS (PARTITION BY user_id ORDER BY bucket)),
gaps AS (
  SELECT user_id, pb, bucket AS cb, pc, cents AS cc,
         UNNEST(generate_series(pb + 3600, bucket - 3600, 3600)) AS b
  FROM l WHERE pb IS NOT NULL AND bucket - pb > 3600),
gi AS (
  SELECT user_id, b AS bucket,
         CAST(pc AS DOUBLE)
           + (CAST(cc AS DOUBLE) - CAST(pc AS DOUBLE))
             * (CAST(b - pb AS DOUBLE) / CAST(cb - pb AS DOUBLE))
           AS cents
  FROM gaps)
SELECT user_id, bucket, cents FROM (
  SELECT user_id, bucket, CAST(cents AS DOUBLE) AS cents FROM obs
  UNION ALL
  SELECT user_id, bucket, cents FROM gi)
ORDER BY user_id, bucket
"""


_SQL_RESAMPLE = """
WITH obs AS (
  SELECT user_id,
         (epoch_ms(ts) // 1000) - (((epoch_ms(ts) // 1000) % 3600)
           + 3600) % 3600 AS bucket,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  -- NULL event-time: excluded (temporal contract)
  FROM events WHERE user_id < 50 AND ts IS NOT NULL
  GROUP BY 1, 2),
b AS (
  SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx
  FROM obs GROUP BY user_id),
grid AS (
  SELECT user_id, UNNEST(generate_series(mn, mx, 3600)) AS bucket
  FROM b)
SELECT g.user_id, g.bucket,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(value_cents, 0) AS value_cents
FROM grid g
LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket
ORDER BY g.user_id, g.bucket
"""



def q_mad_outlier(spark, sf_dir):
    """Robust median/MAD outlier scoring of document lengths per
    language (operators/relational.py op_mad_outlier): both the
    median and the MAD use the pinned discrete-percentile rank
    (ceil(n/2)), deviations are plain IEEE subtractions, so DuckDB
    replays robust_z and the outlier flags value-for-value."""
    d = _t(spark, sf_dir, "documents")
    df = op("mad_outlier", d, {"field": "n_chars", "by": ["lang"],
                               "k": 3.5})
    df = op("select", df, {"fields": ["doc_id", "lang", "robust_z",
                                      "is_outlier"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_MAD_OUTLIER = """
WITH nn AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL),
r1 AS (
  SELECT lang, v,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM nn),
med AS (
  SELECT lang, MIN(v) AS med FROM r1
  WHERE rn = GREATEST((500000000 * n + 999999999) // 1000000000, 1)
  GROUP BY lang),
r2 AS (
  SELECT nn.lang, ABS(v - med) AS dv,
         ROW_NUMBER() OVER (PARTITION BY nn.lang
                            ORDER BY ABS(v - med)) AS rn,
         COUNT(*) OVER (PARTITION BY nn.lang) AS n
  FROM nn JOIN med ON nn.lang IS NOT DISTINCT FROM med.lang),
mad AS (
  SELECT lang, MIN(dv) AS mad FROM r2
  WHERE rn = GREATEST((500000000 * n + 999999999) // 1000000000, 1)
  GROUP BY lang)
SELECT doc_id, d.lang,
       CASE WHEN n_chars IS NULL OR mad IS NULL THEN NULL
            WHEN mad = 0 THEN NULL
            ELSE ABS(CAST(n_chars AS DOUBLE) - med) / mad
       END AS robust_z,
       CASE WHEN n_chars IS NULL OR mad IS NULL THEN NULL
            WHEN mad = 0 THEN ABS(CAST(n_chars AS DOUBLE) - med) > 0
            ELSE ABS(CAST(n_chars AS DOUBLE) - med) / mad > 3.5
       END AS is_outlier
FROM documents d
LEFT JOIN med ON d.lang IS NOT DISTINCT FROM med.lang
LEFT JOIN mad ON d.lang IS NOT DISTINCT FROM mad.lang
ORDER BY doc_id
"""



def q_quantile_sketch_gate(spark, sf_dir):
    """Mergeable bottom-k quantile sketch (llmops/sketch.py): per-lang
    64-row hash-rank samples of n_chars, pinned-rank q50/q90
    estimates, plus the merge theorem checked live — estimates from
    merge(sketch(even), sketch(odd)) must EQUAL the full sketch's.
    The deterministic sample + pinned ranks make the whole pipeline
    exact-replayable in DuckDB (no tolerance gate, unlike HLL)."""
    d = _t(spark, sf_dir, "documents")
    cfg = {"field": "n_chars", "id_field": "doc_id", "k": 64,
           "group_by": ["lang"]}
    est_cfg = {"field": "n_chars", "group_by": ["lang"],
               "quantiles": [0.5, 0.9]}
    sk = op("quantile_sketch", d, cfg)
    est = op("quantile_estimate", sk, est_cfg)
    d2 = op("expr", d, {"exprs": {"m2": "doc_id % 2"}})
    a = op("quantile_sketch",
           op("filter", d2, {"field": "m2", "op": "eq", "value": 0}), cfg)
    b = op("quantile_sketch",
           op("filter", d2, {"field": "m2", "op": "eq", "value": 1}), cfg)
    merged = op("quantile_sketch_merge", a, {**cfg, "others": [b]},
                views={})
    est_m = op("quantile_estimate", merged, est_cfg)
    # NULL-safe group joinback (CLAUDE.md invariant): a NULL lang is a
    # real sketch group; a plain equi-join would drop its gate row
    est_m2 = est_m.select(F.col("lang").alias("lang_m"),
                          F.col("q50").alias("r_q50"),
                          F.col("q90").alias("r_q90"))
    j = est.join(est_m2, F.col("lang").eqNullSafe(F.col("lang_m")))
    j = j.select(
        "lang", "q50", "q90",
        (F.col("q50").eqNullSafe(F.col("r_q50"))
         & F.col("q90").eqNullSafe(F.col("r_q90")))
        .alias("merge_consistent"))
    return op("sort", j, {"fields": ["lang"]})


_SQL_QUANTILE_SKETCH_GATE = """
WITH s AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || chr(31) || 'qsk'),
                    doc_id) AS rn
  FROM documents WHERE n_chars IS NOT NULL),
k AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM s WHERE rn <= 64),
r AS (SELECT lang, v,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM k)
SELECT lang,
       MIN(CASE WHEN rn = GREATEST((500000000 * n + 999999999)
                                   // 1000000000, 1) THEN v END) AS q50,
       MIN(CASE WHEN rn = GREATEST((900000000 * n + 999999999)
                                   // 1000000000, 1) THEN v END) AS q90,
       TRUE AS merge_consistent
FROM r GROUP BY lang ORDER BY lang NULLS FIRST
"""



def q_heavy_hitters_stream(spark, sf_dir):
    """Heavy hitters computed as a STRUCTURED STREAM: readStream over
    the documents parquet -> token explode -> stateful streaming
    count (complete mode, the standing per-token state a production
    topic would maintain) -> memory sink driven to completion; the
    total/threshold/share finish runs as a batch pass over the
    streamed state. Shares the batch heavy_hitters oracle, so
    stream==batch equivalence is driver-visible. State is the full
    token cardinality — the bounded-memory alternative is the
    Misra-Gries batch mode (heavy_hitters_mg)."""
    from blackroad_data_pipeline_spark.streaming.ops import (
        read_events_stream, run_stream_to_memory)

    stream = read_events_stream(spark, f"{sf_dir}/documents.parquet")
    toks = stream.selectExpr(
        "explode(filter(split(trim(lower(text)), '\\\\s+'),"
        " x -> x != '')) AS value")
    counts = toks.groupBy("value").count().withColumnRenamed(
        "count", "n_occurrences")
    run_stream_to_memory(counts, "hh_stream_out", "complete",
                         shuffle_partitions=8)
    c = spark.table("hh_stream_out")
    df = op("sql", c, {"query": """
        WITH t AS (SELECT SUM(n_occurrences) AS total FROM self)
        SELECT value, n_occurrences,
               CAST(n_occurrences AS DOUBLE) / total AS share
        FROM self, t WHERE n_occurrences * 60 > total
    """}, views={})
    return op("sort", df, {"fields": ["value"]})



def q_collocations(spark, sf_dir):
    """Top-25 PMI collocations over the corpus (llmops/text.py
    op_collocations): exact bigram/unigram counts, PMI emitted as the
    raw ratio c12·N/(c1·c2) — pure IEEE multiply/divide over exact
    longs (ln is monotone, so the ranking is PMI's; no libm variance
    crosses engines), min_count pruning before the joins, top-k as a
    TakeOrdered."""
    d = _t(spark, sf_dir, "documents")
    df = op("collocations", d, {"min_count": 5, "k": 25})
    return df


_SQL_COLLOCATIONS = f"""
WITH toks AS (
  SELECT doc_id, {_D_TOKS_LOWER} AS t FROM documents),
bigs AS (
  SELECT unnest(list_transform(range(len(t) - 1),
                               i -> t[i+1] || ' ' || t[i+2])) AS bigram
  FROM toks WHERE len(t) >= 2),
bc AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM bigs GROUP BY bigram HAVING COUNT(*) >= 5),
uc AS (
  SELECT token, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS token FROM toks WHERE len(t) >= 2)
  GROUP BY token),
t2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bigs)
SELECT split_part(bigram, ' ', 1) AS w1,
       split_part(bigram, ' ', 2) AS w2,
       n_pair,
       (CAST(n_pair AS DOUBLE) * n)
         / (CAST(u1.c1 AS DOUBLE) * u2.c1) AS pmi_ratio
FROM bc
JOIN uc u1 ON u1.token = split_part(bigram, ' ', 1)
JOIN uc u2 ON u2.token = split_part(bigram, ' ', 2), t2
ORDER BY pmi_ratio DESC, w1, w2
LIMIT 25
"""


def q_phash(spark, sf_dir):
    """Perceptual image hash (llmops/multimodal.py op_phash_image,
    STUB path): dHash-64 over the deterministic iterated-sha256 9x8
    grid. The oracle regenerates the grid from sha256 hex in SQL and
    re-derives all 64 difference bits — the full bit pipeline is
    value-checked, signed two's-complement included."""
    d = _t(spark, sf_dir, "documents")
    df = op("attach_binary", d, {"field": "text"})
    df = op("phash_image", df, {"fake_decode": True})
    # stringified: a NULL-able 64-bit hash would canonicalize through
    # pandas float64 and lose bits past 2^53 (CLAUDE.md dtype trap)
    df = op("expr", df, {"exprs": {
        "phash_str": "cast(phash as string)"}})
    df = op("select", df, {"fields": ["doc_id", "phash_str"]})
    return op("sort", df, {"fields": ["doc_id"]})


def _phash_oracle_sql() -> str:
    """Generated dHash oracle: gray grid = first 72 bytes of
    sha256(text) || sha256(hex) || sha256(hex2); bit j (j = r*8+c) is
    g[r*9+c] > g[r*9+c+1]; bit 63 carries the sign."""
    terms = []
    for j in range(63):
        r, c = divmod(j, 8)
        li, ri = r * 9 + c + 1, r * 9 + c + 2  # 1-based list indexes
        terms.append(f"CASE WHEN gv[{li}] > gv[{ri}] "
                     f"THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END")
    sign = ("CASE WHEN gv[71] > gv[72] "
            "THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END")
    return f"""
WITH h AS (
  SELECT doc_id, sha256(text) AS d0 FROM documents),
h2 AS (SELECT doc_id, d0 || sha256(d0) || sha256(sha256(d0)) AS D FROM h),
g AS (
  SELECT doc_id,
         list_transform(range(0, 72),
           i -> CAST('0x' || substring(D, CAST(2*i+1 AS INTEGER), 2)
                     AS INTEGER)) AS gv
  FROM h2)
SELECT doc_id,
       -- NULL payload -> NULL hash (NULL > NULL comparisons would
       -- otherwise sum to 0, not NULL)
       CASE WHEN gv[1] IS NULL THEN NULL ELSE
         CAST(CAST({' + '.join(terms)} AS BIGINT) + {sign} AS VARCHAR)
       END AS phash_str
FROM g ORDER BY doc_id
"""


_SQL_PHASH = _phash_oracle_sql()


def q_quantize_embedding(spark, sf_dir):
    """int8 scalar quantization (llmops/similarity.py
    op_quantize_embedding) with per-dim exact min/max codebook;
    flattened to (vec_id, pos, qv) rows. floor() on identical IEEE
    doubles is tie-free, so every code is oracle-exact."""
    e = _hmod_embs(spark, sf_dir)
    df = op("quantize_embedding", e, {"dim": 64, "bits": 8})
    df = op("explode", df, {"field": "embedding", "as": "qv",
                            "with_position": True})
    return op("select", df, {"fields": ["vec_id", "pos", "qv"]})


_SQL_QUANTIZE_EMBEDDING = f"""
WITH b AS (
  -- bounds over VALID vectors only (valid_vec contract: Spark's
  -- min/max order NaN largest, one NaN would pin hi_d)
  SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS lo,
         MAX(CAST(embedding[i] AS DOUBLE)) AS hi
  FROM {_HEMBS}, UNNEST(range(1, 65)) AS u(i)
  WHERE {_VALID_EMB}
  GROUP BY i),
e AS (
  -- invalid vectors quantize to NULL codes: the Spark side's
  -- posexplode of a NULL array emits no rows, so exclude them here
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM {_HEMBS} WHERE {_VALID_EMB})
SELECT vec_id, pos,
       CAST(LEAST(GREATEST(FLOOR(
         (x - lo) / (CASE WHEN hi > lo THEN hi - lo ELSE 1.0 END) * 255.0),
         0), 255) AS INTEGER) AS qv
FROM e JOIN b ON b.i = e.pos + 1
"""


def q_dedup_near_against(spark, sf_dir):
    """Incremental near-dup vs a history corpus (llmops/dedup.py
    op_dedup_near_against): even-id docs are the history, odd-id docs
    the batch; at the recall~1 banding (bands=16, rows=1) every
    cross-half pair at jaccard >= 0.8 is caught and exact
    verification removes false positives, so the surviving batch ==
    the SQL set of odd docs with no >=0.8 even partner.

    RECALL ASSUMPTION (ADVICE r3): the oracle asserts PERFECT LSH
    recall — miss probability per pair is (1-s)^16 > 0, so a
    borderline pair (s barely over 0.8) could in principle slip all
    16 bands. Green on the current fixtures because their near-dup
    pairs sit far above threshold; if a fixture regeneration or a
    hash-family change ever makes this entry flake while
    near_dup_minhash stays green, suspect a borderline pair, not an
    operator regression (Spark survivors would then be a strict
    SUPERSET of the SQL survivors — every extra survivor's best
    cross-half jaccard will sit within epsilon of 0.8)."""
    d = _hmod_docs(spark, sf_dir)
    d = op("expr", d, {"exprs": {"m2": "doc_id % 2"}})
    history = op("filter", d, {"field": "m2", "op": "eq", "value": 0})
    batch = op("filter", d, {"field": "m2", "op": "eq", "value": 1})
    df = op("dedup_near_against", batch,
            {"field": "text", "id_field": "doc_id", "history": history,
             "shingle_size": 5, "bands": 16, "rows_per_band": 1,
             "threshold": 0.8})
    df = op("select", df, {"fields": ["doc_id", "lang"]})
    return op("sort", df, {"fields": ["doc_id"]})


_SQL_DEDUP_NEAR_AGAINST = f"""
WITH pairs AS ({_ngram_jaccard_sql(_HDOCS)})
SELECT doc_id, lang FROM documents
WHERE {_HDOC_AND}doc_id % 2 = 1
  AND doc_id NOT IN (
    SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END
    FROM pairs WHERE (id_a % 2) <> (id_b % 2))
ORDER BY doc_id
"""


def q_funnel(spark, sf_dir):
    """Ordered-step conversion funnel view -> click -> purchase per
    user (operators/temporal.py op_funnel, summary mode): step k
    counts users whose earliest step-k event strictly follows their
    step k-1 time. Counts are exact bigints; conversion is an exact
    bigint/bigint double division."""
    e = _t(spark, sf_dir, "events")
    df = op("funnel", e, {"steps": ["view", "click", "purchase"],
                          "key": "user_id", "mode": "summary"})
    return op("sort", df, {"fields": ["step_idx"]})


_SQL_FUNNEL = """
WITH u1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  -- ts IS NOT NULL: a user whose ONLY view events carry NULL ts
  -- still forms a group here (MIN = NULL) and was counted as
  -- reaching step 1, where the op's _drop_null_ts contract never
  -- admits the rows. Latent until the round-12 skew+NULL clone:
  -- only the zipf tail makes one-view-and-it-is-NULL users likely.
  WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY user_id),
u2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN u1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > u1.t1
  GROUP BY e.user_id),
u3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN u2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
  GROUP BY e.user_id),
n AS (SELECT (SELECT COUNT(*) FROM u1) AS n1,
             (SELECT COUNT(*) FROM u2) AS n2,
             (SELECT COUNT(*) FROM u3) AS n3)
SELECT 1 AS step_idx, 'view' AS step, n1 AS n_reached,
       CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 ELSE 0.0 END
         AS conversion FROM n
UNION ALL
SELECT 2, 'click', n2,
       CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 ELSE 0.0 END FROM n
UNION ALL
SELECT 3, 'purchase', n3,
       CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 ELSE 0.0 END FROM n
ORDER BY step_idx
"""


def q_retention(spark, sf_dir):
    """Weekly cohort retention triangle (operators/temporal.py
    op_retention_cohorts): users bucketed by first-activity week,
    counted in each later active week. Offsets are exact epoch-day
    integer division."""
    e = _t(spark, sf_dir, "events")
    df = op("retention_cohorts", e, {"key": "user_id", "period": "week"})
    return op("sort", df, {"fields": ["cohort", "period_offset"]})


_SQL_RETENTION = """
WITH f AS (
  -- DuckDB's date_trunc yields DATE; Spark's yields TIMESTAMP — cast
  SELECT user_id, MIN(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS cohort
  FROM events GROUP BY user_id),
a AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS TIMESTAMP) AS p FROM events)
SELECT f.cohort,
       datediff('day', f.cohort, a.p) // 7 AS period_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM a JOIN f USING (user_id)
GROUP BY f.cohort, period_offset
ORDER BY cohort, period_offset
"""


def q_event_transitions(spark, sf_dir):
    """First-order event-flow counts + probabilities
    (operators/temporal.py op_event_transitions): lead() over each
    user's (ts, type)-ordered timeline. Rows tied on (ts, type) are
    interchangeable, so the (src, dst) multiset is order-stable
    across engines."""
    e = _t(spark, sf_dir, "events")
    df = op("event_transitions", e,
            {"key": "user_id", "probability": True})
    return op("sort", df, {"fields": ["src", "dst"]})


_SQL_EVENT_TRANSITIONS = """
WITH nxt AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_type) AS dst
  -- NULL event-time: excluded (temporal contract)
  FROM events WHERE ts IS NOT NULL),
c AS (
  SELECT src, dst, COUNT(*) AS n FROM nxt
  WHERE dst IS NOT NULL GROUP BY src, dst)
SELECT src, dst, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS p
FROM c ORDER BY src, dst
"""


def q_pagerank(spark, sf_dir):
    """Link-graph PageRank (llmops/dedup.py op_pagerank) over the
    customer->supplier purchase graph (lineitem x orders; supplier
    ids offset into their own namespace), 3 iterations. Ranks are
    scaled-long EXACT integer arithmetic — every division is integral
    — so the DuckDB oracle's unrolled-CTE replay must match
    bit-for-bit. Rides the heavy-pair knob (round 11): the operator's
    label-propagation streams fine at sf10, but the ORACLE's unrolled
    3-iteration CTE over the 60M-edge graph spills >78 GB in DuckDB
    even solo at ORACLE_DUCK_MEM=20GB (r11 measured) — oracle-compute
    class, same trade as the compare-path knob pairs."""
    li = _hmod_lineitem(spark, sf_dir)
    o = _t(spark, sf_dir, "orders")
    edges = op("join", li, {"right": o, "left_key": "l_orderkey",
                            "right_key": "o_orderkey"}, views={})
    edges = op("expr", edges, {"exprs": {
        "src": "r_o_custkey", "dst": "l_suppkey + 1000000"}})
    df = op("pagerank", edges, {"max_iter": 3})
    return op("sort", df, {"fields": ["node"]})


def _pagerank_oracle_sql(iters: int = 3, scale: int = 10 ** 12) -> str:
    """Unrolled integer-PageRank recurrence as chained CTEs — same
    arithmetic as op_pagerank, term for term."""
    parts = [f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
  FROM {_HLINE} li JOIN orders ON l_orderkey = o_orderkey),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
od AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
meta AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, CAST({scale} // (SELECT n FROM meta) AS BIGINT) AS r
       FROM nodes)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
r{k} AS (
  SELECT n.node,
         CAST(({3 * scale} // (20 * (SELECT n FROM meta)))
              + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r{k - 1}.r // od.od) AS c
    FROM edges e
    JOIN r{k - 1} ON r{k - 1}.node = e.src
    JOIN od ON od.src = e.src
    GROUP BY e.dst) s ON s.node = n.node)""")
    parts.append(f"""
SELECT node, r AS rank_scaled FROM r{iters} ORDER BY node""")
    return "".join(parts)


_SQL_PAGERANK = _pagerank_oracle_sql()


def q_text_normalize(spark, sf_dir):
    """Punctuation/control normalization (llmops/text.py
    op_text_normalize). The fixture corpus is ASCII, so the query
    first dirties it with the characters the op exists for — smart
    quotes, em-dash, NBSP, ellipsis, a control byte — and both
    engines normalize the identical input."""
    d = _t(spark, sf_dir, "documents")
    d = op("expr", d, {"exprs": {
        "dirty": "concat('\u201cQ\u201d \u2014 ', coalesce(text, ''),"
                 " ' \u2026', chr(9), '\u00a0end\u2019s', chr(7))"}})
    df = op("text_normalize", d, {"field": "dirty", "as": "clean"})
    return op("select", df, {"fields": ["doc_id", "clean"]})


_SQL_TEXT_NORMALIZE = """
WITH d AS (
  SELECT doc_id,
         concat('\u201cQ\u201d \u2014 ', COALESCE(text, ''), ' \u2026',
                chr(9), '\u00a0end\u2019s', chr(7)) AS dirty
  FROM documents)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        replace(replace(replace(replace(replace(
          dirty,
          '\u2018', ''''), '\u2019', ''''), '\u201c', '"'),
          '\u201d', '"'), '\u2014', '-')
        , '\u2026', '...', 'g'),
      '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g'),
    '[ \\t\u00a0\u2007\u2009\u200a\u202f\u3000]+', ' ', 'g') AS clean
FROM d
"""


def q_compression_gate(spark, sf_dir):
    """zlib compression-ratio signal (llmops/text.py
    op_compression_ratio). zlib has no SQL surface, so the gate
    anchors what DuckDB CAN state: the exact utf-8 byte total
    (integer twin of the kernel's raw_bytes) and the ratio-bounds
    invariant; the compressed lengths themselves are pinned against
    direct zlib calls in pytest."""
    d = _t(spark, sf_dir, "documents")
    df = op("compression_ratio", d, {"field": "text"})
    # bounds invariant restated exactly (round-12 text-garble lever:
    # a 1-byte doc compresses to ~9 bytes — ratio 9.0 — so the old
    # "max ratio <= 2.0" gate was simply false for tiny docs): zlib
    # never exceeds raw + 12 + raw/1000 bytes (2 header + 4 adler +
    # stored-block overhead), checked per row in exact integers
    viol = F.sum(F.when(
        (F.col("raw_bytes") > 0)
        & (F.col("compressed_bytes")
           > F.col("raw_bytes") + 12
           + F.floor(F.col("raw_bytes") / F.lit(1000)).cast("long")),
        1).otherwise(0))
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("raw_bytes").alias("sum_raw_bytes"),
        # >= 0: a NULL/empty doc is a 0-byte row at ratio 0.0 by the
        # op's documented contract (round-11 NULL-text sweep)
        ((F.min("compression_ratio") >= 0.0)
         & (viol == 0)).alias("ratios_bounded"))


_SQL_COMPRESSION_GATE = """
SELECT COUNT(*) AS n_docs,
       CAST(SUM(octet_length(encode(COALESCE(text, '')))) AS BIGINT)
         AS sum_raw_bytes,
       TRUE AS ratios_bounded
FROM documents
"""


# --------------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_filter_agg(spark, SF001)


def _rotation_order(keys: "list[str]") -> "list[str]":
    """Driver-evidence rotation, computed from disk (round 12).

    The round driver samples the FIRST ~50 ``queries()`` keys, so the
    prefix must always be the 50 least-recently-driver-sampled
    queries (tools/check_rotation.py gates this; never-sampled/new
    ops count as round 0 and lead).  Rounds 9-11 re-sorted the dict
    literal by hand every round — a guaranteed red the moment the
    driver committed a new CORRECTNESS file.  Now the order is
    DERIVED at call time from the CORRECTNESS_r*.json files next to
    this file: sort by (last-sampled round, name).  The dict literal
    below is an unordered registry; its comment grouping is historic.
    """
    import glob as _glob
    import re as _re

    root = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for f in _glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"r(\d+)", os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(f) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for k in data:
            last[k] = max(last.get(k, 0), rnd)
    return sorted(keys, key=lambda k: (last.get(k, 0), k))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _queries_registry()
    return {k: base[k] for k in _rotation_order(list(base))}


def _queries_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Unordered registry — queries() sorts it through
        # _rotation_order() so the driver's ~50-key sample prefix is
        # always the least-recently-sampled cohort. The round markers
        # below are historic grouping only.
        # -- never driver-sampled --
        "model_refresh": q_model_refresh,
        "ann_pq_versioned": q_ann_pq_versioned,
        "centroid_drift": q_centroid_drift,
        "vector_store_maintain": q_vector_store_maintain,
        # -- last driver-sampled r4 --
        "url_parts": q_url_parts,
        "vocab_topk": q_vocab_topk,
        "zorder": q_zorder,
        # -- last driver-sampled r5 --
        "ann_ivf": q_ann_ivf,
        "compression_gate": q_compression_gate,
        "corpus_diff": q_corpus_diff,
        "dedup_embedding_against": q_dedup_embedding_against,
        "dedup_lines": q_dedup_lines,
        "discounted_revenue": q_discounted_revenue,
        "dup_spans_remove": q_dup_spans_remove,
        "event_transitions": q_event_transitions,
        "expect": q_expect,
        "fillna_dropna": q_fillna_dropna,
        "first_last": q_first_last,
        "importance_weight": q_importance_weight,
        "large_volume_orders": q_large_volume_orders,
        "market_share": q_market_share,
        "ntile": q_ntile,
        "order_priority_check": q_order_priority_check,
        "parts_supplier_count": q_parts_supplier_count,
        "priority_lines": q_priority_lines,
        "product_profit": q_product_profit,
        "profile": q_profile,
        "promo_revenue": q_promo_revenue,
        "quality_classifier_gate": q_quality_classifier_gate,
        "sales_opportunity": q_sales_opportunity,
        "sample_pps_group": q_sample_pps_group,
        "small_qty_revenue": q_small_qty_revenue,
        "split_paragraphs": q_split_paragraphs,
        "ts_features": q_ts_features,
        "volume_shipping": q_volume_shipping,
        "waiting_suppliers": q_waiting_suppliers,
        # -- last driver-sampled r6 --
        "dedup_near_against": q_dedup_near_against,
        "fuzzy_join": q_fuzzy_join,
        "retention": q_retention,
        "shuffle_rows": q_shuffle_rows,
        "top_p": q_top_p,
        # -- last driver-sampled r7 --
        "budget_select": q_budget_select,
        "dup_spans": q_dup_spans,
        "embedding_outlier": q_embedding_outlier,
        "gopher_quality": q_gopher_quality,
        "phash": q_phash,
        "quantize_embedding": q_quantize_embedding,
        "split_assign": q_split_assign,
        "text_normalize": q_text_normalize,
        # -- last driver-sampled r8 --
        "aggregate_count": q_aggregate_count,
        "ann_lsh": q_ann_lsh,
        "asof_nearest": q_asof_nearest,
        "attribution_first": q_attribution_first,
        "attribution_last": q_attribution_last,
        "attribution_linear": q_attribution_linear,
        "attribution_linear_exact": q_attribution_linear_exact,
        "bucketize": q_bucketize,
        "category_drift": q_category_drift,
        "category_drift_summary": q_category_drift_summary,
        "collocations": q_collocations,
        "components": q_components,
        "customer_distribution": q_customer_distribution,
        "dedup": q_dedup,
        "dedup_exact": q_dedup_exact,
        "events_session_window_stream": q_events_session_window_stream,
        "excess_suppliers": q_excess_suppliers,
        "expect_fk": q_expect_fk,
        "filter_agg": q_filter_agg,
        "funnel": q_funnel,
        "heavy_hitters_stream": q_heavy_hitters_stream,
        "important_parts": q_important_parts,
        "interval_join": q_interval_join,
        "interval_merge": q_interval_merge,
        "join": q_join,
        "key_skew": q_key_skew,
        "ks_drift": q_ks_drift,
        "l_diversity": q_l_diversity,
        "mad_outlier": q_mad_outlier,
        "min_cost_supplier": q_min_cost_supplier,
        "mix_corpus": q_mix_corpus,
        "pagerank": q_pagerank,
        "pit_enrich": q_pit_enrich,
        "quantile_sketch_gate": q_quantile_sketch_gate,
        "quantiles": q_quantiles,
        "quantiles_cont": q_quantiles_cont,
        "resample": q_resample,
        "resample_linear": q_resample_linear,
        "rolling": q_rolling,
        "sample_pps": q_sample_pps,
        "sequence_assemble": q_sequence_assemble,
        "similarity_join": q_similarity_join,
        "sort_limit": q_sort_limit,
        "time_rollup": q_time_rollup,
        "time_weighted": q_time_weighted,
        "time_weighted_daily": q_time_weighted_daily,
        "top_supplier": q_top_supplier,
        "winnow": q_winnow,
        "winnow_overlap": q_winnow_overlap,
        "winsorize": q_winsorize,
        # -- last driver-sampled r9 --
        "aggregate_global": q_aggregate_global,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_pq": q_ann_pq,
        "asof_forward": q_asof_forward,
        "asof_join": q_asof_join,
        "corpus_prep": q_corpus_prep,
        "cube": q_cube,
        "dedup_near_groups": q_dedup_near_groups,
        "dedup_near_minhash": q_dedup_near_minhash,
        "dispersion": q_dispersion,
        "embedding_stats": q_embedding_stats,
        "events_session_window": q_events_session_window,
        "events_sliding_window": q_events_sliding_window,
        "events_window": q_events_window,
        "expr_funcs": q_expr_funcs,
        "filter_contains": q_filter_contains,
        "filter_eq": q_filter_eq,
        "filter_notnull": q_filter_notnull,
        "fingerprint": q_fingerprint,
        "frame_sample": q_frame_sample,
        "grouping_sets": q_grouping_sets,
        "join_multi": q_join_multi,
        "json_extract": q_json_extract,
        "knn_join": q_knn_join,
        "lang_id": q_lang_id,
        "map_ops": q_map,
        "monthly_revenue": q_monthly_revenue,
        "multimodal_meta": q_multimodal_meta,
        "near_dup_minhash": q_near_dup_minhash,
        "near_dup_simhash": q_near_dup_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "parse_props": q_parse_props,
        "pivot": q_pivot,
        "pq_encode": q_pq_encode,
        "quality_score": q_quality_score,
        "range_join": q_range_join,
        "regional_volume": q_regional_volume,
        "rename_union": q_rename_union,
        "returned_items": q_returned_items,
        "revenue_forecast": q_revenue_forecast,
        "rollup": q_rollup,
        "running_total": q_running_total,
        "semdedup": q_semdedup,
        "sessionize": q_sessionize,
        "set_except": q_set_except,
        "set_intersect": q_set_intersect,
        "shipping_priority": q_shipping_priority,
        "text_stats": q_text_stats,
        "token_count": q_token_count,
        "unpivot": q_unpivot,
        # -- last driver-sampled r10 --
        "ann_ivfpq": q_ann_ivfpq,
        "ann_pq_served": q_ann_pq_served,
        "audio_meta": q_audio_meta,
        "bigram_logprob": q_bigram_logprob,
        "bm25": q_bm25,
        "bpe_gate": q_bpe_gate,
        "cap_per_group": q_cap_per_group,
        "cdc_gate": q_cdc_gate,
        "chunk_text": q_chunk_text,
        "clean_lines": q_clean_lines,
        "contamination": q_contamination,
        "corpus_prep_stream": q_corpus_prep_stream,
        "decode_meta": q_decode_meta,
        "dedup_against": q_dedup_against,
        "dedup_embedding_groups_parity": q_dedup_embedding_groups_parity,
        "dedup_embedding_parity": q_dedup_embedding_parity,
        "dedup_near_best": q_dedup_near_best,
        "distinct_sketch_gate": q_distinct_sketch_gate,
        "events_window_stream": q_events_window_stream,
        "funnel_timing": q_funnel_timing,
        "hash_columns": q_hash_columns,
        "heavy_hitters": q_heavy_hitters,
        "heavy_hitters_mg": q_heavy_hitters_mg,
        "histogram": q_histogram,
        "ivf_assign_gate": q_ivf_assign_gate,
        "k_anonymity": q_k_anonymity,
        "merge_agg": q_merge_agg,
        "mix_corpus_gate": q_mix_corpus_gate,
        "mix_temperature": q_mix_temperature,
        "pack_sequences": q_pack_sequences,
        "pii_scrub": q_pii_scrub,
        "pq_books": q_pq_books,
        "repetition_stats": q_repetition_stats,
        "resize_meta": q_resize_meta,
        "sample_gate": q_sample_gate,
        "scd2": q_scd2,
        "split_assign_gate": q_split_assign_gate,
        "stateful_dedup_stream": q_stateful_dedup_stream,
        "stream_join": q_stream_join,
        "stream_join_stream": q_stream_join_stream,
        "strip_markup": q_strip_markup,
        "tfidf_topk": q_tfidf_topk,
        "topk_per_group": q_topk_per_group,
        "triangles": q_triangles,
        "triangles_per_node": q_triangles_per_node,
        "unigram_logprob": q_unigram_logprob,
        "vector_health": q_vector_health,
        "vector_ingest_stream": q_vector_ingest_stream,
        "window_rank": q_window_rank,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "dedup_embedding_parity": _SQL_DEDUP_EMBEDDING_PARITY,
        "dedup_embedding_groups_parity": _SQL_DEDUP_EMBEDDING_GROUPS_PARITY,
        "decode_meta": _SQL_DECODE_META,
        "audio_meta": _SQL_AUDIO_META,
        "resize_meta": _SQL_RESIZE_META,
        "ivf_assign_gate": _SQL_IVF_ASSIGN_GATE,
        "split_assign_gate": _SQL_SPLIT_ASSIGN_GATE,
        "mix_corpus_gate": _SQL_MIX_CORPUS_GATE,
        "events_window_stream": _SQL_EVENTS_WINDOW,
        "events_session_window_stream": _SQL_EVENTS_SESSION_WINDOW,
        "stateful_dedup_stream": _SQL_STATEFUL_DEDUP_STREAM,
        "corpus_prep_stream": _SQL_CORPUS_PREP_STREAM,
        "chunk_text": _SQL_CHUNK_TEXT,
        "vocab_topk": _SQL_VOCAB_TOPK,
        "contamination": _SQL_CONTAMINATION,
        "pii_scrub": _SQL_PII_SCRUB,
        "repetition_stats": _SQL_REPETITION_STATS,
        "tfidf_topk": _SQL_TFIDF_TOPK,
        "pack_sequences": _SQL_PACK_SEQUENCES,
        "sample_gate": _SQL_SAMPLE_GATE,
        "dedup_against": _SQL_DEDUP_AGAINST,
        "strip_markup": _SQL_STRIP_MARKUP,
        "cap_per_group": _SQL_CAP_PER_GROUP,
        "histogram": _SQL_HISTOGRAM,
        "clean_lines": _SQL_CLEAN_LINES,
        "unigram_logprob": _SQL_UNIGRAM_LOGPROB,
        "stream_join": _SQL_STREAM_JOIN,
        "stream_join_stream": _SQL_STREAM_JOIN,
        "heavy_hitters": _SQL_HEAVY_HITTERS,
        "heavy_hitters_mg": _SQL_HEAVY_HITTERS,
        "distinct_sketch_gate": _SQL_DISTINCT_SKETCH_GATE,
        "scd2": _SQL_SCD2,
        "bm25": _SQL_BM25,
        "expect_fk": _SQL_EXPECT_FK,
        "triangles": _SQL_TRIANGLES,
        "triangles_per_node": _SQL_TRIANGLES_PER_NODE,
        "funnel_timing": _SQL_FUNNEL_TIMING,
        "merge_agg": _SQL_MERGE_AGG,
        "k_anonymity": _SQL_K_ANONYMITY,
        "url_parts": _SQL_URL_PARTS,
        "sample_pps": _SQL_SAMPLE_PPS,
        "sample_pps_group": _SQL_SAMPLE_PPS_GROUP,
        "bpe_gate": _SQL_BPE_GATE,
        "cdc_gate": _SQL_CDC_GATE,
        "zorder": _SQL_ZORDER,
        "key_skew": _SQL_KEY_SKEW,
        "hash_columns": _SQL_HASH_COLUMNS,
        "ntile": _SQL_NTILE,
        "first_last": _SQL_FIRST_LAST,
        "ts_features": _SQL_TS_FEATURES,
        "fillna_dropna": _SQL_FILLNA_DROPNA,
        "bigram_logprob": _SQL_BIGRAM_LOGPROB,
        "dup_spans": _SQL_DUP_SPANS,
        "embedding_outlier": _SQL_EMBEDDING_OUTLIER,
        "components": _SQL_COMPONENTS,
        "mix_corpus": _SQL_MIX_CORPUS,
        "shuffle_rows": _SQL_SHUFFLE_ROWS,
        "budget_select": _SQL_BUDGET_SELECT,
        "corpus_diff": _SQL_CORPUS_DIFF,
        "dedup_lines": _SQL_DEDUP_LINES,
        "fuzzy_join": _SQL_FUZZY_JOIN,
        "expect": _SQL_EXPECT,
        "order_priority_check": _SQL_ORDER_PRIORITY_CHECK,
        "volume_shipping": _SQL_VOLUME_SHIPPING,
        "market_share": _SQL_MARKET_SHARE,
        "product_profit": _SQL_PRODUCT_PROFIT,
        "priority_lines": _SQL_PRIORITY_LINES,
        "promo_revenue": _SQL_PROMO_REVENUE,
        "parts_supplier_count": _SQL_PARTS_SUPPLIER_COUNT,
        "discounted_revenue": _SQL_DISCOUNTED_REVENUE,
        "waiting_suppliers": _SQL_WAITING_SUPPLIERS,
        "sales_opportunity": _SQL_SALES_OPPORTUNITY,
        "customer_distribution": _SQL_CUSTOMER_DISTRIBUTION,
        "top_supplier": _SQL_TOP_SUPPLIER,
        "min_cost_supplier": _SQL_MIN_COST_SUPPLIER,
        "important_parts": _SQL_IMPORTANT_PARTS,
        "excess_suppliers": _SQL_EXCESS_SUPPLIERS,
        "interval_merge": _SQL_INTERVAL_MERGE,
        "l_diversity": _SQL_L_DIVERSITY,
        "winnow": _SQL_WINNOW,
        "winnow_overlap": _SQL_WINNOW_OVERLAP,
        "attribution_last": _SQL_ATTRIBUTION_LAST,
        "attribution_first": _SQL_ATTRIBUTION_FIRST,
        "interval_join": _SQL_INTERVAL_JOIN,
        "time_rollup": _SQL_TIME_ROLLUP,
        "attribution_linear": _SQL_ATTRIBUTION_LINEAR,
        "attribution_linear_exact": _SQL_ATTRIBUTION_LINEAR_EXACT,
        "category_drift": _SQL_CATEGORY_DRIFT,
        "category_drift_summary": _SQL_CATEGORY_DRIFT_SUMMARY,
        "ks_drift": _SQL_KS_DRIFT,
        "sequence_assemble": _SQL_SEQUENCE_ASSEMBLE,
        "bucketize": _SQL_BUCKETIZE,
        "dedup_embedding_against": _SQL_DEDUP_EMBEDDING_AGAINST,
        "top_p": _SQL_TOP_P,
        "winsorize": _SQL_WINSORIZE,
        "resample": _SQL_RESAMPLE,
        "mad_outlier": _SQL_MAD_OUTLIER,
        "quantile_sketch_gate": _SQL_QUANTILE_SKETCH_GATE,
        "heavy_hitters_stream": _SQL_HEAVY_HITTERS,
        "collocations": _SQL_COLLOCATIONS,
        "gopher_quality": _SQL_GOPHER_QUALITY,
        "importance_weight": _SQL_IMPORTANCE_WEIGHT,
        "quality_classifier_gate": _SQL_QUALITY_CLASSIFIER_GATE,
        "split_paragraphs": _SQL_SPLIT_PARAGRAPHS,
        "dup_spans_remove": _SQL_DUP_SPANS_REMOVE,
        "small_qty_revenue": _SQL_SMALL_QTY_REVENUE,
        "large_volume_orders": _SQL_LARGE_VOLUME_ORDERS,
        "phash": _SQL_PHASH,
        "quantize_embedding": _SQL_QUANTIZE_EMBEDDING,
        "dedup_near_against": _SQL_DEDUP_NEAR_AGAINST,
        "funnel": _SQL_FUNNEL,
        "retention": _SQL_RETENTION,
        "event_transitions": _SQL_EVENT_TRANSITIONS,
        "pagerank": _SQL_PAGERANK,
        "text_normalize": _SQL_TEXT_NORMALIZE,
        "compression_gate": _SQL_COMPRESSION_GATE,
        "filter_agg": _SQL_FILTER_AGG,
        "filter_eq": _SQL_FILTER_EQ,
        "filter_contains": _SQL_FILTER_CONTAINS,
        "filter_notnull": _SQL_FILTER_NOTNULL,
        "map_ops": _SQL_MAP,
        "aggregate_count": _SQL_AGGREGATE_COUNT,
        "aggregate_global": _SQL_AGGREGATE_GLOBAL,
        "join": _SQL_JOIN,
        "join_multi": _SQL_JOIN_MULTI,
        "sort_limit": _SQL_SORT_LIMIT,
        "dedup": _SQL_DEDUP,
        "rename_union": _SQL_RENAME_UNION,
        "topk_per_group": _SQL_TOPK_PER_GROUP,
        "window_rank": _SQL_WINDOW_RANK,
        "text_stats": _SQL_TEXT_STATS,
        "token_count": _SQL_TOKEN_COUNT,
        "quality_score": _SQL_QUALITY_SCORE,
        "lang_id": _SQL_LANG_ID,
        "fingerprint": _SQL_FINGERPRINT,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "ngram_jaccard": _SQL_NGRAM_JACCARD,
        "ann_bruteforce": _SQL_ANN_BRUTEFORCE,
        "multimodal_meta": _SQL_MULTIMODAL_META,
        "events_window": _SQL_EVENTS_WINDOW,
        "events_sliding_window": _SQL_EVENTS_SLIDING_WINDOW,
        "events_session_window": _SQL_EVENTS_SESSION_WINDOW,
        "sessionize": _SQL_SESSIONIZE,
        "asof_join": _SQL_ASOF_JOIN,
        "asof_forward": _SQL_ASOF_FORWARD,
        "asof_nearest": _SQL_ASOF_NEAREST,
        "time_weighted": _SQL_TIME_WEIGHTED,
        "time_weighted_daily": _SQL_TIME_WEIGHTED_DAILY,
        "pit_enrich": _SQL_PIT_ENRICH,
        "rolling": _SQL_ROLLING,
        "resample_linear": _SQL_RESAMPLE_LINEAR,
        "quantiles_cont": _SQL_QUANTILES_CONT,
        "range_join": _SQL_RANGE_JOIN,
        "rollup": _SQL_ROLLUP,
        "cube": _SQL_CUBE,
        "grouping_sets": _SQL_GROUPING_SETS,
        "dispersion": _SQL_DISPERSION,
        "pivot": _SQL_PIVOT,
        "set_except": _SQL_SET_EXCEPT,
        "set_intersect": _SQL_SET_INTERSECT,
        "expr_funcs": _SQL_EXPR_FUNCS,
        "json_extract": _SQL_JSON_EXTRACT,
        "parse_props": _SQL_PARSE_PROPS,
        "quantiles": _SQL_QUANTILES,
        "monthly_revenue": _SQL_MONTHLY_REVENUE,
        "shipping_priority": _SQL_SHIPPING_PRIORITY,
        "regional_volume": _SQL_REGIONAL_VOLUME,
        "revenue_forecast": _SQL_REVENUE_FORECAST,
        "returned_items": _SQL_RETURNED_ITEMS,
        "near_dup_minhash": _SQL_MINHASH_PARITY,
        "dedup_near_minhash": _SQL_DEDUP_NEAR_PARITY,
        "dedup_near_groups": _SQL_DEDUP_GROUPS_PARITY,
        "dedup_near_best": _SQL_DEDUP_NEAR_BEST,
        "mix_temperature": _SQL_MIX_TEMPERATURE,
        "near_dup_simhash": _SQL_SIMHASH_GATE,
        "ann_lsh": _SQL_ANN_GATE,
        "ann_ivf": _SQL_ANN_GATE,
        "similarity_join": _SQL_SIMILARITY_PARITY,
        "knn_join": _SQL_KNN_JOIN,
        "semdedup": _SQL_SEMDEDUP,
        "pq_encode": _SQL_PQ_ENCODE,
        "ann_pq": _SQL_ANN_PQ,
        "pq_books": _SQL_PQ_BOOKS_MODEL,
        "vector_store_maintain": _SQL_VECTOR_STORE_MAINTAIN,
        "centroid_drift": _SQL_CENTROID_DRIFT,
        "model_refresh": _SQL_MODEL_REFRESH,
        "ann_pq_versioned": _SQL_ANN_PQ_VERSIONED,
        # serving path + exhaustive-pruning IVFADC both contractually
        # reproduce the self-training exhaustive ADC result
        "ann_pq_served": _SQL_ANN_PQ,
        "ann_ivfpq": _SQL_ANN_PQ,
        "vector_health": _SQL_VECTOR_HEALTH,
        "vector_ingest_stream": _SQL_VECTOR_INGEST_STREAM,
        "frame_sample": _SQL_FRAME_SAMPLE,
        "split_assign": _SQL_SPLIT_ASSIGN,
        "corpus_prep": _SQL_CORPUS_PREP,
        "profile": _SQL_PROFILE,
        "unpivot": _SQL_UNPIVOT,
        "running_total": _SQL_RUNNING_TOTAL,
        "embedding_stats": _SQL_EMBEDDING_STATS,
    }
