"""Core relational operators.

Parity surface with the reference transforms (reference
main.py:159-291: filter, map, aggregate, join, sort, deduplicate,
select, rename, plus the implicit union-all at main.py:437-442),
re-expressed as declarative DataFrame plans so Catalyst can push
filters to the scan, prune columns, and pick join strategies.

Decided divergences from the reference's quirks (SURVEY.md §7.4) —
we are SQL-sane, matching the ANSI/DuckDB oracle:

- ``map int/float`` uses ``try_cast`` → NULL on failure (the
  reference silently keeps the original value, main.py:219-222 —
  inexpressible with fixed column types).
- ``aggregate`` over an all-NULL group yields NULL (the reference
  emits ``0`` for sum and omits the column for avg/max/min,
  main.py:241-247 — ragged rows don't exist in Spark).
- ``join`` is a real relational join (1:N). The reference collapses
  the right side so the last duplicate wins (main.py:256); that 1:1
  mode is available via ``dedupe_right`` but needs an explicit
  ``right_order_by`` at scale, where "input order" is not free.
- ``sort`` is a total order via Spark's range-partitioned sort
  exchange; ties are arbitrary across partitions unless the sort key
  is total (the reference's Timsort was stable, main.py:268).
"""

from __future__ import annotations

import threading
from collections.abc import Mapping
from functools import reduce

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parallel import lit_frame
from .registry import register

# --------------------------------------------------------------------------
# filter — reference main.py:180-203
# --------------------------------------------------------------------------

_COMPARATORS = {
    "eq": lambda c, v: c == v,
    "ne": lambda c, v: c != v,
    "gt": lambda c, v: c > v,
    "lt": lambda c, v: c < v,
    "ge": lambda c, v: c >= v,
    "le": lambda c, v: c <= v,
}


_NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def _coerced_column(col: Column, dtype: str | None, value) -> Column:
    """Coerce-to-literal-type comparison (the reference's
    ``type(value)(v)`` rule, main.py:188) — but ONLY when the column's
    type doesn't already compare naturally. A numeric column compared
    to a numeric literal stays uncast so the predicate pushes down to
    the parquet scan (casting the column would disable pushdown and,
    for int literals, silently truncate doubles)."""
    numeric = dtype is not None and dtype.startswith(_NUMERIC_DTYPES)
    if isinstance(value, bool):
        return col if dtype == "boolean" else col.cast("boolean")
    if isinstance(value, (int, float)):
        return col if numeric else col.cast("double")
    if isinstance(value, str):
        return col if dtype == "string" else col.cast("string")
    return col


@register("filter")
def op_filter(df: DataFrame, config: Mapping, views) -> DataFrame:
    field = config["field"]
    op = config.get("op", "eq")
    value = config.get("value")
    col = F.col(field)
    if op in _COMPARATORS:
        dtype = dict(df.dtypes).get(field)
        return df.filter(_COMPARATORS[op](_coerced_column(col, dtype, value), F.lit(value)))
    if op == "contains":
        return df.filter(col.cast("string").contains(str(value)))
    if op == "in":
        return df.filter(col.isin(list(value)))
    if op == "between":
        lo, hi = value
        return df.filter(col.between(lo, hi))
    if op == "notnull":
        # reference treats "" as null too (main.py:201)
        c = col.isNotNull()
        if dict(df.dtypes).get(field) == "string":
            c = c & (col != F.lit(""))
        return df.filter(c)
    if op == "isnull":
        return df.filter(col.isNull())
    raise ValueError(f"unknown filter op: {op!r}")


# --------------------------------------------------------------------------
# map — reference main.py:205-224
# --------------------------------------------------------------------------

_MAP_OPS = {
    "str": lambda c: c.cast("string"),
    # int truncates toward zero (Python int() semantics for numerics);
    # non-numeric strings -> NULL (decided divergence, SURVEY.md §7.4.1)
    "int": lambda c: c.try_cast("double").cast("long"),
    "float": lambda c: c.try_cast("double"),
    "upper": lambda c: F.upper(c.cast("string")),
    "lower": lambda c: F.lower(c.cast("string")),
    "strip": lambda c: F.trim(c.cast("string")),
    "abs": lambda c: F.abs(c),
    "round": lambda c: F.round(c, 0),
}


@register("map")
def op_map(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-row scalar function on one column. The reference's six ops
    (main.py:208-213) plus the full scalar registry in
    :mod:`..functions` — all built-in Catalyst expressions."""
    field = config["field"]
    operation = config.get("operation", "str")
    if operation in _MAP_OPS:
        fn = _MAP_OPS[operation]
    else:
        from ..functions import resolve

        fn = resolve(operation)
    target = config.get("as", field)
    return df.withColumn(target, fn(F.col(field)))


@register("expr")
def op_expr(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Computed columns from Spark SQL expressions — the expression
    language the reference lacks entirely (SURVEY.md §2.5). Stays a
    Catalyst plan: expressions fold, push down, and codegen like any
    built-in. ``exprs`` maps output column -> SQL expression string."""
    cols = [F.expr(e).alias(a) for a, e in config["exprs"].items()]
    if config.get("replace"):
        return df.select(*cols)
    return df.select("*", *cols)


@register("parse_json")
def op_parse_json(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Parse a JSON-string column into a typed struct with an explicit
    schema (``from_json``). Declaring the schema keeps the whole read
    JVM-side and prunable; for ad-hoc single paths use the
    ``get_json_object`` expression via ``expr`` instead."""
    field = config["field"]
    target = config.get("as", f"{field}_parsed")
    out = df.withColumn(target, F.from_json(F.col(field), config["schema"]))
    if config.get("flatten"):
        return out.select("*", f"{target}.*").drop(target)
    return out


# serializes op_sql's use of the session-global temp-view namespace
_SQL_VIEWS_LOCK = threading.Lock()


@register("sql")
def op_sql(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Full Spark SQL over the current frame (view ``self``) and every
    named source view — subqueries, CTEs, any join shape. Views are
    dropped again after the query resolves (resolution is eager in
    ``spark.sql``), so no session-global view state leaks between
    operators or pipelines sharing the session. The views are
    session-global, so the register → resolve → drop window holds
    `_SQL_VIEWS_LOCK`: two concurrent sql ops over the same view names
    would otherwise resolve each other's frames or drop each other's
    views mid-query."""
    spark = df.sparkSession
    names = [config.get("self_name", "self"), *list(views or {})]
    with _SQL_VIEWS_LOCK:
        df.createOrReplaceTempView(names[0])
        for name, v in (views or {}).items():
            v.createOrReplaceTempView(name)
        try:
            return spark.sql(config["query"])
        finally:
            for name in names:
                spark.catalog.dropTempView(name)


# --------------------------------------------------------------------------
# aggregate — reference main.py:226-249
# --------------------------------------------------------------------------


def exact_sum(col: Column, w: WindowSpec | None = None) -> Column:
    """The one float sum of the package: sum in exact decimal, then
    cast back to double — bit-for-bit deterministic under any
    partitioning / AQE re-plan / window frame impl (double addition
    is order-sensitive; decimal is not). The cast goes through string
    because decimal->string->double is correctly rounded in every
    engine, while direct decimal->double isn't (DuckDB computes
    int128/10^scale in floating point). ``w`` makes it a window sum;
    ``.over()`` attaches to the aggregate itself, never the outer cast.
    Domain bound: decimal(38,10) holds |x| < 1e28 — far beyond any
    realistic metric, but inputs past it raise under ANSI mode rather
    than silently losing precision."""
    s = F.sum(col.cast("decimal(38,10)"))
    if w is not None:
        s = s.over(w)
    return s.cast("string").cast("double")


def _agg_expr(field: str, fn: str, alias: str | None = None,
              spec: Mapping | None = None) -> Column:
    """One aggregate. ``count`` counts rows including NULL agg-field
    values (reference ``len(rows)``, main.py:239); numeric fns coerce
    to double (reference float(), main.py:241-247). Output column is
    ``{field}_{fn}`` (reference main.py:239-247)."""
    name = alias or f"{field}_{fn}"
    col = F.col(field)
    spec = spec or {}
    if fn in ("sum_fixed", "avg_fixed"):
        # Exact sum for FIXED-POINT columns (money, quantities with a
        # known decimal scale): sum round(x * 10^scale) as long —
        # exact and order-independent like the decimal path below, but
        # stays on the JVM long fast path instead of per-row
        # double->string->BigDecimal conversion (~2x faster measured
        # on the sf0.1 headline agg). Caller asserts the scale; values
        # off the fixed-point grid would be silently rounded, so this
        # is opt-in per column. Overflow bound: |x| * 10^scale * rows
        # < 2^63 — at scale 2 that is ~9e16 total, so for 100 TB facts
        # keep the default decimal ``sum`` or raise ``scale`` checks.
        scale = int(spec.get("scale", 2))
        m = float(10**scale)
        s = F.sum(F.round(col * m).cast("long")) / m
        if fn == "avg_fixed":
            return (s / F.count(col)).alias(name)
        return s.alias(name)
    if fn == "count":
        return F.count(F.lit(1)).alias(name)
    if fn == "count_distinct":
        return F.countDistinct(col).alias(name)
    if fn == "approx_count_distinct":
        return F.approx_count_distinct(col).alias(name)
    if fn in ("sum", "avg"):
        dec = exact_sum(col)
        if fn == "avg":
            return (dec / F.count(col)).alias(name)
        return dec.alias(name)
    if fn in ("max", "min"):
        return getattr(F, fn)(col.cast("double")).alias(name)
    if fn in ("first", "last"):
        return getattr(F, fn)(col, ignorenulls=True).alias(name)
    if fn == "stddev":
        return F.stddev(col.cast("double")).alias(name)
    if fn == "median":
        # exact interpolated median — buffers per-group values; for
        # sketch-sized state at 100 TB use approx_percentile instead
        return F.median(col.cast("double")).alias(name)
    if fn == "approx_percentile":
        return F.percentile_approx(col.cast("double"), 0.5).alias(name)
    if fn == "collect_set":
        return F.collect_set(col).alias(name)
    raise ValueError(f"unknown aggregate function: {fn!r}")


@register("aggregate")
def op_aggregate(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Group-by + aggregates. Reference supports exactly one aggregate
    per node (main.py:226-249); we additionally accept a list under
    ``aggregates`` (multi-agg is one shuffle either way — Spark's
    HashAggregate does partial map-side combine, so this scales where
    the reference's buffer-all-rows-per-group dict could not)."""
    group_by = list(config.get("group_by", []))
    specs = config.get("aggregates")
    if specs is None:
        specs = [{"field": config["field"], "function": config.get("function", "count")}]
    exprs = [_agg_expr(s["field"], s.get("function", "count"), s.get("alias"), s)
             for s in specs]
    mode = config.get("grouping", "groupby")
    if mode == "rollup":
        return df.rollup(*group_by).agg(*exprs)
    if mode == "cube":
        return df.cube(*group_by).agg(*exprs)
    if mode == "grouping_sets":
        return df.groupingSets(
            [[F.col(c) for c in s] for s in config["sets"]],
            *[F.col(c) for c in group_by],
        ).agg(*exprs)
    if group_by:
        return df.groupBy(*group_by).agg(*exprs)
    return df.agg(*exprs)


@register("pivot")
def op_pivot(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Group-by + pivot one column's values into output columns.

    ``values`` is REQUIRED: without it Spark runs an extra distinct
    job over the pivot column to discover values — an unbounded scan
    at 100 TB. Output columns are ``{prefix}{value}``.
    """
    keys = list(config["group_by"])
    pivot_col = config["pivot"]
    values = list(config["values"])
    spec = config.get("aggregate", {"field": pivot_col, "function": "count"})
    prefix = config.get("prefix", f"{spec['field']}_")
    expr = _agg_expr(spec["field"], spec.get("function", "count"), "__v")
    out = df.groupBy(*keys).pivot(pivot_col, values).agg(expr)
    # rename POSITIONALLY: Spark's generated pivot column names differ
    # from Python's str() for bool/float/null values, so a name-keyed
    # rename would silently no-op. Output order is keys then one
    # column per requested value.
    generated = out.columns[len(keys):]
    renames = {g: f"{prefix}{v}" for g, v in zip(generated, values)}
    return out.withColumnsRenamed(renames)


# --------------------------------------------------------------------------
# join — reference main.py:251-263
# --------------------------------------------------------------------------


@register("join")
def op_join(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Equi join against another source (by view name) or DataFrame.

    Right columns get a configurable prefix (reference hard-codes
    ``r_``, main.py:261). ``how`` extends the reference's inner-only
    join to the full Spark join family. ``broadcast=True`` hints the
    right side (dimension tables); otherwise AQE decides.

    ``dedupe_right='first'|'last'`` reproduces the reference's
    collapse-right-to-dict 1:1 semantics (main.py:256, last wins);
    it requires ``right_order_by`` for a deterministic pick — at
    100 TB there is no ambient "input order" to fall back on.
    """
    right = config["right"]
    if isinstance(right, str):
        right_df = views[right]
    else:
        right_df = right
    left_key = config.get("left_key", "id")
    right_key = config.get("right_key", "id")
    how = config.get("how", "inner")
    prefix = config.get("prefix", "r_")

    dedupe = config.get("dedupe_right")
    if dedupe in ("first", "last"):
        order_cols = config.get("right_order_by")
        if order_cols:
            ordering = [F.col(c) for c in order_cols]
        else:
            ordering = [F.monotonically_increasing_id()]
        if dedupe == "last":
            ordering = [c.desc() for c in ordering]
        w = Window.partitionBy(right_key).orderBy(*ordering)
        right_df = (
            right_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    right_df = right_df.select([F.col(c).alias(f"{prefix}{c}") for c in right_df.columns])
    if config.get("broadcast"):
        right_df = F.broadcast(right_df)
    # reference the two sides' attributes directly so the condition stays
    # unambiguous even when prefix="" leaves identical column names
    cond = df[left_key] == right_df[f"{prefix}{right_key}"]

    salt = int(config.get("salt", 0))
    if salt > 1 and not config.get("broadcast"):
        # Skew mitigation when AQE can't help (e.g. one key holding a
        # double-digit share of rows): spread each hot left key over
        # `salt` partitions via a deterministic per-row hash, replicate
        # the right side salt times. Right replication breaks
        # right/full-outer semantics, so those are rejected.
        if how not in ("inner", "left", "left_outer", "leftouter"):
            raise ValueError(f"salted join supports inner/left, not {how!r}")
        df = df.withColumn(
            "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt)))
        right_df = right_df.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
        out = df.join(right_df, cond & (df["__salt"] == right_df["__salt"]), how)
        return out.drop("__salt")
    return df.join(right_df, cond, how)


# --------------------------------------------------------------------------
# sort — reference main.py:265-268
# --------------------------------------------------------------------------


@register("sort")
def op_sort(df: DataFrame, config: Mapping, views) -> DataFrame:
    fields = config.get("fields") or [config["field"]]
    desc = config.get("descending", False)
    cols = [F.col(f).desc() if desc else F.col(f).asc() for f in fields]
    return df.orderBy(*cols)


@register("limit")
def op_limit(df: DataFrame, config: Mapping, views) -> DataFrame:
    return df.limit(int(config["n"]))


# --------------------------------------------------------------------------
# deduplicate — reference main.py:270-279
# --------------------------------------------------------------------------


@register("deduplicate")
def op_deduplicate(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Row dedup by key columns.

    ``keep='any'`` (default) → ``dropDuplicates``: a hash aggregate
    with map-side partial combine — the scale path (one shuffle on the
    keys, no window sort). ``keep='first'|'last'`` with ``order_by``
    gives the reference's deterministic keep-first (main.py:272-279)
    via a row_number window — one shuffle plus a per-key sort.
    """
    keys = list(config.get("keys") or [])
    if not keys:
        keys = df.columns
    keep = config.get("keep", "any")
    if keep == "any":
        return df.dropDuplicates(keys)
    order_cols = config.get("order_by")
    if order_cols:
        ordering = [F.col(c) for c in order_cols]
    else:
        ordering = [F.monotonically_increasing_id()]
    if keep == "last":
        ordering = [c.desc() for c in ordering]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# select / rename — reference main.py:281-291
# --------------------------------------------------------------------------


@register("select")
def op_select(df: DataFrame, config: Mapping, views) -> DataFrame:
    # reference silently drops fields a row lacks (main.py:283);
    # with a fixed schema that's "keep the listed columns that exist".
    fields = [f for f in config["fields"] if f in df.columns]
    return df.select(*fields)


@register("rename")
def op_rename(df: DataFrame, config: Mapping, views) -> DataFrame:
    mapping = {k: v for k, v in config["mapping"].items() if k in df.columns}
    return df.withColumnsRenamed(mapping)


# --------------------------------------------------------------------------
# union — reference main.py:437-442 (implicit union-all of all sources)
# --------------------------------------------------------------------------


@register("intersect")
def op_intersect(df: DataFrame, config: Mapping, views) -> DataFrame:
    """INTERSECT (distinct) / INTERSECT ALL — absent from the
    reference (SURVEY.md §2.5). Plans as a hash aggregate + join on
    all columns; one shuffle each side."""
    other = views[config["other"]] if isinstance(config["other"], str) else config["other"]
    return df.intersectAll(other) if config.get("all") else df.intersect(other)


@register("except")
def op_except(df: DataFrame, config: Mapping, views) -> DataFrame:
    """EXCEPT (distinct) / EXCEPT ALL — absent from the reference."""
    other = views[config["other"]] if isinstance(config["other"], str) else config["other"]
    return df.exceptAll(other) if config.get("all") else df.subtract(other)


@register("union")
def op_union(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Union-all with schema alignment by name; absent columns become
    NULL (the Spark shape of the reference's ragged concatenation)."""
    others = [views[name] if isinstance(name, str) else name for name in config["others"]]
    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), others, df)
    if config.get("distinct"):
        out = out.dropDuplicates()
    return out


@register("unpivot")
def op_unpivot(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Wide→long (melt): ``ids`` stay, ``values`` columns become
    (variable, value) rows. The inverse of pivot; pure projection +
    generate, no shuffle."""
    return df.unpivot(
        [F.col(c) for c in config["ids"]],
        [F.col(c) for c in config["values"]],
        config.get("variable_name", "variable"),
        config.get("value_name", "value"),
    )


@register("explode")
def op_explode(df: DataFrame, config: Mapping, views) -> DataFrame:
    """One output row per array element (optionally with position).
    Generate node — no shuffle; the array column is replaced by the
    element column ``as``."""
    field = config["field"]
    alias = config.get("as", f"{field}_elem")
    fn = F.posexplode if config.get("with_position") else F.explode
    if config.get("keep_nulls"):
        fn = F.posexplode_outer if config.get("with_position") else F.explode_outer
    others = [c for c in df.columns if c != field]
    if config.get("with_position"):
        return df.select(*others, fn(F.col(field)).alias("pos", alias))
    return df.select(*others, fn(F.col(field)).alias(alias))


@register("repartition")
def op_repartition(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Explicit layout control for pipeline authors: hash-partition by
    columns (co-locate downstream joins/aggs), round-robin to n, or
    ``coalesce`` (shuffle-free narrowing for small outputs)."""
    by = config.get("by")
    n = config.get("n")
    if config.get("coalesce"):
        return df.coalesce(int(n))
    if by:
        cols = [F.col(c) for c in by]
        return df.repartition(int(n), *cols) if n else df.repartition(*cols)
    return df.repartition(int(n))


_EXPECT_CHECKS = {
    # name -> (builder(check_cfg) -> Column that is TRUE when the row
    # passes). All JVM expressions — the whole check set compiles into
    # one codegen'd projection.
    "not_null": lambda c: F.col(c["field"]).isNotNull(),
    # ("unique" is handled inline in op_expect — it needs a window)
    "in_range": lambda c: F.col(c["field"]).cast("double").between(
        float(c["min"]), float(c["max"])) | F.col(c["field"]).isNull(),
    "in_set": lambda c: F.col(c["field"]).isin(list(c["values"]))
    | F.col(c["field"]).isNull(),
    "matches": lambda c: F.col(c["field"]).rlike(str(c["pattern"]))
    | F.col(c["field"]).isNull(),
    "expr": lambda c: F.expr(str(c["sql"])),
}


@register("expect")
def op_expect(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Row-level data-quality expectations (dbt-test / Great-
    Expectations shape) — the generalization of the reference's
    schema-only ``validate_schema`` (main.py:476-497) to value
    checks. ``checks`` is a list of {type, field, ...}:

    - ``not_null``; ``in_range`` {min,max}; ``in_set`` {values};
      ``matches`` {pattern}; ``expr`` {sql} (any boolean SQL over the
      row); ``unique`` {field} (no other row shares the value);
      ``foreign_key`` {field, ref, ref_field} (the value exists in
      another table — referential integrity; ``ref`` is a view name
      or DataFrame, joined on its distinct keys, broadcast by default
      since FK targets are dimension-sized; ``broadcast: false`` for
      fact-sized targets).
    - NULL passes the value-shape checks (pair with not_null to
      reject) — SQL three-valued-logic convention (a NULL FK passes
      foreign_key, like SQL's MATCH SIMPLE).

    ``on_fail``: ``"filter"`` (default) drops failing rows — the
    quarantine-the-rest ingestion pattern; ``"tag"`` keeps every row
    and adds a ``violations`` array column naming the failed checks
    (route rows where ``size(violations) > 0`` to a quarantine sink).

    Scale shape: everything except ``unique`` is a pure projection
    the scan absorbs. ``unique`` adds one hash shuffle on the checked
    field (a count-over window) — the same cost as the groupBy any
    uniqueness proof needs.
    """
    checks = list(config["checks"])
    on_fail = config.get("on_fail", "filter")
    if on_fail not in ("filter", "tag"):
        raise ValueError(f"unknown on_fail mode: {on_fail!r}")
    orig_cols = list(df.columns)
    out = df
    flags: list[tuple[str, Column]] = []
    for i, c in enumerate(checks):
        ctype = c["type"]
        name = c.get("name") or (f"{ctype}_{c['field']}" if c.get("field")
                                 else f"{ctype}_{i}")
        if ctype == "unique":
            # SQL UNIQUE-constraint convention: NULLs don't collide
            w = Window.partitionBy(F.col(c["field"]))
            ok = (F.count(F.lit(1)).over(w) == 1) | F.col(c["field"]).isNull()
        elif ctype == "foreign_key":
            ref = c["ref"]
            if isinstance(ref, str):
                ref = views[ref]
            ref_field = c.get("ref_field", c["field"])
            marker = f"__fk_{i}"
            keys = (ref.select(F.col(ref_field).alias(c["field"]))
                    .dropDuplicates([c["field"]])
                    .withColumn(marker, F.lit(True)))
            if c.get("broadcast", True):
                keys = F.broadcast(keys)
            out = out.join(keys, c["field"], "left")
            ok = F.col(c["field"]).isNull() | F.col(marker).isNotNull()
        elif ctype in _EXPECT_CHECKS:
            ok = _EXPECT_CHECKS[ctype](c)
        else:
            raise ValueError(f"unknown expectation type: {ctype!r}")
        # a NULL-valued check (possible for user `expr` SQL) counts as
        # FAILED in BOTH modes — WHERE semantics; without the coalesce
        # tag mode would silently treat NULL as a pass
        flags.append((name, F.coalesce(ok, F.lit(False))))
    violations = F.filter(
        F.array(*[F.when(~ok, F.lit(name)).otherwise(F.lit(None))
                  for name, ok in flags]),
        lambda x: x.isNotNull())
    if on_fail == "tag":
        # re-project to the input column order (+ the tag): fk-marker
        # joins prepend the join key and append marker columns
        vcol = config.get("as", "violations")
        return (out.withColumn(vcol, violations)
                .select(*orig_cols, vcol))
    if not flags:
        return out
    # window-backed checks (unique) can't sit in a WHERE clause —
    # materialize the conjunction as a projected column, filter, drop
    cond = None
    for _, ok in flags:
        cond = ok if cond is None else (cond & ok)
    return (out.withColumn("__expect_ok", cond)
            .filter(F.col("__expect_ok"))
            .select(*orig_cols))


@register("profile")
def op_profile(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-column data-quality profile in ONE pass: row count, null
    count, distinct count, numeric min/max. All columns' aggregates
    evaluate in a single HashAggregate (one scan, one reduce) and the
    wide row is exploded to long form driver-free via stack().

    ``approx: True`` swaps exact countDistinct for HyperLogLog++ —
    the 100 TB default (single shuffle); exact mode is the
    oracle-comparable option but multi-column exact distinct plans an
    Expand (input duplicated per profiled column) + a second shuffle.
    """
    cols = list(config.get("columns") or df.columns)
    approx = bool(config.get("approx", False))
    dtypes = dict(df.dtypes)
    exprs = []
    for c in cols:
        numeric = dtypes[c].startswith(_NUMERIC_DTYPES)
        distinct = (F.approx_count_distinct(c) if approx
                    else F.countDistinct(F.col(c)))
        exprs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            distinct.alias(f"{c}__distinct"),
            (F.min(F.col(c).cast("double")) if numeric
             else F.lit(None).cast("double")).alias(f"{c}__min"),
            (F.max(F.col(c).cast("double")) if numeric
             else F.lit(None).cast("double")).alias(f"{c}__max"),
        ]
    wide = df.agg(*exprs)
    stack_args = ", ".join(
        f"'{c}', `{c}__n`, `{c}__nulls`, `{c}__distinct`, `{c}__min`, `{c}__max`"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
    )


# --------------------------------------------------------------------------
# sampling / dataset splitting — training-data pipeline staples
# --------------------------------------------------------------------------


@register("sample")
def op_sample(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Bernoulli (or per-stratum) sample. Seeded, executor-side, no
    shuffle. ``by`` + ``fractions`` switches to stratified sampleBy
    (e.g. downsample a dominant language to rebalance a corpus)."""
    seed = int(config.get("seed", 42))
    if config.get("by"):
        fractions = {k: float(v) for k, v in config["fractions"].items()}
        return df.sampleBy(config["by"], fractions, seed=seed)
    return df.sample(fraction=float(config["fraction"]), seed=seed,
                     withReplacement=bool(config.get("with_replacement", False)))


@register("split_assign")
def op_split_assign(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Deterministic train/val/test assignment from a content hash —
    the split survives reruns, repartitioning, and incremental
    appends (randomSplit does not: it reshuffles membership whenever
    partitioning changes). ``on`` columns feed xxhash64; rows land in
    the first split whose cumulative fraction covers their hash
    bucket. No shuffle — a projection.
    """
    splits = config.get("splits", {"train": 0.98, "val": 0.01, "test": 0.01})
    buckets = int(config.get("buckets", 1_000_000))
    # md5 (not xxhash64) so the assignment is reproducible from ANY
    # engine — auditors can recompute membership in SQL
    # (CAST(concat('0x', substring(md5(...), 1, 15)) AS BIGINT) in
    # DuckDB): 15 hex chars = 60 bits, exact in a long, then pmod.
    # Key layout matches shuffle_rows: salt + unit-separator-joined
    # key columns (concat_ws skips NULL keys on both engines).
    salt = str(config.get("salt", "split"))
    key = F.concat_ws(
        "\x1f", F.lit(salt), *[F.col(c).cast("string") for c in config["on"]])
    h = F.pmod(F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long"),
               F.lit(buckets))
    expr = None
    acc = 0.0
    for name, frac in splits.items():
        acc += float(frac)
        cond = h < F.lit(int(round(acc * buckets)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    out = expr.otherwise(list(splits)[-1])
    return df.withColumn(config.get("as", "split"), out)


@register("shuffle_rows")
def op_shuffle_rows(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Reproducible global shuffle — the training-order randomization
    step. Rows order by md5(salt <unit-sep> key columns): md5, not
    xxhash64, so the permutation is identical in any engine and any
    run; vary ``salt`` per epoch for fresh orders. At scale this is a
    total sort, and Spark range-partitions on sampled key boundaries —
    the md5 keyspace is uniform, so the output stages are balanced
    with no single-task sort (unlike ordering by a skewed natural
    key). Duplicate ``on`` keys tie-break by the key columns so the
    full order stays deterministic. ``as`` keeps the shuffle key as a
    column (consumers re-sorting shards locally need it).
    """
    on = config["on"]
    salt = str(config.get("salt", "epoch0"))
    key = F.md5(F.concat_ws(
        "\x1f", F.lit(salt), *[F.col(c).cast("string") for c in on]))
    out_col = config.get("as")
    if out_col:
        df = df.withColumn(out_col, key)
        return df.orderBy(F.col(out_col), *[F.col(c) for c in on])
    return df.orderBy(key, *[F.col(c) for c in on])


@register("mix_corpus")
def op_mix_corpus(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Deterministic corpus mixing: keep each stratum (source,
    language, ...) at a target rate via content-hash bucketing — the
    training-mixture rebalance step ("downsample web crawl to 30%,
    keep all code"). Same machinery as split_assign, so the mixture is
    reproducible across reruns, repartitioning, and incremental
    appends (a seeded Bernoulli sample is not: row membership moves
    with partitioning). A salted hash decorrelates the keep decision
    from any split_assign on the same key columns — otherwise
    "train" rows would be kept preferentially. No shuffle — a filter
    the scan pipeline absorbs.

    config: ``by`` stratum column, ``rates`` {stratum value: keep
    rate in [0,1]}, ``on`` hash key columns, ``default_rate`` for
    unlisted strata (default 1.0), ``salt``/``buckets`` as
    split_assign.

    Temperature mode (``temperature: alpha`` instead of ``rates``):
    derive the rates FROM the observed stratum proportions — the
    multilingual-LM rebalance (mC4 / XLM-R style). With natural
    proportions p_i, temperature sampling wants post-mix proportions
    ∝ p_i^alpha; without upsampling that is a keep rate
    r_i = (n_min / n_i)^(1 - alpha), normalized so the rarest stratum
    keeps everything (alpha=1 → no change; alpha=0 → uniform strata;
    alpha<1 flattens the head). The per-stratum counts are a tiny
    groupBy-count (strata = languages/domains, bounded) collected to
    the driver; the thresholds are computed once in Python as
    floor(r*buckets + 0.5) so the same arithmetic replays in any SQL
    engine. Boundary caveat: r involves pow(), which is libm- (not
    IEEE-) specified — if r*buckets lands within an ulp of an
    integer, engines with different libms could disagree on one
    bucket's membership; the fixed thresholds this op PINS (computed
    once, then used as integer literals in the filter) make the Spark
    output itself deterministic regardless.
    """
    by = config["by"]
    on = [F.col(c) for c in config["on"]]
    buckets = int(config.get("buckets", 1_000_000))
    salt = str(config.get("salt", "mix"))
    if "temperature" in config:
        if "rates" in config:
            raise ValueError("pass either rates or temperature, not both")
        alpha = float(config["temperature"])
        if not 0.0 <= alpha <= 1.0:
            raise ValueError(f"temperature must be in [0,1], got {alpha}")
        import math
        # NULL strata are excluded from the proportion statistics and
        # ALWAYS KEPT (they fall through to the default threshold =
        # buckets below); stringifying a NULL would otherwise create a
        # 'None' threshold no NULL column value can ever match
        # (ADVICE r4-low)
        max_groups = int(config.get("max_groups", 1_000_000))
        # NULL strata are excluded from the stats (always kept — see
        # above), so filter them BEFORE the cardinality probe: a
        # frame with exactly max_groups real strata plus NULL-keyed
        # rows must not trip the guard on the discarded NULL row
        counts = {str(r[0]): r[1]
                  for r in _collect_group_scalars(
                      df.filter(F.col(by).isNotNull())
                        .groupBy(F.col(by).cast("string"))
                        .agg(F.count(F.lit(1)).alias("n")),
                      max_groups, "mix_corpus", [by])}
        if not counts:
            # empty input (or all-NULL strata): nothing to rebalance
            return df
        n_min = min(counts.values())
        # floor(x + 0.5) — NOT Python round(), whose banker's rounding
        # has no SQL twin — so the oracle replays threshold-for-threshold
        thresholds = {k: int(math.floor(
                          math.pow(n_min / n, 1.0 - alpha) * buckets + 0.5))
                      for k, n in counts.items()}
        default_thresh = buckets  # unseen strata (none, by construction)
    else:
        rates = {str(k): float(v) for k, v in config["rates"].items()}
        default_rate = float(config.get("default_rate", 1.0))
        for name, rate in [*rates.items(), ("default_rate", default_rate)]:
            if not 0.0 <= rate <= 1.0:
                raise ValueError(f"keep rate for {name!r} must be in [0,1], "
                                 f"got {rate}")
        thresholds = {k: int(round(r * buckets)) for k, r in rates.items()}
        default_thresh = int(round(default_rate * buckets))
    # md5 like split_assign/shuffle_rows: the keep decision is
    # reproducible from any engine (auditable in plain SQL)
    key = F.concat_ws("\x1f", F.lit(salt),
                      *[c.cast("string") for c in on])
    h = F.pmod(F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long"),
               F.lit(buckets))
    threshold = None
    stratum = F.col(by).cast("string")
    for value, lit_val in thresholds.items():
        lit = F.lit(lit_val)
        threshold = (F.when(stratum == value, lit) if threshold is None
                     else threshold.when(stratum == value, lit))
    default_lit = F.lit(default_thresh)
    threshold = (default_lit if threshold is None
                 else threshold.otherwise(default_lit))
    return df.filter(h < threshold)


# --------------------------------------------------------------------------
# window — absent from the reference (SURVEY.md §2.5); first-class here
# --------------------------------------------------------------------------

_WINDOW_FNS = {
    "row_number": lambda c: F.row_number(),
    "rank": lambda c: F.rank(),
    "dense_rank": lambda c: F.dense_rank(),
    "lag": lambda c: F.lag(c),
    "lead": lambda c: F.lead(c),
    "avg": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "count": lambda c: F.count(c),
    "percent_rank": lambda c: F.percent_rank(),
    "cume_dist": lambda c: F.cume_dist(),
    # SQL default semantics: RESPECT NULLS (ANSI FIRST_VALUE /
    # LAST_VALUE). op_window rebinds these to ignorenulls=True when
    # the config passes ``ignore_nulls: true``. NOTE: with an ordered
    # window and no explicit frame the default frame ends at the
    # CURRENT ROW, so last_value returns the current row's value —
    # pass frame: "rows" with unbounded bounds for whole-partition
    # first/last (mirrors every SQL engine, including the oracle).
    "first_value": lambda c: F.first(c, ignorenulls=False),
    "last_value": lambda c: F.last(c, ignorenulls=False),
}


@register("window")
def op_window(df: DataFrame, config: Mapping, views) -> DataFrame:
    fn = config["function"]
    if fn not in _WINDOW_FNS and fn not in ("ntile", "sum"):
        raise ValueError(f"unknown window function: {fn!r}")
    partition_by = config.get("partition_by", [])
    if (not partition_by and (config.get("frame") or config.get("order_by"))
            and not config.get("allow_global")):
        # ANY ordered window without partitioning (frame or not — a
        # global row_number is the same physical shape) plans a
        # single-partition WindowExec: every row moves to ONE task,
        # the scale-killer at 100 TB. Legit on provably small data
        # (e.g. a post-aggregation running total), so it's opt-in.
        raise ValueError(
            "an ordered window with empty partition_by moves ALL rows to "
            "one partition; pass allow_global: true if the input is known "
            "to be small (post-aggregation), or add partition_by keys")
    w = Window.partitionBy(*partition_by)
    order_by = config.get("order_by")
    if order_by:
        cols = [F.col(c).desc() if config.get("descending") else F.col(c) for c in order_by]
        w = w.orderBy(*cols)
    frame = config.get("frame")

    def _bound(v, default):
        # "unbounded" in frame_bounds maps to the open frame edge —
        # needed for whole-partition first_value/last_value
        if v in ("unbounded", None):
            return default
        return int(v)

    if frame == "running":
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    elif frame == "rows":
        lo, hi = config["frame_bounds"]  # e.g. [-3, 0] = last 4 rows
        w = w.rowsBetween(_bound(lo, Window.unboundedPreceding),
                          _bound(hi, Window.unboundedFollowing))
    elif frame == "range":
        # value-based frame over the (single) order column — e.g.
        # bounds [-3600, 0] with an epoch-seconds order column is a
        # trailing one-hour window regardless of row density
        lo, hi = config["frame_bounds"]
        w = w.rangeBetween(_bound(lo, Window.unboundedPreceding),
                           _bound(hi, Window.unboundedFollowing))
    field = config.get("field")
    if fn == "ntile":
        # bucket count rides the config, not a column
        expr = F.ntile(int(config.get("n", 4))).over(w)
    elif fn == "sum":
        # double window sums associate differently per engine/frame impl
        expr = exact_sum(F.col(field), w)
    elif fn in ("first_value", "last_value") and config.get("ignore_nulls"):
        expr = (F.first if fn == "first_value" else F.last)(
            F.col(field), ignorenulls=True).over(w)
    else:
        expr = _WINDOW_FNS[fn](F.col(field) if field else None).over(w)
    alias = config.get("alias", f"{field or 'w'}_{fn}")
    return df.withColumn(alias, expr)


@register("topk_per_group")
def op_topk_per_group(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Top-K rows per group by an order column — the canonical
    window pattern; Spark 3.5+ plans rank<=k as a partial top-k
    (WindowGroupLimit) before the shuffle, so it scales."""
    keys = list(config["partition_by"])
    order = config["order_by"]
    k = int(config.get("k", 1))
    cols = [F.col(c).desc() if config.get("descending", True) else F.col(c) for c in order]
    w = Window.partitionBy(*keys).orderBy(*cols)
    # ties='keep' uses rank() so equal order-values all survive (may
    # return >k rows); default row_number() returns exactly k with an
    # arbitrary tiebreak — add a unique column to order_by for
    # determinism
    rank_fn = F.rank() if config.get("ties") == "keep" else F.row_number()
    return (
        df.withColumn("__rn", rank_fn.over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


@register("cap_per_group")
def op_cap_per_group(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Cap rows per group — "at most N documents per domain/source",
    the standard anti-monoculture guard when assembling a training
    corpus (a handful of mega-domains otherwise dominate the mix).

    Same WindowGroupLimit top-k physical shape as ``topk_per_group``
    (partial per-partition limit BEFORE the shuffle — each map task
    forwards at most N rows per group it sees, so a 10M-row spam
    domain costs its partition count × N rows of shuffle, not 10M).

    Ordering: explicit ``order_by`` keeps the "best" N (e.g. by
    quality score); the default ``order: hash`` keeps a STABLE UNBIASED
    sample — rows ordered by md5(id, salt), so the kept set is
    reproducible across runs/partitionings and uncorrelated with
    crawl order. md5 (not xxhash64) so an external system — or the
    DuckDB oracle — can reproduce the exact selection.
    """
    keys = list(config["partition_by"])
    n = int(config["n"])
    if config.get("order_by"):
        cols = [F.col(c).desc() if config.get("descending") else F.col(c)
                for c in config["order_by"]]
    else:
        id_field = config.get("id_field", "doc_id")
        salt = str(config.get("salt", ""))
        cols = [F.md5(F.concat_ws("\x1f", F.col(id_field).cast("string"),
                                  F.lit(salt)))]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


@register("budget_select")
def op_budget_select(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Fill a token/byte budget with the best rows: keep rows in
    ``order_by`` order while the running sum of ``weight_field`` stays
    within ``budget`` — "give me the highest-quality 1B tokens" step
    of training-corpus assembly.

    A naive global-order cumulative sum is a single-partition
    WindowExec (every row through one task). This op runs the classic
    DISTRIBUTED PREFIX SUM instead:

    1. ``repartitionByRange`` on the order key — ordered partitions,
       balanced by sampled boundaries;
    2. per-partition weight totals → the driver (N_partitions scalars,
       bounded) → prefix offsets per partition;
    3. per-partition cumulative sums — a window partitioned BY the
       partition id, so every partition computes its cumsum in
       parallel — plus the broadcast offset;
    4. filter ``running <= budget``.

    Two passes over the input (totals, then cumsum) — the unavoidable
    price of an exact global prefix without materializing the corpus.
    Weights sum as LONGS (token/byte counts), so the running total is
    exact and order-independent within equal keys — but ``order_by``
    must still be a TOTAL order (append a unique id) or boundary ties
    make membership ambiguous. ``as`` keeps the running total as an
    output column for auditability.
    """
    weight = config["weight_field"]
    budget = int(config["budget"])
    order = list(config["order_by"])
    desc = bool(config.get("descending", True))
    out_col = config.get("as")
    sort_cols = [F.col(c).desc() if desc else F.col(c) for c in order]
    n_parts = int(config.get("n_partitions", 0)) or \
        df.sparkSession.sparkContext.defaultParallelism
    ranged, running, _total = _distributed_prefix_sum(
        df, F.col(weight), sort_cols, n_parts)
    out = (ranged.withColumn("__run", running)
           .filter(F.col("__run") <= F.lit(budget)))
    if out_col:
        out = out.withColumn(out_col, F.col("__run"))
    return out.drop("__pid", "__run")


@register("top_p_select")
def op_top_p_select(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Nucleus (top-p) selection: keep the SMALLEST set of
    highest-weight rows whose weights cover fraction ``p`` of the
    total weight — per ``group_by`` stratum, or globally. The
    proportional complement of budget_select (fixed budget) and
    sample_pps (fixed draw count): "the head of the distribution that
    carries 90% of the token mass", the heavy-tail truncation step of
    corpus mixing.

    EXACT arithmetic: ``p`` is fixed to parts-per-billion once on the
    driver, and the keep condition is the integer comparison
    cum_before · 10^9 < p_ppb · total, evaluated in DECIMAL(38,0) —
    no float boundary, so any engine replays membership bit-for-bit
    and the kept set is the true minimal prefix (the crossing row is
    kept, everything after is dropped).

    Per-group: plain windows over ONE hash shuffle on the group key.
    Global: the same distributed-prefix-sum shape as budget_select
    (range partitions + per-partition cumsums + broadcast offsets) —
    never a single-partition WindowExec; the p·total threshold is
    computed exactly in arbitrary-precision Python from the collected
    total. Order: ``weight_field`` desc, then ``id_field`` — a total
    order, so boundary membership is unambiguous. Weights must be
    non-negative integers (token/byte/char counts).
    """
    weight = config["weight_field"]
    p = float(config["p"])
    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    p_ppb = int(round(p * 1_000_000_000))
    ppb = 1_000_000_000
    id_field = config.get("id_field", "doc_id")
    group_by = list(config.get("group_by", []))
    w_long = F.col(weight).cast("long")
    sort_cols = [w_long.desc(), F.col(id_field)]

    if group_by:
        wcum = (Window.partitionBy(*group_by).orderBy(*sort_cols)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        wtot = Window.partitionBy(*group_by)
        dec = "decimal(38,0)"
        staged = (df.withColumn("__cum", F.sum(w_long).over(wcum))
                  .withColumn("__tot", F.sum(w_long).over(wtot))
                  .withColumn("__w_tp", w_long))
        keep = ((F.col("__cum") - F.col("__w_tp")).cast(dec) * F.lit(ppb)
                < F.col("__tot").cast(dec) * F.lit(p_ppb))
        return (staged.filter(keep & (F.col("__w_tp") > 0))
                .drop("__cum", "__tot", "__w_tp"))

    n_parts = int(config.get("n_partitions", 0)) or \
        df.sparkSession.sparkContext.defaultParallelism
    ranged, running, total = _distributed_prefix_sum(
        df, w_long, sort_cols, n_parts)
    if total <= 0:
        return df.filter(F.lit(False))
    # cum_before * PPB < p_ppb * total  <=>  cum_before <= threshold,
    # threshold computed exactly in unbounded Python ints
    threshold = -(-(p_ppb * total) // ppb) - 1   # ceil(T/PPB) - 1
    out = (ranged.withColumn("__cum", running)
           .withColumn("__w_tp", w_long)
           .filter((F.col("__cum") - F.col("__w_tp") <= F.lit(threshold))
                   & (F.col("__w_tp") > 0)))
    return out.drop("__pid", "__cum", "__w_tp")


def _nullsafe_left_join(df: DataFrame, small: DataFrame, keys: list,
                        broadcast: bool = True) -> DataFrame:
    """Left-join a per-group scalar frame back onto ``df`` with
    NULL-SAFE key equality. groupBy/Window treat a NULL key as a
    regular group, but a plain equi-join drops that group's match —
    rows with a NULL ``by`` key would silently miss their group
    scalars (the exact groupBy-vs-join mismatch the l_diversity
    docstring warns about). The small side's key columns are renamed
    so the ``eqNullSafe`` condition is unambiguous even when ``small``
    derives from ``df``, then dropped. NULL-safe equality is still an
    equi-join predicate, so the physical plan stays a (broadcast)
    hash join."""
    renamed = small.select(
        *[F.col(c).alias(f"__k_{c}") if c in keys else F.col(c)
          for c in small.columns])
    right = F.broadcast(renamed) if broadcast else renamed
    cond = reduce(lambda a, b: a & b,
                  [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in keys])
    return df.join(right, cond, "left").drop(*[f"__k_{k}" for k in keys])


@register("winsorize")
def op_winsorize(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Percentile clipping (winsorization) of a numeric column — the
    outlier-taming step of quality-signal engineering ("clip document
    lengths to the [5th, 95th] percentile before scoring"). Adds
    ``{field}_wins`` (or clips in place with ``as: field``).

    The percentile is DISCRETE and definition-PINNED: the q-th bound
    is the value at 1-based rank ceil(q·n) in the non-null ascending
    sort — computed with the integer arithmetic
    k = (q_ppb·n + 10^9 - 1) div 10^9, so any SQL engine replays the
    same element (engine-native quantile functions disagree at
    boundary indices: ANSI percentile_disc picks cume_dist ≥ q,
    DuckDB's quantile_disc floors (n-1)·q — neither matches the other
    at e.g. n=10, q=0.99). Bound: q_ppb·n must fit int64 → n < 9.2e9
    rows per group.

    Shape: one rank window per ``by`` group (a single hash shuffle),
    the two boundary rows aggregate to one row per group, and the
    bounds JOIN BACK BROADCAST — the data never shuffles a second
    time. Global mode (no ``by``) ranks via the budget_select
    distributed prefix sum over unit weights (range partitions, no
    single-partition window). NULL values rank nowhere and clip to
    NULL. Ties: the k-th element of the value multiset is
    well-defined regardless of tiebreak order among equals.
    """
    field = config["field"]
    lower = float(config.get("lower", 0.0))
    upper = float(config.get("upper", 1.0))
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got "
                         f"[{lower}, {upper}]")
    out_col = config.get("as", f"{field}_wins")
    by = list(config.get("by", []))
    ppb = 1_000_000_000
    lo_ppb, hi_ppb = int(round(lower * ppb)), int(round(upper * ppb))
    v = F.col(field).cast("double")
    nn = df.filter(F.col(field).isNotNull())

    if by:
        wn = Window.partitionBy(*by)
        ranked = (nn.select(*by, v.alias("__v"))
                  .withColumn("__rn", F.row_number().over(
                      Window.partitionBy(*by).orderBy(F.col("__v"))))
                  .withColumn("__n", F.count(F.lit(1)).over(wn)))
        # ceil(q*n) clamped to >= 1 so lower=0.0 means "the minimum"
        k_lo = F.expr(
            f"greatest(({lo_ppb} * __n + {ppb - 1}) div {ppb}, 1)")
        k_hi = F.expr(
            f"greatest(({hi_ppb} * __n + {ppb - 1}) div {ppb}, 1)")
        bounds = (ranked
                  .withColumn("__klo", k_lo).withColumn("__khi", k_hi)
                  .filter((F.col("__rn") == F.col("__klo"))
                          | (F.col("__rn") == F.col("__khi")))
                  .groupBy(*by).agg(
                      F.min(F.when(F.col("__rn") == F.col("__klo"),
                                   F.col("__v"))).alias("__lo"),
                      F.min(F.when(F.col("__rn") == F.col("__khi"),
                                   F.col("__v"))).alias("__hi")))
        out = _nullsafe_left_join(df, bounds, by)
    else:
        n_parts = int(config.get("n_partitions", 0)) or \
            df.sparkSession.sparkContext.defaultParallelism
        ranged, running, total = _distributed_prefix_sum(
            nn.select(v.alias("__v")), F.lit(1), [F.col("__v")], n_parts)
        if total == 0:
            return df.withColumn(out_col, F.lit(None).cast("double"))
        k_lo = max((lo_ppb * total + ppb - 1) // ppb, 1)
        k_hi = max((hi_ppb * total + ppb - 1) // ppb, 1)
        bounds = (ranged.withColumn("__rn", running)
                  .filter(F.col("__rn").isin(int(k_lo), int(k_hi)))
                  .agg(F.min(F.when(F.col("__rn") == int(k_lo),
                                    F.col("__v"))).alias("__lo"),
                       F.min(F.when(F.col("__rn") == int(k_hi),
                                    F.col("__v"))).alias("__hi")))
        out = df.crossJoin(F.broadcast(bounds))
    lo_eff = F.coalesce(F.col("__lo"), F.col("__hi"))
    hi_eff = F.coalesce(F.col("__hi"), F.col("__lo"))
    clipped = F.when(v.isNull(), F.lit(None).cast("double")).otherwise(
        F.least(F.greatest(v, lo_eff), hi_eff))
    return out.withColumn(out_col, clipped).drop("__lo", "__hi")


def _pinned_rank_value(values: DataFrame, keys: list, q_ppb: int,
                       out: str, n_parts: int) -> DataFrame:
    """The q-th DISCRETE percentile of column ``__v`` per key group
    (or globally when ``keys`` is empty): the value at 1-based rank
    max(ceil(q·n), 1) in the non-null ascending sort — the pinned
    definition shared by winsorize and mad_outlier, replayable in any
    SQL engine with plain integer arithmetic. Grouped: one rank
    window per key. Global: distributed prefix-sum rank over unit
    weights (never a single-partition window). Returns one row per
    key: keys + ``out``."""
    ppb = 1_000_000_000
    if keys:
        ranked = (values
                  .withColumn("__rn", F.row_number().over(
                      Window.partitionBy(*keys).orderBy(F.col("__v"))))
                  .withColumn("__n", F.count(F.lit(1)).over(
                      Window.partitionBy(*keys))))
        k = F.expr(f"greatest(({q_ppb} * __n + {ppb - 1}) div {ppb}, 1)")
        return (ranked.filter(F.col("__rn") == k)
                .groupBy(*keys).agg(F.min("__v").alias(out)))
    ranged, running, total = _distributed_prefix_sum(
        values.select("__v"), F.lit(1), [F.col("__v")], n_parts)
    if total == 0:
        # all-null input: one NULL row so a crossJoin keeps the frame
        # (an empty frame would wipe every row downstream)
        spark = values.sparkSession
        return lit_frame(spark, [(None,)], f"{out} double")
    k = max((q_ppb * total + ppb - 1) // ppb, 1)
    return (ranged.withColumn("__rn", running)
            .filter(F.col("__rn") == int(k))
            .agg(F.min("__v").alias(out)))


@register("mad_outlier")
def op_mad_outlier(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Robust outlier scoring — median/MAD (median absolute
    deviation), the quality-signal screen that survives the heavy
    tails a mean/stddev z-score drowns in ("flag documents whose
    length is >3.5 MADs from their language's median"). Adds
    ``robust_z`` = |x − median| / MAD and ``is_outlier`` =
    robust_z > ``k`` (default 3.5, the classic Iglewicz-Hoaglin cut
    without the 0.6745 consistency constant — set k accordingly);
    ``mode: filter`` drops outliers instead.

    Both the median and the MAD use the PINNED discrete-percentile
    definition (value at rank ceil(n/2), see winsorize) so any SQL
    engine replays them exactly; deviations |x − med| are plain
    double subtractions — deterministic IEEE, no accumulation order.
    Degenerate groups (MAD = 0: a constant majority) score
    robust_z NULL and flag any nonzero deviation as an outlier.

    Shape: two rank passes (median, then deviation median), each ONE
    full-data shuffle, with the per-group scalars COLLECTED and
    re-broadcast as literal frames (mix_corpus precedent — the group
    scalars must fit a broadcast anyway, so the collect is bounded by
    the same cardinality). Collecting instead of keeping the scalar
    subplans lazy matters: Spark re-executes a lazy broadcast subtree
    once per consuming branch, which would rank-shuffle the full
    corpus THREE times here instead of two — and it leaves the final
    consumer plan shuffle-free (scan + two broadcast joins), gated in
    test_plans. EAGER by consequence (two jobs at build). Global mode
    ranks via the distributed prefix sum. NULL values get NULL scores
    and are never flagged.
    """
    field = config["field"]
    by = list(config.get("by", []))
    kk = float(config.get("k", 3.5))
    mode = config.get("mode", "annotate")
    if mode not in ("annotate", "filter"):
        raise ValueError(f"mad_outlier mode must be annotate|filter, "
                         f"got {mode!r}")
    n_parts = int(config.get("n_partitions", 0)) or \
        df.sparkSession.sparkContext.defaultParallelism
    half = 500_000_000
    v = F.col(field).cast("double")
    nn = df.filter(v.isNotNull())
    spark = df.sparkSession

    max_groups = int(config.get("max_groups", 1_000_000))

    def localize(frame: DataFrame, out: str) -> DataFrame:
        schema = T.StructType(
            [df.schema[k] for k in by]
            + [T.StructField(out, T.DoubleType())])
        rows = [tuple(r) for r in _collect_group_scalars(
            frame, max_groups, "mad_outlier", by)]
        if not rows and not by:
            rows = [(None,)]   # keep the crossJoin from wiping rows
        return lit_frame(spark, rows, schema)

    med = localize(_pinned_rank_value(nn.select(*by, v.alias("__v")), by,
                                      half, "__med", n_parts), "__med")
    if by:
        j = _nullsafe_left_join(df, med, by)
    else:
        j = df.crossJoin(F.broadcast(med))
    dev = (j.filter(v.isNotNull())
           .select(*by, F.abs(v - F.col("__med")).alias("__v")))
    mad = localize(_pinned_rank_value(dev, by, half, "__mad", n_parts),
                   "__mad")
    if by:
        out = _nullsafe_left_join(j, mad, by)
    else:
        out = j.crossJoin(F.broadcast(mad))
    deviation = F.abs(v - F.col("__med"))
    z = F.when(v.isNull() | F.col("__mad").isNull(), F.lit(None)) \
         .when(F.col("__mad") == 0.0, F.lit(None)) \
         .otherwise(deviation / F.col("__mad"))
    flag = F.when(v.isNull() | F.col("__mad").isNull(), F.lit(None)) \
            .when(F.col("__mad") == 0.0, deviation > 0.0) \
            .otherwise(deviation / F.col("__mad") > F.lit(kk))
    out = (out.withColumn("robust_z", z)
           .withColumn("is_outlier", flag)
           .drop("__med", "__mad"))
    if mode == "filter":
        return (out.filter(~F.coalesce(F.col("is_outlier"), F.lit(False)))
                .drop("robust_z", "is_outlier"))
    return out


class GroupCardinalityError(RuntimeError):
    """A group-scalar driver collect would exceed ``max_groups``.

    The collect-and-rebroadcast pattern (mad_outlier medians,
    mix_corpus stratum counts) is bounded by design — the scalars must
    fit a broadcast anyway — but a pathological high-cardinality
    ``by`` would otherwise OOM the driver instead of failing loud.
    """


def _collect_group_scalars(frame: DataFrame, max_groups: int,
                           op_name: str, by) -> list:
    """Collect one-row-per-group scalars with a loud cardinality cap.

    ``limit(max_groups + 1)`` bounds the job AND driver memory before
    the check — the overflow is detected from a single extra row, not
    after materializing the full group set.
    """
    rows = frame.limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        raise GroupCardinalityError(
            f"{op_name}: more than {max_groups} distinct groups on "
            f"{list(by)!r}. This operator collects one scalar row per "
            f"group to the driver and re-broadcasts it; that is only "
            f"sound for bounded group cardinality. Raise 'max_groups' "
            f"if the driver can hold the groups, or group on a coarser "
            f"key.")
    return rows


def _distributed_prefix_sum(df: DataFrame, weight: Column, sort_cols,
                            n_parts: int):
    """The distributed-prefix-sum shape shared by budget_select and
    sample_pps: range partitions on the order key, per-partition
    totals to the driver (N_partitions scalars), per-partition window
    cumsums in parallel + broadcast offsets. Returns (ranged frame
    with __pid, exact running-sum Column, grand total).

    The ranged frame is localCheckpointed BEFORE the totals collect:
    the offsets job and the consuming query are two separate actions,
    and repartitionByRange SAMPLES its boundaries from the upstream
    partitions' row order — which is fetch-order-nondeterministic
    after a shuffle — so without pinning, the two jobs can land on
    DIFFERENT partition boundaries and the per-pid offsets silently
    corrupt the running sum (observed as a ks_drift value mismatch at
    sf0.1 under concurrent load, round 7)."""
    ranged = (df.repartitionByRange(n_parts, *sort_cols)
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint())
    totals = ranged.groupBy("__pid").agg(
        F.sum(weight.cast("long")).alias("__w")).collect()
    offsets, acc = {}, 0
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offsets[r["__pid"]] = acc
        acc += int(r["__w"] or 0)
    off = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("__pid")) if offsets else F.lit(0)
    w = (Window.partitionBy("__pid").orderBy(*sort_cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    running = F.sum(weight.cast("long")).over(w) + off
    return ranged, running, acc


@register("sample_pps")
def op_sample_pps(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Exact-size weighted sampling — systematic PPS (probability
    proportional to size) over a deterministic order, in PURE INTEGER
    arithmetic: with integer weights w_i, total W, sample size n and
    offset o ∈ [0, W), row i is drawn

        n_copies(i) = (cum_i·n + o) div W − (cum_{i-1}·n + o) div W

    so Σ n_copies == n EXACTLY, heavy rows can be drawn multiple
    times (with-replacement multiplicity, the Pareto-corpus case),
    and any engine replays the selection bit-for-bit — no float, no
    rand(). The corpus-assembly use: "exactly n documents/sequences,
    drawn proportional to token count / quality weight".

    ``weight_field`` must be a non-negative integer column (token or
    byte counts; zero-weight rows are never drawn). ENFORCED: a
    negative weight raises at scan time (executor-side assert — a
    non-monotonic running sum would silently emit negative n_copies
    and break Σ n_copies == n), and the overflow bound cum·n ≤
    int64-max → W·n < 9.2e18 raises instead of silently wrapping
    (DuckDB would keep computing in HUGEINT — the engines would
    diverge exactly where it matters). ``order_by`` (default: md5 of
    ``id_field`` + ``salt`` — a reproducible unbiased shuffle) must
    be a total order. Same distributed-prefix-sum shape as
    budget_select: two passes, no single-partition stage.

    ``group_by``: exactly n draws PER GROUP ("n documents per
    domain, weighted by tokens" — the weighted complement of
    cap_per_group). The per-group variant needs no driver pass at
    all: the cumsum and group total are plain windows over ONE hash
    shuffle on the group key.

    Output: drawn rows + ``n_copies`` (long ≥ 1).
    """
    weight = config["weight_field"]
    n = int(config["n"])
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    offset = int(config.get("offset", 0))
    id_field = config.get("id_field", "doc_id")
    salt = str(config.get("salt", ""))
    group_by = list(config.get("group_by", []))
    if config.get("order_by"):
        sort_cols = [F.col(c) for c in config["order_by"]]
    else:
        sort_cols = [F.md5(F.concat(F.col(id_field).cast("string"),
                                    F.lit(salt))),
                     F.col(id_field)]
    raw_w = F.col(weight).cast("long")
    # executor-side guard embedded in the USED weight expression so
    # Catalyst cannot prune it, written as a NULL-explicit
    # when/otherwise as the VALUE expression itself. The earlier
    # `raw_w + coalesce(assert_true(...), 0)` shape silently passed
    # NULL weights: binary Add short-circuits to NULL when the left
    # side is NULL, so the assert on the right was never evaluated and
    # the row just vanished from the sample (and a bare `raw_w >= 0`
    # condition would have raised with a NULL — blank — message, the
    # concat being NULL too). when/otherwise evaluates the offending
    # branch per row, so NULL and negative weights both fail loud and
    # named.
    w_long = F.when(raw_w >= 0, raw_w).otherwise(
        F.assert_true(
            F.lit(False),
            F.concat(F.lit(f"sample_pps: weight in {weight!r} must be a "
                           "non-negative non-NULL integer, got "),
                     F.coalesce(raw_w.cast("string"),
                                F.lit("NULL")))).cast("long"))
    cum_limit = ((1 << 63) - 1) // n   # W*n must fit int64

    if group_by:
        wcum = (Window.partitionBy(*group_by).orderBy(*sort_cols)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        wtot = Window.partitionBy(*group_by)
        tot = F.sum(w_long).over(wtot)
        tot_checked = tot + F.coalesce(
            F.assert_true(
                tot <= cum_limit,
                F.concat(F.lit(f"sample_pps: group total * n={n} exceeds "
                               "int64 (W*n must stay below 2^63); total="),
                         tot.cast("string"))).cast("long"),
            F.lit(0))
        staged = (df.withColumn("__cum", F.sum(w_long).over(wcum))
                  .withColumn("__tot", tot_checked)
                  .withColumn("__w_pps", w_long))
        copies = F.expr(
            f"(__cum * {n} + pmod({offset}, __tot)) div __tot"
            f" - ((__cum - __w_pps) * {n} + pmod({offset}, __tot))"
            " div __tot")
        return (staged.filter(F.col("__tot") > 0)
                .withColumn("n_copies", copies)
                .filter(F.col("n_copies") >= 1)
                .drop("__cum", "__tot", "__w_pps"))

    n_parts = int(config.get("n_partitions", 0)) or \
        df.sparkSession.sparkContext.defaultParallelism
    ranged, running, total = _distributed_prefix_sum(
        df, w_long, sort_cols, n_parts)
    if total <= 0:
        return df.filter(F.lit(False)).withColumn(
            "n_copies", F.lit(0).cast("long"))
    if total > cum_limit:
        raise ValueError(
            f"sample_pps: total weight {total} * n={n} exceeds int64 "
            "(W*n must stay below 2^63) — scale weights down or sample "
            "per group")
    if not 0 <= offset < total:
        offset %= total
    copies = F.expr(
        f"(__cum * {n} + {offset}) div {total}"
        f" - ((__cum - __w_pps) * {n} + {offset}) div {total}")
    return (ranged.withColumn("__cum", running)
            .withColumn("__w_pps", w_long)
            .withColumn("n_copies", copies)
            .filter(F.col("n_copies") >= 1)
            .drop("__pid", "__cum", "__w_pps"))


@register("corpus_diff")
def op_corpus_diff(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Snapshot diff for a continuously assembled corpus: classify
    every id as ``added`` (only in the current frame), ``removed``
    (only in the previous snapshot), ``changed`` (both, content
    fingerprint differs) or ``unchanged`` — the audit step between
    two corpus builds ("what moved since the last training set?").

    Shape at scale: both sides reduce to (id, md5 fingerprint) narrow
    projections before a full-outer join on id — the join shuffles
    two thin columns per side, never text. md5 (not xxhash64) so any
    engine reproduces the fingerprints.

    ``other``: previous snapshot as a view name or DataFrame.
    ``other_is_fingerprint``: the 100 TB path — diff against a stored
    (id, fp) manifest instead of re-reading old text.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    other = config["other"]
    if isinstance(other, str):
        other = views[other]

    from ..llmops.dedup import content_key

    new = df.select(F.col(id_field).alias("__id"),
                    content_key(F.col(field)).alias("__fp_new"))
    if config.get("other_is_fingerprint"):
        old = other.select(F.col(id_field).alias("__oid"),
                           F.col(config.get("other_field", "fp")).alias("__fp_old"))
    else:
        old = other.select(F.col(id_field).alias("__oid"),
                           content_key(F.col(config.get("other_field", field)))
                           .alias("__fp_old"))
    joined = new.join(old, new["__id"] == old["__oid"], "full_outer")
    status = (F.when(F.col("__oid").isNull(), F.lit("added"))
              .when(F.col("__id").isNull(), F.lit("removed"))
              .when(F.col("__fp_new") != F.col("__fp_old"), F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return joined.select(
        F.coalesce(F.col("__id"), F.col("__oid")).alias(id_field),
        status.alias("status"))


@register("histogram")
def op_histogram(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Fixed-width histogram of a numeric column: ``n_bins`` equal
    bins over [lo, hi). One narrow shuffle of at most n_bins rows
    after map-side partial aggregation — the profiling primitive that
    stays O(bins) no matter the input size (vs collecting values).

    ``lo``/``hi`` default to the column min/max computed in a first
    pass (fine interactively; pass explicit bounds in a pipeline to
    keep it single-pass). Values outside [lo, hi] clamp into the edge
    bins when ``clamp: true`` (default) else are dropped. Bin index
    arithmetic is plain double ops (floor((x-lo)/width)) so any engine
    reproduces the exact binning.
    """
    field = config["field"]
    n_bins = int(config.get("n_bins", 20))
    lo, hi = config.get("lo"), config.get("hi")
    if lo is None or hi is None:
        row = df.agg(F.min(field).alias("lo"), F.max(field).alias("hi")).first()
        if row["lo"] is None and (lo is None or hi is None):
            # no non-null values: the histogram is empty whatever the
            # bounds; 0-width bins would NaN, so pick any finite range
            lo, hi = 0.0, 1.0
        else:
            lo = float(row["lo"]) if lo is None else float(lo)
            hi = float(row["hi"]) if hi is None else float(hi)
    lo, hi = float(lo), float(hi)
    # constant column (or degenerate explicit bounds): every non-null
    # value is lo — clamp puts them all in bin 0 with a sane width
    width = ((hi - lo) / n_bins) or 1.0
    col = F.col(field).cast("double")
    raw = F.floor((col - F.lit(lo)) / F.lit(width)).cast("long")
    if config.get("clamp", True):
        idx = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
        out = df.filter(col.isNotNull())
    else:
        idx = raw
        out = df.filter(col.isNotNull() & (raw >= 0) & (raw < n_bins))
    return (
        out.select(idx.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("bin",
                (F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_start"),
                "n")
    )


def _morton_spread(c: F.Column) -> F.Column:
    """Spread the low 32 bits of a long into the even bit positions
    (Morton/Z-curve interleave, standard magic-number form). Pure
    64-bit integer bitwise ops — any engine reproduces it exactly."""
    c = c.bitwiseAND(F.lit(0xFFFFFFFF))
    c = (c.bitwiseOR(F.shiftleft(c, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x3333333333333333))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return c


@register("zorder")
def op_zorder(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Z-order (Morton-curve) layout key over two numeric columns —
    the multi-dimensional data-skipping layout: sorting by the
    interleaved key clusters rows that are close in BOTH dimensions
    into the same parquet row groups, so min/max statistics prune
    scans filtered on either column (a plain sort only skips on the
    leading one).

    Each column is quantized to ``bits`` (default 16, max 32) levels
    over its ``bounds`` ([lo, hi]; clamped like histogram), then the
    quantized values interleave via the magic-number Morton spread —
    all integer bitwise ops, exactly reproducible by any engine.

    ``layout: true`` additionally range-partitions and locally sorts
    by the key (the write-side shape: repartitionByRange gives
    balanced output files, sortWithinPartitions gives tight per-file
    min/max on BOTH source columns). Default false returns the
    ``as`` column (default "zvalue") for inspection/pipelining.

    Explicit bounds keep the op single-pass at 100 TB (pass corpus
    min/max from a prior profile run); omitted bounds cost one extra
    min/max scan.
    """
    cols = list(config["cols"])
    if len(cols) != 2:
        raise ValueError("zorder interleaves exactly 2 columns")
    bits = int(config.get("bits", 16))
    if not 1 <= bits <= 32:
        raise ValueError(f"bits={bits} out of range (1..32)")
    target = config.get("as", "zvalue")
    bounds = dict(config.get("bounds") or {})
    missing = [c for c in cols if c not in bounds]
    if missing:
        row = df.agg(*[f(c).alias(f"{c}__{n}") for c in missing
                       for n, f in (("lo", F.min), ("hi", F.max))]).first()
        for c in missing:
            lo, hi = row[f"{c}__lo"], row[f"{c}__hi"]
            # all-NULL column: any bounds work (quantized() maps NULL
            # values to NULL keys; rows keep flowing)
            bounds[c] = [float(lo), float(hi)] if lo is not None else [0.0, 1.0]
    levels = (1 << bits) - 1

    def quantized(c: str) -> F.Column:
        lo, hi = float(bounds[c][0]), float(bounds[c][1])
        width = (hi - lo) or 1.0
        q = F.floor((F.col(c).cast("double") - F.lit(lo))
                    / F.lit(width) * F.lit(float(levels))).cast("long")
        # preserve NULLs explicitly: Spark's greatest() SKIPS nulls,
        # so without the guard a NULL value would silently clamp into
        # bin 0 and co-locate with genuine minimums (round-3 ADVICE
        # fix). A NULL in either column nulls the whole z-key, and
        # repartitionByRange orders NULLS FIRST — NULL rows cluster
        # in their own leading files instead of polluting the low
        # corner's min/max stats.
        return F.when(F.col(c).isNull(), F.lit(None).cast("long")).otherwise(
            F.least(F.greatest(q, F.lit(0)), F.lit(levels)))

    z = _morton_spread(quantized(cols[0])).bitwiseOR(
        F.shiftleft(_morton_spread(quantized(cols[1])), 1))
    out = df.withColumn(target, z)
    if config.get("layout"):
        n = config.get("n_partitions")
        parts = [int(n)] if n else []
        out = (out.repartitionByRange(*parts, F.col(target))
               .sortWithinPartitions(target))
    return out


@register("key_skew_stats")
def op_key_skew_stats(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Shuffle-key skew diagnosis: reduce per-key counts to the
    distribution stats that decide a partitioning strategy before a
    big join/agg — key cardinality, max and percentile key sizes, and
    ``max_share`` (the fraction of all rows behind the hottest key:
    with E executors, a key whose share exceeds ~1/E caps the stage on
    one task — salt it, or rely on AQE skew splitting for joins).

    Two narrow aggregations: word-count on the keys (map-side partial
    agg), then global stats over the count column (single reduce of
    one row per key). Output is ONE row regardless of input size.
    ``percentiles``: "approx" (default) — approx_percentile at
    accuracy 100k, exact below 100k distinct counts, bounded-error
    sketch beyond, the right trade at 100 TB; "exact" — the pinned
    rank max(ceil(q·k), 1) over the counts table via the distributed
    prefix-sum rank (quantile_estimate's global machinery; the
    counts table is #keys-sized, not corpus-sized), which any engine
    replays bit-for-bit — engine-native quantiles are banned from
    oracle pairs (CLAUDE.md; approx_percentile vs quantile_disc
    diverge at boundary ranks).
    """
    keys = list(config["keys"])
    pmode = config.get("percentiles", "approx")
    if pmode not in ("approx", "exact"):
        raise ValueError(
            f"percentiles must be approx|exact, got {pmode!r}")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    if pmode == "exact":
        counts = counts.localCheckpoint()  # two consumers, one build
        from ..llmops.sketch import op_quantile_estimate
        est = op_quantile_estimate(counts, {
            "field": "__n", "quantiles": [0.5, 0.99],
            "aliases": ["p50_count", "p99_count"]}, views)
        est = est.select(F.col("p50_count").cast("long").alias("p50_count"),
                         F.col("p99_count").cast("long").alias("p99_count"))
        base = counts.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("__n").alias("n_rows"),
            F.max("__n").alias("max_count"))
        joined = base.crossJoin(F.broadcast(est))
        return joined.select(
            "n_keys", "n_rows", "max_count", "p50_count", "p99_count",
            (F.col("max_count").cast("double")
             / F.col("n_rows").cast("double")).alias("max_share"))
    acc = 100_000
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n").alias("n_rows"),
        F.max("__n").alias("max_count"),
        F.expr(f"approx_percentile(__n, 0.5, {acc})").alias("p50_count"),
        F.expr(f"approx_percentile(__n, 0.99, {acc})").alias("p99_count"),
    ).withColumn(
        "max_share",
        F.col("max_count").cast("double") / F.col("n_rows").cast("double"))


@register("category_drift")
def op_category_drift(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Categorical-distribution drift between two snapshots — the
    monitoring gate behind "did the crawl mix shift" / "did a source
    vanish" checks that profile/key_skew_stats answer only for a
    single frame. ``df`` is the CURRENT snapshot, ``baseline`` the
    reference frame.

    Both sides reduce to per-category counts (map-side partial agg),
    meet in a null-safe FULL OUTER join on the category (a NULL
    category is a category — eqNullSafe, matching GROUP BY
    semantics), and shares divide by broadcast 1-row totals. Post-agg
    everything is category-cardinality-sized; the only full-data work
    is the two word-counts.

    Modes: ``per_category`` (default) — one row per category seen on
    either side: category, n_cur, n_base (longs, absent = 0),
    share_cur, share_base, share_diff (exact long/long divisions).
    ``summary`` — ONE row: n_categories, n_new (categories only in
    current), n_gone (only in baseline), and ``tvd``, the total
    variation distance. TVD's numerator is computed in EXACT integer
    arithmetic — sum |n_cur * total_base - n_base * total_cur| as
    DECIMAL(38,0) (order-independent, never a float accumulation) —
    and divided by 2 * total_cur * total_base in ONE final double
    division, so both engines agree bit-for-bit.
    """
    baseline = views[config["baseline"]] if isinstance(
        config["baseline"], str) else config["baseline"]
    field = config["field"]
    mode = config.get("mode", "per_category")
    if mode not in ("per_category", "summary"):
        raise ValueError(
            f"category_drift mode must be per_category|summary, got {mode!r}")
    cur = (df.groupBy(F.col(field).alias("__cat"))
           .agg(F.count(F.lit(1)).alias("n_cur")))
    base = (baseline.groupBy(F.col(field).alias("__bcat"))
            .agg(F.count(F.lit(1)).alias("n_base")))
    j = (cur.join(base, cur["__cat"].eqNullSafe(base["__bcat"]),
                  "full_outer")
         .select(F.coalesce(cur["__cat"], base["__bcat"]).alias("category"),
                 F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
                 F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base")))
    totals = j.agg(F.sum("n_cur").alias("__tc"),
                   F.sum("n_base").alias("__tb"))
    j = j.crossJoin(F.broadcast(totals))
    if mode == "per_category":
        share_cur = F.when(F.col("__tc") > 0,
                           F.col("n_cur").cast("double") / F.col("__tc"))
        share_base = F.when(F.col("__tb") > 0,
                            F.col("n_base").cast("double") / F.col("__tb"))
        return (j.withColumn("share_cur", share_cur)
                .withColumn("share_base", share_base)
                .withColumn("share_diff",
                            F.col("share_cur") - F.col("share_base"))
                .drop("__tc", "__tb"))
    # |n_cur/tc - n_base/tb| = |n_cur*tb - n_base*tc| / (tc*tb):
    # keep the numerator exact-integer (decimal(38,0) products — a
    # bigint product overflows past ~3e9-row snapshots)
    num = F.abs(F.col("n_cur").cast("decimal(38,0)") * F.col("__tb")
                - F.col("n_base").cast("decimal(38,0)") * F.col("__tc"))
    return (j.agg(
        F.count(F.lit(1)).alias("n_categories"),
        F.sum(F.when(F.col("n_base") == 0, 1).otherwise(0)
              ).cast("long").alias("n_new"),
        F.sum(F.when(F.col("n_cur") == 0, 1).otherwise(0)
              ).cast("long").alias("n_gone"),
        F.sum(num).cast("string").cast("double").alias("__num"),
        F.first("__tc").alias("__tc"), F.first("__tb").alias("__tb"))
        .select("n_categories", "n_new", "n_gone",
                F.when((F.col("__tc") > 0) & (F.col("__tb") > 0),
                       F.col("__num") / (F.lit(2.0) * F.col("__tc")
                                         * F.col("__tb"))).alias("tvd")))


@register("bucketize")
def op_bucketize(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Quantile (equal-frequency) binning — the feature-prep /
    stratification primitive: assign each row the bucket of its
    ``field`` value among ``n_buckets`` per-group quantile bins, or
    against explicit ``boundaries``. Bucket j = number of boundaries
    strictly below the value (ties land in the LOWER bucket), so
    membership is a plain comparison count any engine replays —
    boundaries use the repo's PINNED discrete-percentile definition
    (value at rank max(ceil(q·n), 1); engine-native percentile_disc
    disagrees at boundary ranks across engines).

    Shapes: explicit boundaries = pure projection (zero shuffle).
    Grouped quantiles = ONE rank window over the group key, boundary
    rows filtered by rank arithmetic, dedup'd (coinciding quantiles
    merge bins), and joined back on the key. Global quantiles = the
    distributed prefix-sum rank, boundaries collected (n_buckets-1
    driver scalars) and re-broadcast as a LITERAL array — the
    mix_corpus precedent, so the consumer plan adds no shuffle.
    NULL values get a NULL bucket.

    config: ``field``, ``n_buckets`` (>= 2) or ``boundaries`` (list),
    ``group_by`` keys (quantile mode), ``as`` (default "bucket").
    """
    field = config["field"]
    out_col = config.get("as", "bucket")
    keys = list(config.get("group_by", []))
    explicit = config.get("boundaries")
    v = F.col(field)
    if explicit is not None:
        bnds = sorted(set(float(b) for b in explicit))
        arr = F.array(*[F.lit(b) for b in bnds])
        bucket = F.when(v.isNotNull(), F.size(
            F.filter(arr, lambda b: v > b)).cast("long"))
        return df.withColumn(out_col, bucket)
    nb = int(config.get("n_buckets", 4))
    if nb < 2:
        raise ValueError(f"n_buckets must be >= 2, got {nb}")
    nn = df.filter(v.isNotNull()).select(*keys, v.alias("__v"))
    if keys:
        ranked = (nn.withColumn("__rn", F.row_number().over(
                      Window.partitionBy(*keys).orderBy(F.col("__v"))))
                  .withColumn("__n", F.count(F.lit(1)).over(
                      Window.partitionBy(*keys))))
        ks = F.array(*[F.expr(f"greatest(({j} * __n + {nb - 1}) div {nb}, 1)")
                       for j in range(1, nb)])
        bounds = (ranked.filter(F.array_contains(ks, F.col("__rn")))
                  .groupBy(*keys)
                  .agg(F.array_sort(F.collect_set("__v")).alias("__bnds")))
        joined = _nullsafe_left_join(df, bounds, keys, broadcast=False)
    else:
        n_parts = int(config.get("n_partitions", 0)) or \
            df.sparkSession.sparkContext.defaultParallelism
        ranged, running, total = _distributed_prefix_sum(
            nn.select("__v"), F.lit(1), [F.col("__v")], n_parts)
        ppq = sorted({max(-(-j * total // nb), 1) for j in range(1, nb)})
        rows = (ranged.withColumn("__rn", running)
                .filter(F.col("__rn").isin([int(x) for x in ppq]))
                .select("__v").collect()) if total else []
        bnds = sorted({r["__v"] for r in rows})
        joined = df.withColumn(
            "__bnds", F.array(*[F.lit(b) for b in bnds]) if bnds
            else F.array().cast("array<double>"))
    bucket = F.when(
        v.isNotNull() & F.col("__bnds").isNotNull(),
        F.size(F.filter(F.col("__bnds"), lambda b: v > b)).cast("long"))
    return joined.withColumn(out_col, bucket).drop("__bnds")


@register("ks_drift")
def op_ks_drift(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Numeric-distribution drift between two snapshots: the
    two-sample Kolmogorov–Smirnov statistic, computed EXACTLY — the
    companion of category_drift for continuous columns (balance/
    latency/score drift gates). KS = max over values of
    |ECDF_cur - ECDF_base|; PSI needs ln (libm-divergent across
    engines), KS needs only counting, so any engine replays it
    bit-for-bit.

    Distributed shape: both sides reduce to per-VALUE counts (one
    hash shuffle, cardinality-bounded after that), the two ECDFs run
    as a distributed prefix sum over range partitions (per-partition
    window cumsums + broadcast offsets — never a single-partition
    WindowExec), and the max lands via ONE TakeOrdered row. The
    numerator |cum_cur·n_base - cum_base·n_cur| stays exact integer
    in DECIMAL(38,0); the single final division is the only float op.

    config: ``baseline`` (view/DataFrame), ``field`` (numeric; NULLs
    excluded on both sides — an unknown value has no ECDF position),
    ``n_partitions`` (default parallelism). Output: ONE row —
    n_cur, n_base (longs), ks_at (the value attaining the max;
    smallest such value on ties), ks (double). Empty output if
    either side has no non-NULL values.
    """
    baseline = views[config["baseline"]] if isinstance(
        config["baseline"], str) else config["baseline"]
    field = config["field"]
    n_parts = int(config.get("n_partitions", 0)) or \
        df.sparkSession.sparkContext.defaultParallelism
    tag = lambda frame, c, b: (frame.select(F.col(field).alias("v"))  # noqa: E731
                               .filter(F.col("v").isNotNull())
                               .select("v", F.lit(c).alias("__ic"),
                                       F.lit(b).alias("__ib")))
    counts = (tag(df, 1, 0).unionByName(tag(baseline, 0, 1))
              .groupBy("v").agg(F.sum("__ic").alias("c_cur"),
                                F.sum("__ib").alias("c_base")))
    # localCheckpoint pins the sampled range boundaries: the totals
    # collect and the final query are separate jobs, and an unpinned
    # repartitionByRange can re-sample DIFFERENT boundaries per job
    # (upstream shuffle fetch order is nondeterministic), silently
    # mis-assigning the per-pid ECDF offsets (_distributed_prefix_sum
    # note; this exact op produced ks=0.0136 vs 0.0133 at sf0.1)
    ranged = (counts.repartitionByRange(n_parts, F.col("v"))
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint())
    totals = ranged.groupBy("__pid").agg(
        F.sum("c_cur").alias("__wc"), F.sum("c_base").alias("__wb")).collect()
    offc, offb, accc, accb = {}, {}, 0, 0
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offc[r["__pid"]], offb[r["__pid"]] = accc, accb
        accc += int(r["__wc"] or 0)
        accb += int(r["__wb"] or 0)
    if accc == 0 or accb == 0:
        return ranged.filter(F.lit(False)).select(
            F.col("c_cur").alias("n_cur"), F.col("c_base").alias("n_base"),
            F.col("v").alias("ks_at"), F.lit(None).cast("double").alias("ks"))
    def _off(m):  # noqa: E306
        return F.element_at(F.create_map(
            *[F.lit(x) for kv in m.items() for x in kv]), F.col("__pid"))
    w = (Window.partitionBy("__pid").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum_cur = F.sum("c_cur").over(w) + _off(offc)
    cum_base = F.sum("c_base").over(w) + _off(offb)
    num = F.abs(cum_cur.cast("decimal(38,0)") * F.lit(accb)
                - cum_base.cast("decimal(38,0)") * F.lit(accc))
    return (ranged.withColumn("__num", num)
            .orderBy(F.col("__num").desc(), F.col("v").asc()).limit(1)
            .select(F.lit(accc).alias("n_cur"), F.lit(accb).alias("n_base"),
                    F.col("v").alias("ks_at"),
                    (F.col("__num").cast("string").cast("double")
                     / F.lit(float(accc) * float(accb))).alias("ks")))


@register("fillna")
def op_fillna(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Replace NULLs: ``values`` maps column -> constant. Strategy
    variants per column via ``strategy``: {col: "mean" | "median" |
    "zero" | "empty"} — mean/median compute ONE tiny aggregate row
    (approx median at scale accuracy) and fill with the result;
    a pure projection afterwards, no shuffle of the data itself."""
    values = dict(config.get("values") or {})
    strategy = dict(config.get("strategy") or {})
    if strategy:
        aggs = []
        for col, how in strategy.items():
            if how == "mean":
                aggs.append(F.avg(F.col(col).cast("double")).alias(col))
            elif how == "median":
                aggs.append(F.expr(
                    f"approx_percentile({col}, 0.5, 100000)").alias(col))
            elif how == "zero":
                values.setdefault(col, 0)
            elif how == "empty":
                values.setdefault(col, "")
            else:
                raise ValueError(f"unknown fillna strategy: {how!r}")
        if aggs:
            row = df.agg(*aggs).first()
            for col in list(strategy):
                if row is not None and col in row.asDict() and row[col] is not None:
                    values.setdefault(col, row[col])
    return df.fillna(values) if values else df


@register("dropna")
def op_dropna(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Drop rows with NULLs: ``how`` = "any" (default) | "all",
    optionally restricted to ``subset`` columns or requiring at least
    ``thresh`` non-null values. A pushdown-friendly filter — IsNotNull
    predicates reach the parquet scan for the subset form."""
    return df.dropna(how=config.get("how", "any"),
                     thresh=config.get("thresh"),
                     subset=config.get("subset"))


@register("merge_agg")
def op_merge_agg(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Incremental aggregate maintenance: fold the NEW batch's
    partial aggregates into a persisted aggregate ``store`` without
    re-reading history rows — the "update the daily rollup" pattern
    that replaces full recomputation at 100 TB (history cost is the
    store's key cardinality, not its row count).

    ``aggregates``: [{field, function, alias}] with the MERGEABLE
    set — count (merges as sum), sum, min, max. avg is intentionally
    absent: persist sum+count and derive at read time (an avg of
    avgs is wrong under unequal batch sizes); exact distinct needs
    `distinct_sketch`'s mergeable HLL instead. Double sums are
    float-order-dependent across merge shapes — for money/fixed-point
    columns use ``function: "sum_fixed"`` with ``scale`` (exact long
    arithmetic, merge-invariant; same trick as op_aggregate).

    Law (property-tested): merge(agg(A), agg(B)) == agg(A ∪ B) for
    any split — so a store built batch-by-batch equals the one-shot
    aggregate, and the contract oracle recomputes the whole table.
    """
    group_by = list(config.get("group_by", []))
    specs = list(config["aggregates"])
    combine_of = {"count": "sum", "sum": "sum", "sum_fixed": "sum",
                  "min": "min", "max": "max"}

    def first_pass(frame: DataFrame) -> DataFrame:
        aggs = []
        for s in specs:
            fn, field = s["function"], s.get("field")
            alias = s.get("alias") or f"{field}_{fn}"
            if fn not in combine_of:
                raise ValueError(
                    f"merge_agg supports {sorted(combine_of)}, got {fn!r}"
                    " (persist sum+count for avg; distinct_sketch for"
                    " distinct counts)")
            if fn == "count":
                aggs.append(F.count(F.lit(1)).alias(alias))
            elif fn == "sum_fixed":
                scale = 10 ** int(s.get("scale", 2))
                aggs.append(F.sum(F.round(F.col(field) * scale)
                                  .cast("long")).alias(alias))
            else:
                aggs.append(getattr(F, fn)(F.col(field)).alias(alias))
        return frame.groupBy(*group_by).agg(*aggs) if group_by \
            else frame.agg(*aggs)

    batch = first_pass(df)
    store = config.get("store")
    if store is None:
        return batch
    store = views[store] if isinstance(store, str) else store
    merged = store.unionByName(batch)
    combines = []
    for s in specs:
        fn, field = s["function"], s.get("field")
        alias = s.get("alias") or f"{field}_{fn}"
        combines.append(
            getattr(F, combine_of[fn])(F.col(alias)).alias(alias))
    return merged.groupBy(*group_by).agg(*combines) if group_by \
        else merged.agg(*combines)


@register("k_anonymity")
def op_k_anonymity(df: DataFrame, config: Mapping, views) -> DataFrame:
    """k-anonymity screen over quasi-identifier columns — the release
    gate that composes with pii_scrub/hash_columns: a row is UNSAFE
    when its exact combination of ``quasi_identifiers`` values is
    shared by fewer than ``k`` rows (small equivalence classes
    re-identify individuals even after direct identifiers are
    stripped).

    Modes: ``tag`` (default) adds ``eq_class_size`` (long) and
    ``k_anonymous`` (boolean); ``filter`` keeps only safe rows;
    ``suppress`` keeps every row but NULLs the quasi-identifiers of
    unsafe ones (the standard generalize-or-suppress fallback).

    Shape: one count-over window keyed on the QI tuple — the same
    single shuffle any anonymity proof needs; NULL QI values group
    together (SQL GROUP BY semantics), matching the risk model where
    a shared missing value is still a shared value.
    """
    qis = list(config["quasi_identifiers"])
    k = int(config.get("k", 5))
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    mode = config.get("mode", "tag")
    if mode not in ("tag", "filter", "suppress"):
        raise ValueError(
            f"k_anonymity mode must be tag|filter|suppress, got {mode!r}")
    w = Window.partitionBy(*[F.col(c) for c in qis])
    size = F.count(F.lit(1)).over(w)
    tagged = (df.withColumn("eq_class_size", size)
              .withColumn("k_anonymous", F.col("eq_class_size") >= k))
    if mode == "tag":
        return tagged
    if mode == "filter":
        return (tagged.filter(F.col("k_anonymous"))
                .drop("eq_class_size", "k_anonymous"))
    out = tagged
    for c in qis:
        out = out.withColumn(
            c, F.when(F.col("k_anonymous"), F.col(c)))
    return out.drop("eq_class_size", "k_anonymous")


@register("l_diversity")
def op_l_diversity(df: DataFrame, config: Mapping, views) -> DataFrame:
    """l-diversity screen — the disclosure gate k-anonymity misses:
    an equivalence class of ``quasi_identifiers`` values is UNSAFE
    when it carries fewer than ``l`` distinct values of the
    ``sensitive`` attribute (a k-anonymous class whose members all
    share one diagnosis still discloses it; Machanavajjhala et al.,
    ICDE'06). Composes with k_anonymity the way the paper stacks
    them.

    Distinct counting runs as TWO windows over ONE hash shuffle on
    the QI tuple — dense_rank over (QI, sensitive-ordered) then a
    partition MAX — instead of a groupBy + join back, which would
    shuffle twice AND silently drop NULL-QI rows on the re-join
    (join equality vs GROUP BY null semantics). NULL QI values group
    together, matching k_anonymity's risk model; NULL sensitive
    values do NOT count toward diversity (SQL COUNT(DISTINCT)
    semantics — an unknown value discloses nothing).

    Modes: ``tag`` (default) adds ``sensitive_diversity`` (long) and
    ``l_diverse`` (boolean); ``filter`` keeps only safe rows;
    ``suppress`` NULLs the quasi-identifiers of unsafe ones.
    """
    qis = list(config["quasi_identifiers"])
    sensitive = config["sensitive"]
    l = int(config.get("l", 2))
    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    mode = config.get("mode", "tag")
    if mode not in ("tag", "filter", "suppress"):
        raise ValueError(
            f"l_diversity mode must be tag|filter|suppress, got {mode!r}")
    part = Window.partitionBy(*[F.col(c) for c in qis])
    ordered = part.orderBy(F.col(sensitive).asc_nulls_first())
    # NULLs sort first -> they occupy dense_rank 1 iff present; the
    # partition MAX of the rank minus that presence flag is the exact
    # non-NULL distinct count, computed without a second shuffle
    has_null = F.max(
        F.when(F.col(sensitive).isNull(), 1).otherwise(0)).over(part)
    tagged = (df.withColumn("__dr", F.dense_rank().over(ordered))
              .withColumn("sensitive_diversity",
                          (F.max("__dr").over(part) - has_null).cast("long"))
              .drop("__dr")
              .withColumn("l_diverse", F.col("sensitive_diversity") >= l))
    if mode == "tag":
        return tagged
    if mode == "filter":
        return (tagged.filter(F.col("l_diverse"))
                .drop("sensitive_diversity", "l_diverse"))
    out = tagged
    for c in qis:
        out = out.withColumn(c, F.when(F.col("l_diverse"), F.col(c)))
    return out.drop("sensitive_diversity", "l_diverse")
