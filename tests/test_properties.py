"""Property-based operator laws (hypothesis).

The reference's tests assert single fixed fixtures (SURVEY.md §5);
these pin the algebraic properties that must hold for ANY input —
the kind of invariant that catches partitioning/null-handling bugs a
hand-picked fixture never hits. Example counts are kept small because
every example is a real Spark job.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

from blackroad_data_pipeline_spark.operators import apply_operator as op

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_st = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=5),            # key (collisions likely)
        # magnitude bounded to the documented domain of the decimal
        # sum path (|x| < 1e28); full float32 range would ANSI-error
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       min_value=-1e12, max_value=1e12)),
        st.text(alphabet="abc", max_size=3),               # tag
    ),
    min_size=0, max_size=30,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v double, tag string") \
        if rows else spark.createDataFrame([], "k int, v double, tag string")


@given(rows=rows_st)
@settings(**SETTINGS)
def test_filter_eq_ne_partition_nonnull_rows(spark, rows):
    """eq and ne partition the non-null rows: nothing lost, nothing
    double-counted, nulls in neither."""
    df = _df(spark, rows)
    n_eq = op("filter", df, {"field": "k", "op": "eq", "value": 1}).count()
    n_ne = op("filter", df, {"field": "k", "op": "ne", "value": 1}).count()
    assert n_eq + n_ne == df.filter("k IS NOT NULL").count()


@given(rows=rows_st)
@settings(**SETTINGS)
def test_deduplicate_yields_distinct_keys_exactly(spark, rows):
    df = _df(spark, rows)
    out = op("deduplicate", df, {"keys": ["k"]})
    got = sorted(r["k"] for r in out.select("k").collect())
    want = sorted(r["k"] for r in df.select("k").distinct().collect())
    assert got == want


@given(rows=rows_st)
@settings(**SETTINGS)
def test_sort_is_monotone_permutation(spark, rows):
    df = _df(spark, rows)
    out = [r["k"] for r in op("sort", df, {"fields": ["k"]}).select("k").collect()]
    assert out == sorted(r["k"] for r in df.select("k").collect())


@given(rows=rows_st)
@settings(**SETTINGS)
def test_decimal_sum_matches_fsum(spark, rows):
    """The decimal-summed aggregate equals exact math.fsum — i.e. the
    result is independent of partition/reduction order."""
    df = _df(spark, rows)
    got = op("aggregate", df, {
        "group_by": [],
        "aggregates": [{"field": "v", "function": "sum", "alias": "s"}],
    }).collect()[0]["s"]
    vals = [r[1] for r in rows if r[1] is not None]
    if not vals:
        assert got is None
    else:
        want = math.fsum(vals)
        # Spark's double->decimal cast routes through Java's SHORTEST
        # ROUNDTRIP decimal repr (~17 significant digits), so each term
        # can shift by ~1 ulp of ITSELF before the exact decimal sum.
        # Under catastrophic cancellation that absolute error dwarfs the
        # result — so the tolerance must scale with input magnitude,
        # not the output (found by hypothesis: 999999700003.0 -
        # 999999650003.96875 -> Spark decimal sees ....9688).
        scale = max(abs(v) for v in vals)
        assert got == pytest.approx(want, rel=1e-9,
                                    abs=1e-9 + 1e-12 * scale)


@given(rows=rows_st, n_parts=st.integers(min_value=1, max_value=8))
@settings(**SETTINGS)
def test_aggregate_invariant_under_repartition(spark, rows, n_parts):
    """Group counts/sums don't depend on physical partitioning."""
    df = _df(spark, rows)
    cfg = {"group_by": ["k"], "aggregates": [
        {"field": "v", "function": "sum", "alias": "s"},
        {"field": "v", "function": "count", "alias": "n"},
    ]}
    a = {r["k"]: (r["s"], r["n"]) for r in op("aggregate", df, cfg).collect()}
    b = {r["k"]: (r["s"], r["n"])
         for r in op("aggregate", df.repartition(n_parts), cfg).collect()}
    assert a == b


@given(rows=rows_st)
@settings(**SETTINGS)
def test_union_aligns_by_name_with_nulls(spark, rows):
    df = _df(spark, rows)
    other = df.select("k", "tag")  # missing v
    out = op("union", df, {"others": [other]}, views={})
    assert out.count() == 2 * df.count()
    assert set(out.columns) == {"k", "v", "tag"}
    # every row from `other` carries NULL v, plus df's own nulls
    assert out.filter("v IS NULL").count() == \
        df.filter("v IS NULL").count() + df.count()


asof_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=15)
asof_right = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50),
              st.integers(-100, 100)), min_size=0, max_size=15)


@given(left=asof_rows, right=asof_right,
       direction=st.sampled_from(["backward", "forward", "nearest"]))
@settings(**SETTINGS)
def test_asof_join_matches_python_model(spark, left, right, direction):
    """The union+carry as-of equals the obvious per-row model:
    backward = max-ts right at/before each left row (ties: max seq);
    forward = min-ts right at/after (ties: min seq); nearest = the
    closer of (backward at/before, forward STRICTLY after), distance
    ties resolving backward — at-instant rows are distance-0 backward
    candidates."""
    ldf = (spark.createDataFrame(left, "k int, ts int") if left
           else spark.createDataFrame([], "k int, ts int"))
    rrows = [(k, ts, i) for i, (k, ts, _) in enumerate(right)]
    rdf = (spark.createDataFrame(rrows, "k int, ts int, seq int") if rrows
           else spark.createDataFrame([], "k int, ts int, seq int"))
    out = op("asof_join", ldf, {
        "right": rdf, "by": ["k"], "left_ts": "ts", "values": ["seq"],
        "right_tiebreak": "seq", "direction": direction,
    }, views={})

    def model(k, ts):
        back = [(rts, seq) for (rk, rts, seq) in rrows
                if rk == k and rts <= ts]
        if direction == "backward":
            return max(back)[1] if back else None
        if direction == "forward":
            cands = [(rts, seq) for (rk, rts, seq) in rrows
                     if rk == k and rts >= ts]
            return min(cands)[1] if cands else None
        fwd = [(rts, seq) for (rk, rts, seq) in rrows
               if rk == k and rts > ts]
        b = max(back) if back else None
        f = min(fwd) if fwd else None
        if b is None:
            return f[1] if f else None
        if f is None:
            return b[1]
        return b[1] if (ts - b[0]) <= (f[0] - ts) else f[1]

    got = sorted((r["k"], r["ts"], r["r_seq"]) for r in out.collect())
    want = sorted((k, ts, model(k, ts)) for (k, ts) in left)
    assert got == want


tw_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(-50, 50),
              st.integers(-500, 500)),
    min_size=0, max_size=20)


@given(rows=tw_rows, n_parts=st.sampled_from([1, 3, 8]))
@settings(**SETTINGS)
def test_time_weighted_matches_python_model(spark, rows, n_parts):
    """time_weighted == the closed-form LOCF integral: per key, sort
    by (instant, value), each value holds until the next instant, the
    last holds nothing; twa = Σ v·Δt / (max − min). WHOLE-NUMBER
    values keep every per-term product and partial sum exactly
    representable, so the op's decimal-route sum equals the python
    float sum bit-for-bit at any partitioning (incl. the global
    ranged-boundary path); fractional values go through the same
    10-dp decimal quantization on BOTH engines and are value-checked
    by the oracle pair instead."""
    data = [(k, t, float(c)) for (k, t, c) in rows]
    df = (spark.createDataFrame(data, "k int, ts long, v double")
          if data else spark.createDataFrame([], "k int, ts long, v double"))

    def model(sub):
        srt = sorted(sub)
        if not srt:
            return None
        span = srt[-1][0] - srt[0][0]
        num = sum(v * (srt[i + 1][0] - t)
                  for i, (t, v) in enumerate(srt[:-1]))
        return (len(srt), span, num / span if span > 0 else None)

    got = {r["k"]: (r["n_obs"], r["span"], r["twa"]) for r in op(
        "time_weighted", df.repartition(n_parts),
        {"value_field": "v", "group_by": ["k"]}, views={}).collect()}
    keys = {k for (k, _, _) in data}
    want = {k: model([(t, v) for (kk, t, v) in data if kk == k])
            for k in keys}
    assert got == want
    # global mode agrees with a single-group model
    gglob = op("time_weighted", df.repartition(n_parts),
               {"value_field": "v", "n_partitions": n_parts},
               views={}).collect()
    wglob = model([(t, v) for (_, t, v) in data])
    if data:
        r = gglob[0]
        assert (r["n_obs"], r["span"], r["twa"]) == wglob
    else:
        # SQL global-aggregate semantics: empty input -> one row
        assert [(r["n_obs"], r["span"], r["twa"]) for r in gglob] == \
            [(0, None, None)]


@given(rows=tw_rows, width=st.integers(1, 25))
@settings(**SETTINGS)
def test_time_weighted_bucketed_matches_python_model(spark, rows, width):
    """Bucketed time_weighted == the clipped-integral model for ANY
    bucket width (bucketization is an implementation detail of the
    weighting, not a semantic knob beyond the grouping): per key,
    each holding interval [e, ne) spreads v over the buckets it
    overlaps, clipped; twa_bucket = Σ v·clip / Σ clip. Negative
    instants exercise the pmod floor (a truncating div would misplace
    pre-epoch buckets)."""
    data = [(k, t, float(c)) for (k, t, c) in rows]
    df = (spark.createDataFrame(data, "k int, ts long, v double")
          if data else spark.createDataFrame([], "k int, ts long, v double"))

    def model(sub):
        srt = sorted(sub)
        out = {}
        for i, (t, v) in enumerate(srt[:-1]):
            ne = srt[i + 1][0]
            if ne <= t:
                continue
            b = t - (t % width) if width else t
            while b < ne:
                clip = min(ne, b + width) - max(t, b)
                n, cov, num = out.get(b, (0, 0, 0.0))
                out[b] = (n + 1, cov + clip, num + v * clip)
                b += width
        return {b: (n, cov, num / cov) for b, (n, cov, num) in out.items()}

    got = {}
    for r in op("time_weighted", df,
                {"value_field": "v", "group_by": ["k"],
                 "interval": width}, views={}).collect():
        got[(r["k"], r["bucket"])] = (r["n_obs"], r["covered"], r["twa"])
    want = {}
    for k in {k for (k, _, _) in data}:
        for b, tpl in model([(t, v) for (kk, t, v) in data
                             if kk == k]).items():
            want[(k, b)] = tpl
    assert got == want


@given(rows=tw_rows, w=st.integers(1, 30),
       n_parts=st.sampled_from([1, 5]))
@settings(**SETTINGS)
def test_rolling_matches_python_model(spark, rows, w, n_parts):
    """rolling == the per-row trailing-window model: for each row,
    count/sum/max over all same-key rows with instant in
    [t − w, t] (value-based frame, both ends inclusive — equal
    instants always share the frame)."""
    data = [(k, t, c) for (k, t, c) in rows]
    df = (spark.createDataFrame(data, "k int, ts long, v long")
          if data else spark.createDataFrame([], "k int, ts long, v long"))
    out = op("rolling", df.repartition(n_parts), {
        "group_by": ["k"], "window": w,
        "aggregates": [{"function": "count", "alias": "n"},
                       {"field": "v", "function": "sum", "alias": "s"},
                       {"field": "v", "function": "max", "alias": "mx"}]},
        views={})
    got = sorted((r["k"], r["ts"], r["v"], r["n"], r["s"], r["mx"])
                 for r in out.collect())
    want = []
    for (k, t, v) in data:
        frame = [vv for (kk, tt, vv) in data
                 if kk == k and t - w <= tt <= t]
        want.append((k, t, v, len(frame), sum(frame), max(frame)))
    assert got == sorted(want)


def test_median_aggregate(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", 10.0), ("b", 4.0)], ["k", "v"])
    got = {r["k"]: r["m"] for r in op("aggregate", df, {
        "group_by": ["k"],
        "aggregates": [{"field": "v", "function": "median", "alias": "m"}],
    }).collect()}
    assert got == {"a": 3.0, "b": 4.0}


range_left = st.lists(st.tuples(st.integers(0, 2), st.integers(0, 40)),
                      min_size=0, max_size=12)
range_right = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40), st.integers(1, 15)),
    min_size=0, max_size=12)


@given(left=range_left, right=range_right, bucket=st.integers(1, 20))
@settings(**SETTINGS)
def test_range_join_matches_model_for_any_bucket_width(spark, left, right, bucket):
    """Bucketization is an implementation detail: results must be
    identical for every bucket width."""
    ldf = (spark.createDataFrame(left, "k int, ts int") if left
           else spark.createDataFrame([], "k int, ts int"))
    rrows = [(k, s, s + d, i) for i, (k, s, d) in enumerate(right)]
    rdf = (spark.createDataFrame(rrows, "k int, s int, e int, wid int") if rrows
           else spark.createDataFrame([], "k int, s int, e int, wid int"))
    out = op("range_join", ldf, {
        "right": rdf, "by": ["k"], "left_ts": "ts",
        "start_field": "s", "end_field": "e", "bucket_seconds": bucket,
    }, views={})
    got = sorted((r["k"], r["ts"], r["r_wid"]) for r in out.collect())
    want = sorted((k, ts, wid) for (k, ts) in left
                  for (rk, s, e, wid) in rrows if rk == k and s <= ts < e)
    assert got == want


@given(rows=rows_st)
@settings(**SETTINGS)
def test_set_ops_match_python_sets(spark, rows):
    """intersect/except(distinct) equal Python set algebra on the key
    column for any input (split rows into two halves)."""
    half = len(rows) // 2
    a_rows, b_rows = rows[:half], rows[half:]
    a = _df(spark, a_rows).select("k")
    b = _df(spark, b_rows).select("k")
    sa = {r[0] for r in a_rows}
    sb = {r[0] for r in b_rows}
    inter = {r["k"] for r in op("intersect", a, {"other": b}, views={}).collect()}
    exc = {r["k"] for r in op("except", a, {"other": b}, views={}).collect()}
    assert inter == sa & sb
    assert exc == sa - sb


@given(n=st.integers(1, 400), seed_shift=st.integers(0, 5))
@settings(**SETTINGS)
def test_split_assign_partitions_and_roughly_honors_fractions(spark, n, seed_shift):
    df = spark.range(seed_shift * 1000, seed_shift * 1000 + n) \
        .withColumnRenamed("id", "k")
    out = op("split_assign", df, {
        "on": ["k"], "splits": {"train": 0.75, "test": 0.25}})
    got = [r["split"] for r in out.collect()]
    assert len(got) == n                      # every row assigned once
    assert set(got) <= {"train", "test"}      # only configured splits
    if n >= 200:                              # loose binomial bound
        frac = got.count("train") / n
        assert 0.55 < frac < 0.95


# -- corpus-prep ops (round 2) ------------------------------------------------

docs_st = st.lists(
    st.text(alphabet="ab ", max_size=40),  # whitespace-heavy token streams
    min_size=1, max_size=12,
)


@given(texts=docs_st,
       chunk=st.integers(min_value=2, max_value=8),
       overlap=st.integers(min_value=0, max_value=3))
@settings(**SETTINGS)
def test_chunk_text_reconstructs_token_stream(spark, texts, chunk, overlap):
    """Dropping each chunk's first `overlap` tokens (except chunk 0)
    and concatenating reconstructs the original token stream exactly —
    chunking loses nothing and duplicates exactly the overlap."""
    if overlap >= chunk:
        overlap = chunk - 1
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        op("chunk_text", df, {"chunk_tokens": chunk, "overlap": overlap}).collect(),
        key=lambda r: (r["doc_id"], r["chunk_idx"]))
    by_doc = {}
    for r in out:
        toks = r["chunk_text"].split()
        if r["chunk_idx"] > 0:
            toks = toks[overlap:]
        by_doc.setdefault(r["doc_id"], []).extend(toks)
    for i, t in rows:
        assert by_doc.get(i, []) == t.split(), (i, t)


@given(texts=docs_st, seq=st.integers(min_value=1, max_value=20))
@settings(**SETTINGS)
def test_pack_sequences_never_splits_and_covers_all(spark, texts, seq):
    """Every doc gets exactly one pack; within a shard, pack ids are
    contiguous bins of the cumulative token count (never split, never
    dropped, deterministic under repartitioning)."""
    rows = [(i, t, i % 2) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, shard int")
    out = op("pack_sequences", df, {"seq_tokens": seq, "shard_by": "shard"})
    got = {r["doc_id"]: r["pack_id"] for r in out.collect()}
    assert set(got) == {i for i, _, _ in rows}
    again = {r["doc_id"]: r["pack_id"] for r in
             op("pack_sequences", df.repartition(5), {
                 "seq_tokens": seq, "shard_by": "shard"}).collect()}
    assert again == got


texts_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=100),
        st.one_of(st.none(),
                  st.text(alphabet="ab c\n.", max_size=40)),
    ),
    min_size=0, max_size=15,
).map(lambda rows: [(i, t) for i, (_, t) in enumerate(rows)])


def _clean_model(text, min_words, min_doc_words, blacklist):
    if text is None:
        text = ""
    kept = []
    for line in text.split("\n"):
        line = line.strip()
        words = [w for w in line.split() if w]
        if len(words) < min_words:
            continue
        if any(b in line.lower() for b in blacklist):
            continue
        kept.append(line)
    out = "\n".join(kept)
    return out if len(out.split()) >= min_doc_words else None


@given(rows=texts_st, min_words=st.integers(1, 3), min_doc=st.integers(1, 4))
@settings(**SETTINGS)
def test_clean_lines_matches_python_model(spark, rows, min_words, min_doc):
    df = spark.createDataFrame(rows, "doc_id int, text string") \
        if rows else spark.createDataFrame([], "doc_id int, text string")
    got = {r["doc_id"]: r["text"] for r in op(
        "clean_lines", df,
        {"field": "text", "min_words": min_words, "min_doc_words": min_doc,
         "blacklist": ["ca"]}).collect()}
    want = {i: _clean_model(t, min_words, min_doc, ["ca"]) for i, t in rows}
    want = {i: t for i, t in want.items() if t is not None}
    assert got == want


@given(rows=rows_st, n=st.integers(1, 4))
@settings(**SETTINGS)
def test_cap_per_group_bounds_and_subset(spark, rows, n):
    """Every group is capped at n, the output is a subset of the
    input, and groups smaller than n pass through whole."""
    df = _df(spark, rows).withColumn("rid", F.monotonically_increasing_id())
    out = op("cap_per_group", df,
             {"partition_by": ["k"], "n": n, "id_field": "rid"})
    in_counts = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    out_counts = {r["k"]: r["count"] for r in out.groupBy("k").count().collect()}
    for k, c in in_counts.items():
        assert out_counts.get(k, 0) == min(c, n)


@given(rows=rows_st, bins=st.integers(1, 5))
@settings(**SETTINGS)
def test_histogram_conserves_rows(spark, rows, bins):
    """Clamped histogram counts sum to the non-null row count, and
    every bin index is in range."""
    df = _df(spark, rows)
    out = op("histogram", df, {"field": "v", "lo": -1e12, "hi": 1e12,
                               "n_bins": bins}).collect()
    n_nonnull = df.filter("v IS NOT NULL").count()
    assert sum(r["n"] for r in out) == n_nonnull
    assert all(0 <= r["bin"] < bins for r in out)


@given(rows=rows_st)
@settings(**SETTINGS)
def test_dedup_against_disjoint_and_idempotent(spark, rows):
    """Nothing surviving dedup_against shares a fingerprint with
    history, and re-running against the same history is a no-op."""
    df = _df(spark, rows).withColumn("rid", F.monotonically_increasing_id())
    history = df.filter("k < 0")
    batch = df.filter("k >= 0")
    cfg = {"field": "tag", "id_field": "rid", "history": history}
    once = op("dedup_against", batch, cfg, views={})
    twice = op("dedup_against", once, cfg, views={})
    got_once = sorted(r["rid"] for r in once.collect())
    assert got_once == sorted(r["rid"] for r in twice.collect())
    # direct fingerprint disjointness: normalized tags of survivors
    # never appear in history's normalized tags
    import re as _re

    def norm(t):
        return _re.sub(r"\s+", " ", (t or "").strip().lower())

    hist_norm = {norm(r["tag"]) for r in history.collect()}
    for r in once.collect():
        assert norm(r["tag"]) not in hist_norm


lm_docs = st.lists(
    st.one_of(st.none(), st.text(alphabet="ab \t", max_size=12)),
    min_size=0, max_size=8,
).map(lambda ts: [(i, t) for i, t in enumerate(ts)])


@given(docs=lm_docs)
@settings(**SETTINGS)
def test_unigram_logprob_matches_model_for_any_corpus(spark, docs):
    import math

    df = (spark.createDataFrame(docs, "doc_id int, text string") if docs
          else spark.createDataFrame([], "doc_id int, text string"))
    got = {r["doc_id"]: r for r in op(
        "unigram_logprob", df, {"field": "text", "id_field": "doc_id"}
    ).collect()}

    toks = {i: (t or "").lower().split() for i, t in docs}
    counts: dict = {}
    for ws in toks.values():
        for w in ws:
            counts[w] = counts.get(w, 0) + 1
    T, V = sum(counts.values()), len(counts)
    for i, ws in toks.items():
        r = got[i]
        assert r["n_tokens"] == len(ws)
        assert r["sum_corpus_count"] == sum(counts[w] for w in ws)
        if ws:
            want = sum(math.log((counts[w] + 1.0) / (T + V)) for w in ws) / len(ws)
            assert abs(r["mean_logprob"] - want) < 1e-9
        else:
            assert r["mean_logprob"] is None


@given(docs=lm_docs)
@settings(**SETTINGS)
def test_bigram_logprob_matches_model_for_any_corpus(spark, docs):
    import math

    df = (spark.createDataFrame(docs, "doc_id int, text string") if docs
          else spark.createDataFrame([], "doc_id int, text string"))
    got = {r["doc_id"]: r for r in op(
        "bigram_logprob", df, {"field": "text", "id_field": "doc_id"}
    ).collect()}

    toks = {i: (t or "").lower().split() for i, t in docs}
    uni: dict = {}
    bi: dict = {}
    for ws in toks.values():
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    V = len(uni)
    for i, ws in toks.items():
        r = got[i]
        pairs = list(zip(ws, ws[1:]))
        assert r["n_bigrams"] == len(pairs)
        assert r["sum_bigram_count"] == sum(bi[p] for p in pairs)
        assert r["sum_prefix_count"] == sum(uni[a] for a, _ in pairs)
        if pairs:
            want = sum(math.log((bi[p] + 1.0) / (uni[p[0]] + V))
                       for p in pairs) / len(pairs)
            assert abs(r["mean_logprob"] - want) < 1e-9
        else:
            assert r["mean_logprob"] is None


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10**6),          # id (may duplicate scores)
                  st.integers(-50, 50),            # score
                  st.integers(0, 40)),             # weight
        min_size=1, max_size=60, unique_by=lambda r: r[0]),
    budget=st.integers(0, 600),
    n_parts=st.integers(1, 8),
)
@settings(**SETTINGS)
def test_budget_select_matches_naive_model(spark, rows, budget, n_parts):
    """Distributed prefix-sum selection == sort-then-accumulate, for
    any weights (including zero), budgets, and partition counts."""
    df = spark.createDataFrame(rows, "id long, score long, w long")
    out = op("budget_select", df, {
        "weight_field": "w", "budget": budget,
        "order_by": ["score", "id"], "descending": True,
        "n_partitions": n_parts, "as": "run"})
    got = {r["id"]: r["run"] for r in out.collect()}
    acc, want = 0, {}
    for i, s, w in sorted(rows, key=lambda r: (-r[1], -r[0])):
        acc += w
        if acc > budget:
            break
        want[i] = acc
    assert got == want


lines_st = st.lists(
    st.sampled_from([
        "a short ln",                      # exactly at min_chars=10
        "tiny",                            # never a candidate
        "shared sentence alpha beta gamma",
        "shared sentence delta epsilon zeta",
        "some unique filler line %d",
    ]),
    min_size=0, max_size=6,
)


@given(docs=st.lists(lines_st, min_size=1, max_size=6),
       policy=st.sampled_from(["keep_first", "drop_common"]))
@settings(**SETTINGS)
def test_dedup_lines_matches_python_model(spark, docs, policy):
    """dedup_lines == a straightforward per-line Python model, for
    both policies, arbitrary line mixes and duplicate layouts."""
    rows = [(i, "\n".join(line % i if "%d" in line else line
                          for line in doc))
            for i, doc in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = {"min_chars": 10, "policy": policy, "min_docs": 2}
    got = {r["doc_id"]: r["text"]
           for r in op("dedup_lines", df, cfg).collect()}

    # python model over trimmed exploded lines
    exploded = [(i, j, ln.strip())
                for i, t in rows for j, ln in enumerate(t.split("\n"))]
    first, ndocs = {}, {}
    for i, j, ln in exploded:
        if len(ln) >= 10:
            first.setdefault(ln, (i, j))
            ndocs.setdefault(ln, set()).add(i)
    want = {}
    for i, t in rows:
        kept = []
        for j, ln in enumerate(t.split("\n")):
            ln = ln.strip()
            if len(ln) < 10:
                kept.append(ln)
            elif policy == "drop_common":
                if len(ndocs[ln]) < 2:
                    kept.append(ln)
            elif first[ln] == (i, j):
                kept.append(ln)
        want[i] = "\n".join(kept)
    assert got == want


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    names=st.lists(st.text(alphabet="abcx ", max_size=8), min_size=2,
                   max_size=14),
    k=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_fuzzy_join_matches_brute_force(spark, names, k):
    """q-gram count filtering + verify == brute-force levenshtein
    pairs — including tiny/empty strings (the fallback path) and
    duplicate values."""
    rows = list(enumerate(names))
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["id_a"], r["id_b"]): r["distance"]
           for r in op("fuzzy_join", df, {"field": "name", "id_field": "id",
                                          "max_distance": k}).collect()}
    want = {(i, j): _lev(a, b)
            for i, a in rows for j, b in rows
            if i < j and _lev(a, b) <= k}
    assert got == want


@given(docs=lm_docs)
@settings(**SETTINGS)
def test_importance_weight_matches_model_for_any_corpus(spark, docs):
    import math

    df = (spark.createDataFrame(docs, "doc_id int, text string") if docs
          else spark.createDataFrame([], "doc_id int, text string"))
    # target domain: the even-id documents
    target = df.filter(F.col("doc_id") % 2 == 0)
    got = {r["doc_id"]: r for r in op(
        "importance_weight", df,
        {"field": "text", "id_field": "doc_id", "target": target}
    ).collect()}

    toks = {i: (t or "").lower().split() for i, t in docs}
    raw: dict = {}
    tgt: dict = {}
    for i, ws in toks.items():
        for w in ws:
            raw[w] = raw.get(w, 0) + 1
            if i % 2 == 0:
                tgt[w] = tgt.get(w, 0) + 1
    v = len(raw)  # union vocab == raw vocab (target is a subset corpus)
    dr, dt = sum(raw.values()) + v, sum(tgt.values()) + v
    for i, ws in toks.items():
        r = got[i]
        assert r["n_tokens"] == len(ws)
        assert r["sum_raw_count"] == sum(raw[w] for w in ws)
        assert r["sum_target_count"] == sum(tgt.get(w, 0) for w in ws)
        if ws:
            want = sum(math.log((tgt.get(w, 0) + 1.0) / dt)
                       - math.log((raw[w] + 1.0) / dr) for w in ws) / len(ws)
            assert abs(r["mean_llr"] - want) < 1e-9
        else:
            assert r["mean_llr"] is None


dup_docs = st.lists(
    st.one_of(st.none(),
              st.text(alphabet="abc \n", max_size=20)),
    min_size=0, max_size=8,
).map(lambda ts: [(i, t) for i, t in enumerate(ts)])


@given(docs=dup_docs, span=st.integers(1, 3), min_docs=st.integers(2, 3))
@settings(**SETTINGS)
def test_dup_span_stats_matches_model_for_any_corpus(
        spark, docs, span, min_docs):
    df = (spark.createDataFrame(docs, "doc_id int, text string") if docs
          else spark.createDataFrame([], "doc_id int, text string"))
    got = {r["doc_id"]: r for r in op(
        "dup_span_stats", df,
        {"field": "text", "id_field": "doc_id", "span": span,
         "min_docs": min_docs}, views={}).collect()}

    toks = {i: (t or "").split() for i, t in docs}
    wins = {i: [tuple(ws[p:p + span]) for p in range(len(ws) - span + 1)]
            for i, ws in toks.items()}
    owners: dict = {}
    for i, ws in wins.items():
        for w in set(ws):
            owners.setdefault(w, set()).add(i)
    dup = {w for w, os in owners.items() if len(os) >= min_docs}
    for i, ws in toks.items():
        r = got[i]
        assert r["n_tokens"] == len(ws)
        assert r["n_windows"] == len(wins[i])
        assert r["dup_windows"] == sum(w in dup for w in wins[i])
        covered = {q for p, w in enumerate(wins[i]) if w in dup
                   for q in range(p, p + span)}
        assert r["dup_tokens"] == len(covered)
        want = len(covered) / len(ws) if ws else 0.0
        assert abs(r["dup_token_fraction"] - want) < 1e-12


gopher_docs = st.lists(
    st.one_of(st.none(),
              st.text(alphabet="ab# .!\n-*…", max_size=30)),
    min_size=0, max_size=6,
).map(lambda ts: [(i, t) for i, t in enumerate(ts)])


@given(docs=gopher_docs)
@settings(**SETTINGS)
def test_gopher_quality_matches_model_for_any_corpus(spark, docs):
    import re as _re

    cfg = {"field": "text", "min_words": 2, "max_words": 10,
           "min_mean_word_len": 1.0, "max_mean_word_len": 3.0,
           "max_symbol_ratio": 0.2, "max_bullet_ratio": 0.4,
           "max_ellipsis_line_ratio": 0.4, "min_alpha_ratio": 0.5,
           "min_stop_hits": 1, "stopwords": ["a", "ab"]}
    df = (spark.createDataFrame(docs, "doc_id int, text string") if docs
          else spark.createDataFrame([], "doc_id int, text string"))
    got = {r["doc_id"]: r for r in op(
        "gopher_quality", df, cfg, views={}).collect()}

    for i, t in docs:
        t = t or ""
        toks = t.split()
        lines = [x.strip() for x in t.split("\n")]
        n, nl = len(toks), len(lines)
        mean_wl = sum(len(w) for w in toks) / n if n else None
        symbols = t.count("#") + len(_re.findall(r"\.\.\.|…", t))
        bullets = sum(bool(_re.match(r"^[-*•]\s", x)) for x in lines)
        ellipsis = sum(bool(_re.search(r"(\.\.\.|…)$", x)) for x in lines)
        alpha = sum(bool(_re.search("[A-Za-z]", w)) for w in toks)
        stops = len({w.lower() for w in toks} & {"a", "ab"})
        want = {
            "ok_n_words": 2 <= n <= 10,
            "ok_mean_word_len":
                mean_wl is not None and 1.0 <= mean_wl <= 3.0,
            "ok_symbol_ratio": n > 0 and symbols / n <= 0.2,
            "ok_bullet_lines": bullets / nl <= 0.4,
            "ok_ellipsis_lines": ellipsis / nl <= 0.4,
            "ok_alpha_words": n > 0 and alpha / n >= 0.5,
            "ok_stopwords": stops >= 1,
        }
        r = got[i]
        for flag, val in want.items():
            assert r[flag] == val, (i, flag, t)
        assert r["gopher_pass"] == all(want.values()), (i, t)


# -- scd2: split/merge associativity ---------------------------------------

obs_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),              # key
        st.integers(min_value=0, max_value=20),             # ts
        st.one_of(st.none(), st.sampled_from(["a", "b"])),  # state
    ),
    min_size=0, max_size=24,
    # one observation per (key, ts): equal-instant updates would need
    # a tiebreak column to be deterministic
    unique_by=lambda t: (t[0], t[1]),
)


@given(obs=obs_st, cut=st.integers(min_value=0, max_value=20))
@settings(**SETTINGS)
def test_scd2_incremental_merge_equals_full_rebuild(spark, obs, cut):
    """Applying the post-cut observations incrementally onto the
    pre-cut history must equal compressing the full stream in one
    shot — the invariant that makes daily SCD2 merges trustworthy."""
    schema = "k int, ts int, v string"
    full = spark.createDataFrame(obs, schema) if obs else \
        spark.createDataFrame([], schema)
    cfg = {"keys": ["k"], "attrs": ["v"]}
    def key(t):
        return [(x is None, str(x)) for x in t]

    whole = sorted(map(tuple, op("scd2", full, cfg, views={}).collect()),
                   key=key)

    old = [o for o in obs if o[1] <= cut]
    new = [o for o in obs if o[1] > cut]
    hist = op("scd2",
              spark.createDataFrame(old, schema) if old else
              spark.createDataFrame([], schema), cfg, views={})
    upd = spark.createDataFrame(new, schema) if new else \
        spark.createDataFrame([], schema)
    merged = sorted(map(tuple, op(
        "scd2", upd, {**cfg, "history": hist}, views={}).collect()),
        key=key)
    assert merged == whole


# -- merge_agg: merge(agg(A), agg(B)) == agg(A ∪ B) -------------------------

ma_rows_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),
              st.integers(min_value=-100, max_value=100)),
    min_size=0, max_size=30)


@given(rows=ma_rows_st, mask=st.integers(min_value=0, max_value=1 << 29))
@settings(**SETTINGS)
def test_merge_agg_split_invariance(spark, rows, mask):
    """For ANY bit-mask split of the rows, aggregating the parts and
    merging must equal the one-shot aggregate — the law that makes a
    batch-by-batch store equal a full recompute."""
    schema = "k int, v int"
    cfg = {"group_by": ["k"], "aggregates": [
        {"field": "v", "function": "count", "alias": "n"},
        {"field": "v", "function": "sum", "alias": "s"},
        {"field": "v", "function": "min", "alias": "lo"},
        {"field": "v", "function": "max", "alias": "hi"}]}

    def frame(rs):
        return spark.createDataFrame(rs, schema) if rs else \
            spark.createDataFrame([], schema)

    a = [r for i, r in enumerate(rows) if (mask >> (i % 30)) & 1]
    b = [r for i, r in enumerate(rows) if not (mask >> (i % 30)) & 1]
    whole = sorted(map(tuple, op("merge_agg", frame(rows), cfg,
                                 views={}).collect()))
    store = op("merge_agg", frame(a), cfg, views={})
    merged = sorted(map(tuple, op(
        "merge_agg", frame(b), {**cfg, "store": store},
        views={}).collect()))
    assert merged == whole


def test_merge_agg_rejects_non_mergeable(spark):
    df = spark.createDataFrame([(1, 2)], "k int, v int")
    with pytest.raises(ValueError, match="merge_agg supports"):
        op("merge_agg", df, {"group_by": ["k"], "aggregates": [
            {"field": "v", "function": "avg"}]}, views={})


# -- heavy_hitters: approx must equal exact for ANY data/partitioning -------

hh_rows_st = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1, max_size=60)


@given(vals=hh_rows_st, k=st.integers(min_value=2, max_value=6),
       parts=st.integers(min_value=1, max_value=8))
@settings(**SETTINGS)
def test_heavy_hitters_approx_equals_exact_always(spark, vals, k, parts):
    df = spark.createDataFrame([(v,) for v in vals],
                               "value string").repartition(parts)
    exact = sorted(map(tuple, op(
        "heavy_hitters", df, {"field": "value", "k": k},
        views={}).collect()))
    approx = sorted(map(tuple, op(
        "heavy_hitters", df, {"field": "value", "k": k, "mode": "approx",
                              "capacity": k}, views={}).collect()))
    assert approx == exact  # even at the minimum capacity == k


# -- triangle_count: python-model equality on random graphs -----------------


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(**SETTINGS)
def test_triangle_count_matches_model_any_graph(spark, seed):
    import itertools
    import random

    rng = random.Random(seed)
    n = rng.randrange(4, 16)
    edges = [(a, b) for a in range(n) for b in range(n)
             if a < b and rng.random() < 0.4]
    eset = set(edges)
    expect = sum(1 for x, y, z in itertools.combinations(range(n), 3)
                 if (x, y) in eset and (y, z) in eset and (x, z) in eset)
    df = spark.createDataFrame(edges or [(0, 1)], "src long, dst long")
    got = op("triangle_count", df, {}, views={}).collect()[0]["n_triangles"]
    assert got == (expect if edges else 0)


# -- round-5 pinned-percentile machinery --------------------------------------


def _pinned_pct(values, q_ppb):
    """Python model of the pinned discrete percentile: value at 1-based
    rank max(ceil(q*n), 1) in the ascending sort."""
    vs = sorted(values)
    if not vs:
        return None
    ppb = 1_000_000_000
    k = max(-(-(q_ppb * len(vs)) // ppb), 1)
    return vs[k - 1]


wins_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2),
              st.one_of(st.none(),
                        st.floats(allow_nan=False, allow_infinity=False,
                                  min_value=-1e6, max_value=1e6))),
    min_size=0, max_size=25)


@given(rows=wins_rows, n_parts=st.integers(min_value=1, max_value=7))
@settings(**SETTINGS)
def test_winsorize_matches_python_model(spark, rows, n_parts):
    df = (spark.createDataFrame(rows, "k int, v double") if rows
          else spark.createDataFrame([], "k int, v double"))
    got = {(r["k"], i): r["v_wins"] for i, r in enumerate(
        op("winsorize", df.repartition(n_parts),
           {"field": "v", "lower": 0.25, "upper": 0.75, "by": ["k"]},
           views={}).orderBy("k", "v").collect())}
    by_key = {}
    for k, v in rows:
        if v is not None:
            by_key.setdefault(k, []).append(v)
    model = {}
    for k, vs in by_key.items():
        lo = _pinned_pct(vs, 250_000_000)
        hi = _pinned_pct(vs, 750_000_000)
        model[k] = (lo, hi)
    for (k, _), vw in got.items():
        if vw is None:
            continue
        lo, hi = model[k]
        assert lo <= vw <= hi
    # every non-null input row appears exactly once, clipped
    exp = sorted(
        (k, min(max(v, model[k][0]), model[k][1]))
        for k, v in rows if v is not None)
    act = sorted((k, vw) for (k, _), vw in got.items() if vw is not None)
    assert act == exp


@given(rows=wins_rows)
@settings(**SETTINGS)
def test_top_p_is_minimal_covering_prefix(spark, rows):
    """top_p_select keeps exactly the minimal high-weight prefix whose
    sum reaches p of the group total (integer weights)."""
    data = [(i, k, abs(int(v or 0)) % 100)
            for i, (k, v) in enumerate(rows)]
    df = (spark.createDataFrame(data, "id long, k int, w long") if data
          else spark.createDataFrame([], "id long, k int, w long"))
    kept = {r["id"] for r in op(
        "top_p_select", df, {"weight_field": "w", "p": 0.6,
                             "id_field": "id", "group_by": ["k"]},
        views={}).collect()}
    by_key = {}
    for i, k, w in data:
        by_key.setdefault(k, []).append((w, i))
    expect = set()
    for k, ws in by_key.items():
        tot = sum(w for w, _ in ws)
        if tot == 0:
            continue
        cum = 0
        for w, i in sorted(ws, key=lambda t: (-t[0], t[1])):
            if w == 0:
                continue
            if cum * 1_000_000_000 < 600_000_000 * tot:
                expect.add(i)
            cum += w
    assert kept == expect


@given(rows=wins_rows, n_parts=st.integers(min_value=1, max_value=7))
@settings(**SETTINGS)
def test_mad_outlier_matches_python_model(spark, rows, n_parts):
    df = (spark.createDataFrame(rows, "k int, v double") if rows
          else spark.createDataFrame([], "k int, v double"))
    got = op("mad_outlier", df.repartition(n_parts),
             {"field": "v", "by": ["k"], "k": 2.0},
             views={}).collect()
    by_key = {}
    for k, v in rows:
        if v is not None:
            by_key.setdefault(k, []).append(v)
    med = {k: _pinned_pct(vs, 500_000_000) for k, vs in by_key.items()}
    mad = {k: _pinned_pct([abs(x - med[k]) for x in vs], 500_000_000)
           for k, vs in by_key.items()}
    for r in got:
        k, v = r["k"], r["v"]
        if v is None:
            assert r["robust_z"] is None and r["is_outlier"] is None
            continue
        dev = abs(v - med[k])
        if mad[k] == 0:
            assert r["robust_z"] is None
            assert r["is_outlier"] == (dev > 0)
        else:
            assert r["robust_z"] == dev / mad[k]
            assert r["is_outlier"] == (dev / mad[k] > 2.0)


ij_intervals = st.lists(
    st.tuples(st.integers(0, 2),          # key (collisions likely)
              st.integers(-40, 40),       # start (negatives probe div
              st.integers(-40, 40)),      # end    truncation-vs-floor)
    min_size=0, max_size=12)


@given(left=ij_intervals, right=ij_intervals,
       bw=st.integers(1, 13),
       inclusive=st.booleans())
@settings(**SETTINGS)
def test_interval_join_matches_bruteforce_overlap(
        spark, left, right, bw, inclusive):
    """The bucketized interval join (explode + equi-join +
    overlap-start-bucket count-once rule) returns EXACTLY the pairs a
    brute-force overlap scan finds, each exactly once — for any
    bucket width, negative bounds, degenerate intervals, and both
    end semantics."""
    lrows = [(k, s, e, i) for i, (k, s, e) in enumerate(left)]
    rrows = [(k, s, e, i) for i, (k, s, e) in enumerate(right)]
    schema = "k int, start long, end long, seq long"
    ldf = (spark.createDataFrame(lrows, schema) if lrows
           else spark.createDataFrame([], schema))
    rdf = (spark.createDataFrame(rrows, schema) if rrows
           else spark.createDataFrame([], schema))
    out = op("interval_join", ldf, {
        "right": rdf, "by": ["k"], "bucket_width": bw,
        "end_inclusive": inclusive}, views={})
    got = sorted((r["seq"], r["r_seq"]) for r in out.collect())

    def overlaps(ls, le, rs, re):
        if inclusive:
            return ls <= re and rs <= le and le >= ls and re >= rs
        return ls < re and rs < le and le > ls and re > rs

    want = sorted((li, ri)
                  for (lk, ls, le, li) in lrows
                  for (rk, rs, re, ri) in rrows
                  if lk == rk and overlaps(ls, le, rs, re))
    assert got == want


rj_points = st.lists(
    st.tuples(st.integers(0, 2), st.integers(-40, 40)),
    min_size=0, max_size=12)


@given(points=rj_points, right=ij_intervals,
       bw=st.integers(1, 13),
       inclusive=st.booleans())
@settings(**SETTINGS)
def test_range_join_matches_bruteforce_containment(
        spark, points, right, bw, inclusive):
    """The bucketized point-in-interval join returns EXACTLY the
    brute-force containment pairs, each exactly once (a point lives
    in one bucket), for any bucket width and negative epochs."""
    prows = [(k, ts, i) for i, (k, ts) in enumerate(points)]
    rrows = [(k, s, e, i) for i, (k, s, e) in enumerate(right)]
    pdf_ = (spark.createDataFrame(prows, "k int, ts long, seq long")
            if prows else spark.createDataFrame([], "k int, ts long, seq long"))
    rdf = (spark.createDataFrame(rrows, "k int, start long, end long, rseq long")
           if rrows else
           spark.createDataFrame([], "k int, start long, end long, rseq long"))
    out = op("range_join", pdf_, {
        "right": rdf, "by": ["k"], "left_ts": "ts",
        "start_field": "start", "end_field": "end",
        "bucket_seconds": bw, "end_inclusive": inclusive}, views={})
    got = sorted((r["seq"], r["r_rseq"]) for r in out.collect())
    want = sorted(
        (pi, ri)
        for (pk, ts, pi) in prows
        for (rk, s, e, ri) in rrows
        if pk == rk and ts >= s and (ts <= e if inclusive else ts < e))
    assert got == want


tr_rows = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 2)),   # key incl. NULL
              st.integers(-50, 50)),                     # ts (negatives too)
    min_size=1, max_size=20)


@given(rows=tr_rows, step=st.integers(1, 9),
       fill=st.sampled_from(["zero", "ffill", "linear"]))
@settings(**SETTINGS)
def test_time_resample_matches_grid_model(spark, rows, step, fill):
    """LAG-gap-generated empty buckets == the obvious dense-grid
    model per key (NULL keys form a regular group), for any step,
    negative timestamps, and all fill modes. Bucket = exact
    floor-to-multiple (e - pmod(e, step), i.e. floor for negatives
    too). linear replays the identical IEEE interpolation
    p + (c − p)·((b − pb)/(cb − pb)) and casts observed counts to
    double."""
    df = spark.createDataFrame(rows, "k int, ts long")
    out = op("time_resample", df, {
        "ts_field": "ts", "interval": step, "group_by": ["k"],
        "fill": fill}, views={})
    got = {(r["k"], r["bucket"]): r["n_rows"] for r in out.collect()}

    def bkt(ts):
        return ts - (ts % step)  # python % matches pmod for step > 0

    from collections import Counter
    per_key = {}
    for k, ts in rows:
        per_key.setdefault(k, []).append(bkt(ts))
    want = {}
    for k, bkts in per_key.items():
        counts = Counter(bkts)
        lo, hi = min(bkts), max(bkts)
        if fill == "linear":
            obs = sorted(counts)
            for pb, cb in zip(obs, obs[1:]):
                p, c = float(counts[pb]), float(counts[cb])
                for b in range(pb + step, cb, step):
                    want[(k, b)] = p + (c - p) * ((b - pb) / (cb - pb))
            for b in obs:
                want[(k, b)] = float(counts[b])
            continue
        last = None
        for b in range(lo, hi + step, step):
            n = counts.get(b, 0)
            if n == 0:
                want[(k, b)] = 0 if fill == "zero" else last
            else:
                want[(k, b)] = n
                last = n
    assert got == want


# Arrow-vs-RDD literal frames: column kinds lit_frame may see. The
# Arrow-safe atoms (nested in arrays and structs too) must round-trip
# exactly; timestamps must make the Arrow path decline.
_LIT_COLUMNS = {
    "int": st.integers(-2**31, 2**31 - 1),
    "bigint": st.integers(-2**63, 2**63 - 1),
    "double": st.floats(),
    "float": st.floats(width=32),
    "string": st.text(max_size=4),
    "boolean": st.booleans(),
    "binary": st.binary(max_size=3).map(bytearray),
    "date": st.dates(),
    "array<double>": st.lists(st.one_of(st.none(), st.floats()), max_size=3),
    "struct<x:bigint,y:string>": st.one_of(
        st.builds(lambda x, y: Row(x=x, y=y),
                  st.integers(-2**63, 2**63 - 1), st.text(max_size=3)),
        st.tuples(st.integers(-5, 5), st.text(max_size=3))),
    "timestamp": st.datetimes(),
}


@st.composite
def _lit_case(draw):
    """A schema over 1-4 column kinds plus rows for it; some rows get
    one value too few or too many, some are top-level ``Row``s."""
    kinds = draw(st.lists(st.sampled_from(sorted(_LIT_COLUMNS)),
                          min_size=1, max_size=4, unique=True))
    names = [f"c{i}" for i in range(len(kinds))]
    schema = ", ".join(f"{n} {k}" for n, k in zip(names, kinds))
    rows = []
    for _ in range(draw(st.integers(0, 6))):
        vals = [draw(st.one_of(st.none(), _LIT_COLUMNS[k])) for k in kinds]
        shape = draw(st.sampled_from(
            ["tuple"] * 6 + ["row", "short", "long"]))
        if shape == "row":
            rows.append(Row(**dict(zip(names, vals))))
        elif shape == "short":
            rows.append(tuple(vals[:-1]))
        elif shape == "long":
            rows.append(tuple(vals) + (draw(st.integers()),))
        else:
            rows.append(tuple(vals))
    return rows, schema


def _same_value(a, b) -> bool:
    """Exact equality that also tells NaN == NaN and -0.0 != 0.0."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or (
            a == b and math.copysign(1, a) == math.copysign(1, b))
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(map(_same_value, a, b))
    return type(a) is type(b) and a == b


@given(case=_lit_case())
@settings(**{**SETTINGS, "max_examples": 40})
def test_arrow_local_frame_matches_rdd_path_or_declines(spark, case):
    """For any literal rows, ``arrow_local_frame`` either declines
    (``None`` — lit_frame then takes the RDD path) or builds a frame
    whose ``collect()`` equals the RDD path's. Wrong-arity rows must
    decline, since the RDD path raises on them."""
    from blackroad_data_pipeline_spark.operators.parallel import (
        arrow_local_frame,
    )

    rows, schema = case
    fast = arrow_local_frame(spark, rows, schema)
    if fast is None:
        return
    ref = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
                                schema)
    assert fast.schema == ref.schema
    assert _same_value(fast.collect(), ref.collect())
