"""Value tests for the round-2 corpus-curation operators
(dedup_against, cap_per_group, histogram, clean_lines) and the
TIMESTAMP_NTZ event-time regression (the driver fixtures moved from
parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS, isAdjustedToUTC=false),
which Spark reads as timestamp_ntz)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from blackroad_data_pipeline_spark.operators import apply_operator as op


def _ids(df, col="doc_id"):
    return sorted(r[col] for r in df.collect())


# -- dedup_against ---------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_against_drops_history_matches(spark):
    history = _docs(spark, [(1, "the cat sat"), (2, "old news")])
    batch = _docs(spark, [(10, "THE  cat   sat"),  # normalizes to history #1
                          (11, "fresh content"),
                          (12, "fresh  CONTENT"),  # dup of 11 within batch
                          (13, "other")])
    out = op("dedup_against", batch,
             {"field": "text", "history": history}, views={})
    assert _ids(out) == [11, 13]


def test_dedup_against_fingerprint_store(spark):
    """The 100 TB path: history is a narrow md5 table, not re-read text."""
    history = _docs(spark, [(1, "the cat sat")])
    fps = history.select(
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")).alias("fp"))
    batch = _docs(spark, [(10, "the cat sat"), (11, "new")])
    out = op("dedup_against", batch,
             {"field": "text", "history": fps,
              "history_is_fingerprint": True}, views={})
    assert _ids(out) == [11]


def test_dedup_against_keeps_batch_dups_when_disabled(spark):
    history = _docs(spark, [(1, "x")])
    batch = _docs(spark, [(10, "same"), (11, "same")])
    out = op("dedup_against", batch,
             {"field": "text", "history": history, "within_batch": False},
             views={})
    assert _ids(out) == [10, 11]


def test_dedup_against_null_text_and_within_batch(spark):
    """NULL text keys as empty text, history matches drop after
    normalization, and one of a within-batch dup pair stays."""
    history = _docs(spark, [(i, f"hist doc {i}") for i in range(50)]
                    + [(99, "the cat sat")])
    batch = _docs(spark, [(10, "THE  cat  sat"), (11, "fresh content"),
                          (12, "fresh  CONTENT"), (13, None),
                          (14, "hist doc 7"), (15, "other")])
    out = op("dedup_against", batch, {"field": "text", "history": history},
             views={})
    assert _ids(out) == [11, 13, 15]


def test_dedup_against_empty_history_keeps_all(spark):
    history = _docs(spark, [(0, "z")]).filter("doc_id > 100")  # empty
    batch = _docs(spark, [(1, "a"), (2, "b")])
    out = op("dedup_against", batch,
             {"field": "text", "history": history}, views={})
    assert _ids(out) == [1, 2]


def test_content_key_ops_agree_on_null_and_blank_text(spark, tmp_path):
    """fingerprint, dedup_exact, dedup_against and the streaming
    ingest all key a document by ``content_key``: NULL, empty and
    whitespace-only text are one key, so every op keeps [1, 4]."""
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_ingest_dedup,
    )

    schema = "doc_id long, text string"
    rows = [(1, None), (2, ""), (3, "  "), (4, "words")]
    batch = spark.createDataFrame(rows, schema)
    empty = batch.filter("doc_id > 100")

    fps = op("fingerprint", batch, {"field": "text"})
    store = fps.filter("doc_id = 1").select(F.col("fingerprint").alias("fp"))
    by_fp = {}
    for r in fps.collect():
        by_fp.setdefault(r["fingerprint"], []).append(r["doc_id"])
    assert sorted(min(v) for v in by_fp.values()) == [1, 4]
    assert _ids(op("dedup_exact", batch, {"field": "text"})) == [1, 4]
    assert _ids(op("dedup_against", batch,
                   {"field": "text", "history": empty}, views={})) == [1, 4]
    # a fingerprint store built with `fingerprint` matches NULL text
    assert _ids(op("dedup_against", batch,
                   {"field": "text", "history": store,
                    "history_is_fingerprint": True}, views={})) == [4]

    src = tmp_path / "crawl"
    batch.write.parquet(str(src / "drop1.parquet"))
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    out = str(tmp_path / "corpus")
    run_stream_ingest_dedup(stream, out, str(tmp_path / "ckpt"),
                            str(tmp_path / "fps"))
    assert _ids(spark.read.parquet(out)) == [1, 4]


# -- cap_per_group ---------------------------------------------------------


def test_cap_per_group_caps_and_is_partition_invariant(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 20 else "small") for i in range(26)],
        ["doc_id", "source"])
    cfg = {"partition_by": ["source"], "n": 5, "id_field": "doc_id",
           "salt": "s1"}
    a = _ids(op("cap_per_group", df, cfg))
    b = _ids(op("cap_per_group", df.repartition(7), cfg))
    assert a == b  # md5-hash order is stable under repartitioning
    counts = (op("cap_per_group", df, cfg).groupBy("source").count().collect())
    assert {r["source"]: r["count"] for r in counts} == {"big": 5, "small": 5}


def test_cap_per_group_order_by_keeps_best(spark):
    df = spark.createDataFrame(
        [(1, "a", 0.9), (2, "a", 0.5), (3, "a", 0.7)],
        ["doc_id", "source", "score"])
    out = op("cap_per_group", df,
             {"partition_by": ["source"], "n": 2, "order_by": ["score"],
              "descending": True})
    assert _ids(out) == [1, 3]


def test_cap_per_group_salt_changes_selection(spark):
    df = spark.createDataFrame([(i, "g") for i in range(50)],
                               ["doc_id", "source"])
    base = {"partition_by": ["source"], "n": 10, "id_field": "doc_id"}
    a = _ids(op("cap_per_group", df, {**base, "salt": "s1"}))
    b = _ids(op("cap_per_group", df, {**base, "salt": "s2"}))
    assert len(a) == len(b) == 10 and a != b


# -- histogram -------------------------------------------------------------


def test_histogram_clamp_and_drop(spark):
    df = spark.createDataFrame([(float(v),) for v in [-1, 0, 1, 5, 9, 10, 99]],
                               ["x"])
    clamped = {r["bin"]: r["n"] for r in op(
        "histogram", df, {"field": "x", "lo": 0, "hi": 10, "n_bins": 2}
    ).collect()}
    assert clamped == {0: 3, 1: 4}  # -1 clamps into bin 0; 10, 99 into bin 1
    dropped = {r["bin"]: r["n"] for r in op(
        "histogram", df,
        {"field": "x", "lo": 0, "hi": 10, "n_bins": 2, "clamp": False}
    ).collect()}
    assert dropped == {0: 2, 1: 2}  # -1, 10, 99 fall outside [0, 10)


def test_histogram_auto_bounds_and_bin_start(spark):
    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], ["x"])
    rows = {r["bin"]: (r["bin_start"], r["n"]) for r in op(
        "histogram", df, {"field": "x", "n_bins": 2}).collect()}
    # hi=max clamps the max value into the top bin
    assert rows == {0: (0.0, 1), 1: (5.0, 2)}


# -- clean_lines -----------------------------------------------------------


def test_clean_lines_filters_and_reassembles(spark):
    text = "one two three four\nshort\nBuy now cheap pills here\nfive six seven eight"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = op("clean_lines", df,
             {"field": "text", "min_words": 4, "min_doc_words": 4,
              "blacklist": ["cheap pills"]}).collect()
    assert out[0]["text"] == "one two three four\nfive six seven eight"


def test_clean_lines_terminal_punct_and_doc_drop(spark):
    df = spark.createDataFrame(
        [(1, "a proper sentence ends here.\nno terminal punct line"),
         (2, "too short now.")],
        ["doc_id", "text"])
    out = op("clean_lines", df,
             {"field": "text", "min_words": 3, "min_doc_words": 5,
              "require_terminal": True})
    assert out.count() == 1
    assert out.collect()[0]["text"] == "a proper sentence ends here."


def test_clean_lines_null_text_dropped(spark):
    df = spark.createDataFrame([(1, None), (2, "w1 w2 w3 w4 w5 w6")],
                               ["doc_id", "text"])
    out = op("clean_lines", df, {"field": "text", "min_words": 2,
                                 "min_doc_words": 2})
    assert _ids(out) == [2]


# -- TIMESTAMP_NTZ event-time regression -----------------------------------


def _ntz_events(spark):
    df = spark.createDataFrame(
        [(1, 100, 1), (2, 500, 1), (3, 5000, 1)], ["event_id", "sec", "user_id"])
    return df.withColumn(
        "ts", F.timestamp_seconds(F.col("sec")).cast("timestamp_ntz")).drop("sec")


def test_sessionize_accepts_ntz(spark):
    out = op("sessionize", _ntz_events(spark),
             {"ts_field": "ts", "key": "user_id", "gap_seconds": 600,
              "tiebreak": ["event_id"]})
    sessions = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert sessions[1] == sessions[2] != sessions[3]


def test_range_join_accepts_ntz(spark):
    left = _ntz_events(spark)
    right = (_ntz_events(spark)
             .select(F.col("user_id"), F.col("event_id").alias("win_id"),
                     F.col("ts").alias("w_start"),
                     (F.col("ts") + F.expr("INTERVAL 700 SECONDS")).alias("w_end")))
    out = op("range_join", left,
             {"right": right, "by": ["user_id"], "left_ts": "ts",
              "start_field": "w_start", "end_field": "w_end",
              "bucket_seconds": 600}, views={})
    pairs = {(r["event_id"], r["r_win_id"]) for r in out.collect()}
    # [start, end) is half-open: event 2 (t=500) is in win 1 [100, 800)
    # and at the exact start of win 2 [500, 1200)
    assert pairs == {(1, 1), (2, 1), (2, 2), (3, 3)}


# -- unigram_logprob -------------------------------------------------------


def test_unigram_logprob_matches_python_model(spark):
    import math

    docs = [(1, "a a b"), (2, "b c"), (3, None)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in op(
        "unigram_logprob", df,
        {"field": "text", "id_field": "doc_id", "smoothing_k": 1.0}
    ).collect()}

    # python model: counts a=2 b=2 c=1, T=5, V=3, denom=T+k*V=8
    def lp(c):
        return math.log((c + 1.0) / 8.0)

    assert out[1]["n_tokens"] == 3 and out[1]["sum_corpus_count"] == 6
    assert abs(out[1]["mean_logprob"] - (2 * lp(2) + lp(2)) / 3) < 1e-12
    assert out[2]["n_tokens"] == 2 and out[2]["sum_corpus_count"] == 3
    assert abs(out[2]["mean_logprob"] - (lp(2) + lp(1)) / 2) < 1e-12
    assert out[3]["n_tokens"] == 0 and out[3]["mean_logprob"] is None


# -- zorder ----------------------------------------------------------------


def _morton2(x, y):
    def spread(c):
        c &= 0xFFFFFFFF
        c = (c | (c << 16)) & 0x0000FFFF0000FFFF
        c = (c | (c << 8)) & 0x00FF00FF00FF00FF
        c = (c | (c << 4)) & 0x0F0F0F0F0F0F0F0F
        c = (c | (c << 2)) & 0x3333333333333333
        c = (c | (c << 1)) & 0x5555555555555555
        return c
    return spread(x) | (spread(y) << 1)


def test_zorder_matches_python_morton(spark):
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(
        [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255), (256, 1), (65535, 65535)])]
    df = spark.createDataFrame(rows, "rid int, a double, b double")
    out = {r["rid"]: r["zvalue"] for r in op(
        "zorder", df,
        {"cols": ["a", "b"], "bits": 16,
         "bounds": {"a": [0.0, 65535.0], "b": [0.0, 65535.0]}}).collect()}
    for rid, a, b in rows:
        assert out[rid] == _morton2(int(a), int(b)), (rid, a, b)


def test_zorder_layout_globally_sorted(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "rid int, a double, b double")
    out = op("zorder", df, {"cols": ["a", "b"], "bits": 8, "layout": True,
                            "n_partitions": 4,
                            "bounds": {"a": [0.0, 100.0], "b": [0.0, 100.0]}})
    zs = [r["zvalue"] for r in out.collect()]
    assert len(zs) == 500
    # repartitionByRange + sortWithinPartitions => partition-concatenated
    # collect order is globally z-sorted (tight per-file min/max)
    assert zs == sorted(zs)


# -- hash_columns ----------------------------------------------------------


def test_hash_columns_joinable_and_null_safe(spark):
    a = spark.createDataFrame([(1, "u1"), (2, "u2"), (3, None)],
                              ["rid", "user"])
    b = spark.createDataFrame([("u1", "x"), ("u2", "y")], ["user", "tag"])
    cfg = {"fields": ["user"], "salt": "s", "truncate": 16}
    ha, hb = op("hash_columns", a, cfg), op("hash_columns", b, cfg)
    joined = ha.join(hb, "user")
    assert {(r["rid"], r["tag"]) for r in joined.collect()} == {(1, "x"), (2, "y")}
    nulls = ha.filter("user IS NULL").collect()
    assert [r["rid"] for r in nulls] == [3]
    assert all(len(r["user"]) == 16 for r in ha.filter("user IS NOT NULL").collect())


def test_hash_columns_salt_separates(spark):
    df = spark.createDataFrame([(1, "u1")], ["rid", "user"])
    h1 = op("hash_columns", df, {"fields": ["user"], "salt": "a"}).collect()[0]["user"]
    h2 = op("hash_columns", df, {"fields": ["user"], "salt": "b"}).collect()[0]["user"]
    assert h1 != h2 and len(h1) == 64


def test_histogram_constant_column(spark):
    df = spark.createDataFrame([(5.0,), (5.0,), (None,)], "x double")
    rows = op("histogram", df, {"field": "x", "n_bins": 4}).collect()
    assert [(r["bin"], r["n"]) for r in rows] == [(0, 2)]


# -- fillna / dropna -------------------------------------------------------


def test_fillna_strategies(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, None), (3, 20.0, "b")],
        "rid int, v double, s string")
    out = {r["rid"]: (r["v"], r["s"]) for r in op(
        "fillna", df, {"strategy": {"v": "mean", "s": "empty"}}).collect()}
    assert out[2] == (15.0, "")
    assert out[1] == (10.0, "a")


def test_dropna_modes(spark):
    df = spark.createDataFrame(
        [(1, None, "x"), (None, None, None), (3, 2.0, None)],
        "a int, b double, c string")
    assert op("dropna", df, {}).count() == 0
    assert op("dropna", df, {"how": "all"}).count() == 2
    assert op("dropna", df, {"subset": ["a"]}).count() == 2
    assert op("dropna", df, {"thresh": 2}).count() == 2


def test_bigram_logprob_matches_python_model(spark):
    import math

    docs = [(1, "a b a b"), (2, "b a"), (3, "x"), (4, None)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in op(
        "bigram_logprob", df,
        {"field": "text", "id_field": "doc_id", "smoothing_k": 1.0}
    ).collect()}
    # bigrams: doc1 = [a b, b a, a b]; doc2 = [b a]
    # counts: c(a b)=2? no: doc1 contributes "a b","b a","a b"; doc2 "b a"
    #   c("a b")=2, c("b a")=2; unigrams: a=3? a appears a,b,a,b + b,a + x
    #   a: doc1 2 + doc2 1 = 3; b: doc1 2 + doc2 1 = 3; x: 1 -> V=3
    def lp(c12, cw1):
        return math.log((c12 + 1.0) / (cw1 + 3.0))

    r1 = out[1]
    assert (r1["n_bigrams"], r1["sum_bigram_count"], r1["sum_prefix_count"]) \
        == (3, 2 + 2 + 2, 3 + 3 + 3)
    want1 = (lp(2, 3) + lp(2, 3) + lp(2, 3)) / 3
    assert abs(r1["mean_logprob"] - want1) < 1e-12
    assert out[2]["n_bigrams"] == 1 and abs(
        out[2]["mean_logprob"] - lp(2, 3)) < 1e-12
    assert out[3]["n_bigrams"] == 0 and out[3]["mean_logprob"] is None
    assert out[4]["n_bigrams"] == 0


def test_strip_markup(spark):
    df = spark.createDataFrame(
        [(1, '<div id="a">Hello &amp; <b>world</b></div>\n\n &lt;tag&gt;'),
         (2, None)], ["doc_id", "text"])
    got = {r["doc_id"]: r["text"]
           for r in op("strip_markup", df, {}).collect()}
    # newlines SURVIVE (blank-line runs squeezed) so line-structured
    # downstream ops still see lines; horizontal runs collapse
    assert got[1] == 'Hello & world\n<tag>'
    assert got[2] == ""


def test_dedup_lines_keep_first_and_order(spark):
    shared = "this shared line is long enough"
    df = spark.createDataFrame(
        [(1, f"{shared}\nunique to one, also long\n{shared}"),
         (2, f"top line of doc two here\n{shared}"),
         (3, "tiny\n" + shared[::-1])], ["doc_id", "text"])
    got = {r["doc_id"]: r["text"]
           for r in op("dedup_lines", df, {"min_chars": 10}).collect()}
    # doc 1 keeps only its FIRST occurrence of the shared line,
    # in original order; doc 2 loses it entirely
    assert got[1] == f"{shared}\nunique to one, also long"
    assert got[2] == "top line of doc two here"
    # short lines are never candidates; untouched
    assert got[3].startswith("tiny\n")


def test_dedup_lines_drop_common(spark):
    footer = "copyright footer line repeated everywhere"
    df = spark.createDataFrame(
        [(i, f"body line number {i} is unique\n{footer}") for i in range(4)],
        ["doc_id", "text"])
    out = op("dedup_lines", df, {"policy": "drop_common", "min_docs": 3})
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert all(footer not in t for t in got.values())
    assert all(f"body line number {i} is unique" == got[i] for i in range(4))


# -- gopher_quality --------------------------------------------------------


def _gq(spark, rows, **cfg):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return {r["doc_id"]: r.asDict()
            for r in op("gopher_quality", df,
                        {"field": "text", **cfg}, views={}).collect()}


def test_gopher_quality_word_count_and_stopwords(spark):
    out = _gq(spark, [
        (1, "the cat sat on a mat with the dog and a bird today"),
        (2, "short text"),
        (3, None),
    ], min_words=5, max_words=100, min_mean_word_len=2.0,
        max_mean_word_len=10.0, min_stop_hits=2, stopwords=["the", "a"])
    assert out[1]["ok_n_words"] and out[1]["ok_stopwords"]
    assert out[1]["gopher_pass"]
    assert not out[2]["ok_n_words"]          # 2 words < 5
    assert not out[2]["ok_stopwords"]        # neither 'the' nor 'a'
    assert not out[3]["ok_n_words"]          # NULL -> empty -> 0 words
    assert not out[3]["gopher_pass"]


def test_gopher_quality_symbol_bullet_ellipsis_alpha(spark):
    # leading indentation must not hide a bullet (lines are trimmed
    # per element — regression for the bare-F.trim two-arg-lambda bug)
    bullet_doc = "\n".join(["  - first point here now", "- second point",
                            "* third one", "plain line words"])
    out = _gq(spark, [
        (1, "good words here " * 5 + "the a"),
        (2, "words # with # many # hashes # inside # the # a"),
        (3, bullet_doc),
        (4, "trailing line goes on and on...\nanother one here too...\nplain"),
        (5, "12 34 56 78 90 11 22 33 44 55 the a"),
    ], min_words=3, min_mean_word_len=1.0, max_mean_word_len=10.0,
        min_stop_hits=1, stopwords=["the", "a"],
        max_symbol_ratio=0.1, max_bullet_ratio=0.5,
        max_ellipsis_line_ratio=0.4, min_alpha_ratio=0.8)
    assert out[1]["ok_symbol_ratio"] and out[1]["ok_alpha_words"]
    assert not out[2]["ok_symbol_ratio"]     # 6 hashes / 13 words > 0.1
    assert not out[3]["ok_bullet_lines"]     # 3/4 lines bulleted > 0.5
    assert not out[4]["ok_ellipsis_lines"]   # 2/3 lines ellipsis > 0.4
    assert not out[5]["ok_alpha_words"]      # 10/12 digit tokens
    assert out[5]["ok_symbol_ratio"]


def test_gopher_quality_filter_mode_drops_and_strips(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on a mat here now today ok"),
         (2, "x")], ["doc_id", "text"])
    out = op("gopher_quality", df,
             {"field": "text", "mode": "filter", "min_words": 5,
              "min_mean_word_len": 1.0, "min_stop_hits": 1,
              "stopwords": ["the"]}, views={})
    assert [r["doc_id"] for r in out.collect()] == [1]
    assert "gopher_pass" not in out.columns
    assert "ok_n_words" not in out.columns


# -- dup_span_stats --------------------------------------------------------


def test_dup_span_stats_known_answer(spark):
    # docs 1 and 2 share the 3-token window "b c d" (and 1 shares
    # nothing else); doc 3 is all-unique; doc 4 too short for windows
    df = spark.createDataFrame([
        (1, "a b c d e"),
        (2, "x b c d y"),
        (3, "p q r s t"),
        (4, "u v"),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict()
           for r in op("dup_span_stats", df,
                       {"field": "text", "id_field": "doc_id",
                        "span": 3, "min_docs": 2}, views={}).collect()}
    assert out[1]["n_windows"] == 3 and out[1]["dup_windows"] == 1
    assert out[1]["dup_tokens"] == 3            # positions 1,2,3
    assert abs(out[1]["dup_token_fraction"] - 3 / 5) < 1e-12
    assert out[2]["dup_windows"] == 1 and out[2]["dup_tokens"] == 3
    assert out[3]["dup_windows"] == 0 and out[3]["dup_tokens"] == 0
    assert out[4]["n_windows"] == 0 and out[4]["dup_token_fraction"] == 0.0


def test_dup_span_stats_overlapping_windows_union(spark):
    # "a b c d" duplicated across both docs => windows at pos 0 and 1
    # overlap; covered positions are the UNION (4 tokens), not 2*span
    df = spark.createDataFrame([
        (1, "a b c d"),
        (2, "a b c d z"),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict()
           for r in op("dup_span_stats", df,
                       {"field": "text", "span": 3, "min_docs": 2},
                       views={}).collect()}
    assert out[2]["dup_windows"] == 2
    assert out[2]["dup_tokens"] == 4
    assert abs(out[2]["dup_token_fraction"] - 4 / 5) < 1e-12


def test_dup_span_stats_filter_mode(spark):
    df = spark.createDataFrame([
        (1, "a b c x y z w v"),      # shares 'a b c' only: 3/8 covered
        (2, "a b c d e"),            # shares 'a b c': 3/5 covered
        (3, "a b c q r s t u v2 w2 x2 y2"),    # 3/12 covered
    ], ["doc_id", "text"])
    out = op("dup_span_stats", df,
             {"field": "text", "span": 3, "min_docs": 3,
              "mode": "filter", "max_fraction": 0.45}, views={})
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


# -- split_paragraphs ------------------------------------------------------


def test_split_paragraphs_basic(spark):
    df = spark.createDataFrame(
        [(1, "first paragraph here\n\nsecond one\n\n\n  third  "),
         (2, "single block"),
         (3, None)], ["doc_id", "text"])
    out = op("split_paragraphs", df, {"field": "text"}, views={}).collect()
    rows = [(r["doc_id"], r["para_idx"], r["paragraph"]) for r in out]
    assert rows == [(1, 0, "first paragraph here"), (1, 1, "second one"),
                    (1, 2, "third"), (2, 0, "single block")]
    by_idx = {(r["doc_id"], r["para_idx"]): r for r in out}
    assert by_idx[(1, 0)]["para_tokens"] == 3
    assert by_idx[(1, 2)]["para_chars"] == 5


def test_split_paragraphs_min_chars_and_sentence_mode(spark):
    df = spark.createDataFrame(
        [(1, "Long enough sentence one. No! Tiny. Another good sentence?")],
        ["doc_id", "text"])
    out = op("split_paragraphs", df,
             {"field": "text", "separator": r"(?<=[.!?])\s+",
              "min_chars": 8, "as": "sentence"}, views={}).collect()
    assert [r["sentence"] for r in out] == [
        "Long enough sentence one.", "Another good sentence?"]
    assert [r["para_idx"] for r in out] == [0, 1]


def test_dup_span_stats_remove_mode_keeps_canonical_copy(spark):
    df = spark.createDataFrame([
        (1, "a b c d e"),          # canonical owner of 'a b c'
        (2, "x  a b c  y"),        # loses the shared span, keeps x/y
        (3, "p q r"),              # canonical identical pair
        (4, "p q r"),              # fully cut -> empty string
        (5, "totally unrelated words here"),
        (6, None),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r["text"]
           for r in op("dup_span_stats", df,
                       {"field": "text", "span": 3, "min_docs": 2,
                        "mode": "remove"}, views={}).collect()}
    assert out[1] == "a b c d e"                 # untouched, original text
    assert out[2] == "x y"                       # span cut, rejoined
    assert out[3] == "p q r"
    assert out[4] == ""
    assert out[5] == "totally unrelated words here"
    assert out[6] is None                        # NULL rides through


def test_new_ops_reject_bad_configs(spark):
    import pytest

    df = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="annotate|filter"):
        op("gopher_quality", df, {"mode": "delete"}, views={})
    with pytest.raises(ValueError, match="annotate|filter|remove"):
        op("dup_span_stats", df, {"mode": "purge"}, views={})
    with pytest.raises(ValueError, match="span"):
        op("dup_span_stats", df, {"span": 0}, views={})
    emb = spark.createDataFrame([(1, [0.1, 0.2])],
                                "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dim"):
        op("embedding_outlier", emb, {}, views={})
    with pytest.raises(ValueError, match="annotate|filter"):
        op("quality_classifier", df,
           {"label_field": "x", "mode": "nope"}, views={})


# -- text_normalize --------------------------------------------------------


def test_text_normalize_full_table_and_controls(spark):
    dirty = ("“Smart” ‘quotes’, —dash–, "
             "ell…ipsis, nbsp thin,\x07bell\x9fc1, "
             "keep\nnewline\tand tab")
    df = spark.createDataFrame([(1, dirty), (2, None)], ["doc_id", "text"])
    out = {r["doc_id"]: r["text"]
           for r in op("text_normalize", df, {}, views={}).collect()}
    assert out[1] == ('"Smart" \'quotes\', -dash-, ell...ipsis, nbsp thin,'
                      "bellc1, keep\nnewline and tab")
    assert out[2] is None


def test_text_normalize_nfc_composes(spark):
    # e + combining acute (U+0301) composes to é under NFC
    df = spark.createDataFrame([(1, "café")], ["doc_id", "text"])
    out = op("text_normalize", df, {"nfc": True}, views={}).collect()
    assert out[0]["text"] == "café"


# -- compression_ratio -----------------------------------------------------


def test_compression_ratio_matches_zlib_and_separates(spark):
    import zlib

    prose = ("the quick brown fox jumps over the lazy dog while seven "
             "wizards brew quirky potions beyond the frozen valley today")
    mash = "ababababab " * 30
    df = spark.createDataFrame(
        [(1, prose), (2, mash), (3, None)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in op(
        "compression_ratio", df, {}, views={}).collect()}
    for i, t in ((1, prose), (2, mash)):
        b = t.encode()
        assert out[i]["raw_bytes"] == len(b)
        assert out[i]["compressed_bytes"] == len(zlib.compress(b, 6))
    assert out[2]["compression_ratio"] < 0.3 < out[1]["compression_ratio"]
    assert out[3]["compression_ratio"] == 0.0
    kept = op("compression_ratio", df,
              {"mode": "filter", "min_ratio": 0.3}, views={})
    assert [r["doc_id"] for r in kept.collect()] == [1]
    assert "compression_ratio" not in kept.columns


# -- chunk_cdc ---------------------------------------------------------------


def test_chunk_cdc_lossless_and_shift_resilient(spark):
    import random

    rng = random.Random(3)
    words = ["".join(rng.choice("abcdefghijklmnop")
                     for _ in range(rng.randrange(3, 9)))
             for _ in range(300)]
    base = " ".join(words)
    shifted = "XXINSERTED PREFIX YY " + base
    df = spark.createDataFrame([(1, base), (2, shifted)],
                               ["doc_id", "text"])
    rows = op("chunk_cdc", df, {"mask_bits": 5, "min_size": 16,
                                "max_size": 256}, views={}).collect()
    by = {1: [], 2: []}
    for r in rows:
        by[r["doc_id"]].append(r)
    for k in by:
        by[k].sort(key=lambda r: r["chunk_idx"])
        assert [r["chunk_offset"] for r in by[k]] == sorted(
            r["chunk_offset"] for r in by[k])
    # losslessness: concatenation reconstructs byte-for-byte
    assert "".join(r["chunk_text"] for r in by[1]) == base
    assert "".join(r["chunk_text"] for r in by[2]) == shifted
    # shift resilience: a prefix edit leaves almost every chunk hash
    # shared (boundaries re-align at the first content-defined cut)
    h1 = {r["chunk_hash"] for r in by[1]}
    h2 = {r["chunk_hash"] for r in by[2]}
    assert len(h1 & h2) >= len(h1) - 2
    # size clamps hold
    sizes = [len(r["chunk_text"].encode()) for r in by[1]]
    assert all(s <= 256 for s in sizes)
    assert all(s >= 16 for s in sizes[:-1])  # final chunk may be short


def test_chunk_cdc_non_ascii_lossless(spark):
    # multi-byte text (CJK, accents, emoji): every cut must land on a
    # code-point boundary — reconstruction byte-for-byte, zero U+FFFD
    import random

    rng = random.Random(7)
    pool = ("汉字漢字測試是一个非常长的文档 éàüßñ 🎉🚀 mixed ascii and "
            "ユニコードのテキスト repeated ").split(" ")
    text = " ".join(rng.choice(pool) for _ in range(400))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        op("chunk_cdc", df, {"mask_bits": 5, "min_size": 16,
                             "max_size": 256}, views={}).collect(),
        key=lambda r: r["chunk_idx"])
    joined = "".join(r["chunk_text"] for r in rows)
    assert joined == text
    assert "�" not in joined
    # snapping may exceed max_size by at most 3 bytes (one code point)
    assert all(len(r["chunk_text"].encode()) <= 256 + 3 for r in rows)
    # offsets are the byte offsets of each chunk within the utf-8 doc
    data = text.encode()
    for r in rows:
        piece = r["chunk_text"].encode()
        assert data[r["chunk_offset"]:r["chunk_offset"] + len(piece)] == piece


def test_chunk_cdc_empty_and_tiny_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "tiny")], ["doc_id", "text"])
    rows = op("chunk_cdc", df, {}, views={}).collect()
    got = {r["doc_id"]: r for r in rows}
    # empty/NULL docs produce no chunks; a tiny doc is one chunk
    assert set(got) == {3}
    assert got[3]["chunk_text"] == "tiny" and got[3]["chunk_idx"] == 0


# -- collocations ------------------------------------------------------------


def test_collocations_pmi_ranking_and_pruning(spark):
    # "new york" always adjacent (high PMI); "the cat"/"the dog" share
    # the promiscuous "the" (low PMI); rare pair pruned by min_count
    docs = ["new york " * 4 + "the cat the dog the cat the dog",
            "new york the cat the dog rare pair"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               ["doc_id", "text"])
    rows = op("collocations", df, {"min_count": 2, "k": 10},
              views={}).collect()
    pairs = [(r["w1"], r["w2"]) for r in rows]
    assert ("rare", "pair") not in pairs          # below min_count
    assert pairs[0] == ("new", "york")            # tightest pair wins
    by = {(r["w1"], r["w2"]): r for r in rows}
    ny = by[("new", "york")]
    # exact ratio: c12 * N / (c1 * c2)
    n_total = sum(len(d.split()) - 1 for d in docs)
    assert ny["n_pair"] == 5
    assert ny["pmi_ratio"] == 5.0 * n_total / (5 * 5)
    # every emitted pair respects min_count and desc ratio order
    ratios = [r["pmi_ratio"] for r in rows]
    assert ratios == sorted(ratios, reverse=True)
    assert all(r["n_pair"] >= 2 for r in rows)
