"""Text analysis operators for training-data curation.

All JVM-side (built-in pyspark.sql.functions — no Python UDFs): these
run in whole-stage codegen over the document scan, so they cost one
pass at any scale and pipeline with filters/projections for free.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.parallel import fan_out
from ..operators.registry import register

# Vocab tables in the LM scorers are sublinear in the corpus but NOT
# bounded — at web scale a unigram vocab runs ~100M entries, far past
# broadcast range. Auto mode gates the hint on the MEASURED entry
# count (the scorers collect it eagerly anyway for the smoothing
# denominators); explicit ``broadcast: true/false`` overrides. Past
# the gate the join shuffles and AQE skew-splitting absorbs stopword
# keys (ADVICE r3 — same fix as retention_cohorts' forced hint).
_BROADCAST_MAX_ENTRIES = 4_000_000  # ~a few hundred MB serialized


def _should_broadcast(config: Mapping, n_entries) -> bool:
    flag = config.get("broadcast")
    if flag is not None:
        return bool(flag)
    return n_entries <= int(
        config.get("broadcast_max_entries", _BROADCAST_MAX_ENTRIES))


# Tokens: trimmed whitespace split, empty tokens dropped — the one
# tokenization every operator here shares so stats compose.


def tokens_col(col: Column) -> Column:
    return F.filter(F.split(F.trim(col), r"\s+"), lambda x: x != F.lit(""))


def kgrams_from_tokens(toks: Column, k: int) -> Column:
    """All k-token shingles from a token array, duplicates kept, in
    document order; empty array below k tokens.

    PERF: expressions inside a higher-order-function lambda body are
    re-evaluated PER ELEMENT (no subexpression sharing with the outer
    row) — so ``toks`` should be a materialized attribute (stage the
    token array with .select/.withColumn first), not the tokenization
    expression itself; passing `tokens_col(...)` directly makes each
    gram re-split the document: O(tokens²) per doc (measured 8×
    slower on repetition_stats at sf0.1)."""
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )).otherwise(F.array().cast("array<string>"))


def kgrams_col(col: Column, k: int) -> Column:
    """All k-token shingles of a text column, duplicates kept, in
    document order; NULL text tokenizes as empty. Empty array when the
    document has fewer than k tokens. The distinct-shingle variant for
    dedup candidate generation (shingles_col in llmops/dedup.py) is a
    thin wrapper over this. See kgrams_from_tokens for the per-element
    re-evaluation caveat on hot paths."""
    return kgrams_from_tokens(tokens_col(F.coalesce(col, F.lit(""))), k)


# A "BPE-ish" word/number/punctuation segmentation for token counting —
# letters runs, digit runs, and single non-space symbols, the shape a
# byte-pair tokenizer's pre-tokenizer uses.
BPEISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Minimal per-language stopword profiles for the n-gram/stopword
# language-ID heuristic. Distinct-token intersection is deliberate:
# it's shuffle-free and codegen-friendly.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "con", "para"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que", "sur"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "auf"],
}


@register("text_stats")
def op_text_stats(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-document quality stats: char/token counts, mean token
    length, punctuation and uppercase ratios."""
    field = config.get("field", "text")
    col = F.col(field)
    toks = tokens_col(col)
    n_chars = F.length(col)
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", F.size(toks))
        .withColumn(
            "avg_token_len",
            F.when(F.size(toks) > 0,
                   F.aggregate(toks, F.lit(0).cast("double"),
                               lambda acc, x: acc + F.length(x)) / F.size(toks)),
        )
        .withColumn(
            "punct_ratio",
            F.when(n_chars > 0,
                   (n_chars - F.length(F.regexp_replace(col, r"[^\w\s]", ""))).cast("double")
                   / n_chars),
        )
        .withColumn(
            "upper_ratio",
            F.when(n_chars > 0,
                   (n_chars - F.length(F.regexp_replace(col, r"[A-Z]", ""))).cast("double")
                   / n_chars),
        )
    )


@register("token_count")
def op_token_count(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Whitespace and BPE-ish token counts (pre-tokenizer proxy for
    budget estimation)."""
    field = config.get("field", "text")
    col = F.col(field)
    return (
        df.withColumn("ws_tokens", F.size(tokens_col(col)))
        .withColumn("bpeish_tokens",
                    F.size(F.regexp_extract_all(col, F.lit(BPEISH_PATTERN), 0)))
    )


@register("quality_score")
def op_quality_score(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Composite [0,1] quality score: long enough, words not too long,
    not mostly punctuation, has stopwords (the classic Gopher-style
    rule-of-thumb filters, expressed as one codegen'd expression)."""
    field = config.get("field", "text")
    col = F.col(field)
    toks = tokens_col(col)
    n_tokens = F.size(toks)
    stop_hits = F.size(F.array_intersect(
        F.transform(toks, F.lower),
        F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])))
    len_ok = F.when(n_tokens.between(5, 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct = (F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))).cast("double")
    punct_ok = F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.when(punct / F.length(col) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0)))
    stop_ok = F.when(stop_hits >= 1, F.lit(1.0)).otherwise(F.lit(0.0))
    return df.withColumn(
        "quality_score", (len_ok + punct_ok + stop_ok) / F.lit(3.0))


@register("lang_id")
def op_lang_id(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Stopword-profile language ID. Scores each language by distinct
    stopword hits; highest strictly-greater score wins in profile
    order, no hits -> 'und'."""
    field = config.get("field", "text")
    toks_lower = F.transform(tokens_col(F.col(field)), F.lower)
    scores = {
        lang: F.size(F.array_intersect(
            toks_lower, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_PROFILES.items()
    }
    langs = list(LANG_PROFILES)
    best = F.lit("und")
    best_score = F.lit(0)
    # fold left in profile order: strictly-greater wins → earlier
    # profiles win ties, 0 hits stays 'und'
    for lang in langs:
        is_better = scores[lang] > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    out = df.withColumn("lang_pred", best)
    if config.get("with_scores"):
        for lang in langs:
            out = out.withColumn(f"score_{lang}", scores[lang])
    return out


@register("fingerprint")
def op_fingerprint(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Content fingerprint: the exact-dedup key (``content_key``: md5
    of the lowercased, trimmed, whitespace-collapsed text; NULL text
    keys as empty text), so a fingerprint store built with it matches
    what ``dedup_exact`` / ``dedup_against`` compare."""
    from .dedup import content_key

    field = config.get("field", "text")
    return df.withColumn(config.get("as", "fingerprint"),
                         content_key(F.col(field)))


def _winnow_arrow(df: DataFrame, id_field: str, field: str, k: int,
                  win: int) -> DataFrame:
    """Whole-winnow Arrow kernel (see op_winnow): per doc, normalize
    like SQL (trim = spaces only, Java-\\s whitespace collapse —
    Python's Unicode \\s would diverge on NBSP), memoize
    the md5-prefix hash per batch-unique gram, vectorize the sliding
    rightmost-min in numpy, dedup (pos, fp) per doc. Doc-local work →
    zero shuffle; only (id, text) crosses the Arrow boundary."""
    import hashlib
    import re

    jvm_ws = re.compile(r"[ \t\n\x0b\f\r]+")
    schema = T.StructType([
        T.StructField(id_field, df.schema[id_field].dataType),
        T.StructField("pos", T.LongType()),
        T.StructField("fp", T.LongType()),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cache: dict[str, int] = {}   # gram -> md5-prefix bigint
        for pdf in batches:
            ids, poss, fps = [], [], []
            for doc_id, text in zip(pdf["__id"], pdf["__t"]):
                norm = jvm_ws.sub(" ", (text or "").strip(" ").lower())
                n = len(norm) - k + 1
                if n <= 0:
                    continue
                if len(cache) > 4_000_000:   # bound kernel memory
                    cache.clear()
                h = np.empty(n, dtype=np.int64)
                for p in range(n):
                    gram = norm[p:p + k]
                    v = cache.get(gram)
                    if v is None:
                        v = int(hashlib.md5(
                            gram.encode("utf-8")).hexdigest()[:15], 16)
                        cache[gram] = v
                    h[p] = v
                if n >= win:
                    m = np.lib.stride_tricks.sliding_window_view(h, win)
                    mn = m.min(axis=1)
                    # rightmost tie: first min of the REVERSED window
                    r = m[:, ::-1].argmin(axis=1)
                    sel = (np.arange(n - win + 1, dtype=np.int64)
                           + (win - 1 - r))
                else:   # short doc: its single all-grams window
                    mn = np.array([h.min()], dtype=np.int64)
                    sel = np.array([n - 1 - int(h[::-1].argmin())],
                                   dtype=np.int64)
                pairs = np.unique(np.stack([sel, mn], axis=1), axis=0)
                ids.extend([doc_id] * len(pairs))
                poss.extend(pairs[:, 0].tolist())
                fps.extend(pairs[:, 1].tolist())
            yield pd.DataFrame({id_field: ids,
                                "pos": pd.Series(poss, dtype="int64"),
                                "fp": pd.Series(fps, dtype="int64")})

    # adaptive width (round 13): one unsplittable input file would
    # otherwise serialize the whole kernel onto one task (no-op at
    # scale — see operators/parallel.py)
    return (fan_out(df.select(F.col(id_field).alias("__id"),
                              F.col(field).alias("__t")))
            .mapInPandas(gen, schema))


@register("winnow")
def op_winnow(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03 —
    the MOSS local-fingerprinting algorithm): from every ``window``
    consecutive char-``k``-gram hashes of the normalized text, keep
    the minimum (rightmost on ties). Guarantees: any shared substring
    of length >= window + k - 1 yields at least one shared
    fingerprint, and fingerprint density is ~2/(window+1) — the
    position-robust partial-overlap detector that whole-doc
    ``fingerprint`` and shingle-set minhash are not (winnowing keeps
    POSITIONS, so matches localize).

    Winnowing is doc-local, so the whole algorithm runs in ONE
    ``mapInPandas`` kernel (``_winnow_arrow``) with ZERO shuffle at
    any scale: per doc, normalize, hash every gram, take the sliding
    rightmost-min in numpy and dedup (pos, fp). Hashes are
    md5-prefix bigints (the first 15 hex digits — portable across
    engines), memoized per batch-unique gram (the minhash_text_kernel
    Zipf argument). Docs shorter than one full window contribute
    their single all-grams window; docs shorter than ``k`` (and NULL
    text) contribute nothing.

    Normalization is the SQL one the oracle replays,
    ``regexp_replace(lower(trim(text)), '\\s+', ' ')``: trim strips
    spaces only, and whitespace collapses on Java's ``\\s``
    (``[ \\t\\n\\x0b\\f\\r]``), not Python's Unicode ``\\s``,
    which would also collapse NBSP and diverge from every SQL engine.
    Lowercasing is Python ``str.lower()`` (locale-independent).

    config: ``field`` (default text), ``id_field`` (default doc_id),
    ``k`` char-gram size (default 5), ``window`` (default 4).
    Output: one row per selected fingerprint — id_field, ``pos``
    (gram offset in the normalized text, long), ``fp`` (bigint).
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    k = int(config.get("k", 5))
    win = int(config.get("window", 4))
    if k < 1 or win < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={win}")
    return _winnow_arrow(df, id_field, field, k, win)


@register("winnow_overlap")
def op_winnow_overlap(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Cross-document overlap detection on winnowing fingerprints
    (the MOSS pairing step): document pairs sharing at least
    ``min_shared`` selected fingerprints, with the shared count.
    Catches partial/plagiarized/boilerplate overlap that whole-doc
    dedup misses and localizes what minhash only scores.

    Shape: ``winnow`` (one id shuffle) -> per-doc fingerprint SET ->
    inverted index keyed on the fingerprint -> per-fp self-join ->
    pair count. Work is Σ postings² per fingerprint, NEVER all-pairs
    across the corpus — and ``max_postings`` (default 1000) drops
    fingerprints appearing in more documents first (boilerplate
    n-grams — headers, licenses — whose postings lists would
    otherwise go quadratic; raise it past the corpus size for exact
    parity runs). The fp-keyed exchange is built once and reused for
    both join sides (self-join ReuseExchange, the LSH-bucket
    precedent).

    config: winnow's ``field``/``id_field``/``k``/``window`` plus
    ``min_shared`` (default 2) and ``max_postings``. Output: id_a,
    id_b (id_a < id_b), n_shared (long).
    """
    id_field = config.get("id_field", "doc_id")
    min_shared = int(config.get("min_shared", 2))
    max_postings = int(config.get("max_postings", 1000))
    if min_shared < 1 or max_postings < 2:
        raise ValueError(
            f"min_shared must be >= 1 and max_postings >= 2, got "
            f"{min_shared}/{max_postings}")
    fps = (op_winnow(df, config, views)
           .groupBy(id_field, "fp").agg(F.count(F.lit(1)).alias("__c"))
           .drop("__c"))
    from pyspark.sql import Window

    postings = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    fps = fps.withColumn("__p", postings).filter(
        F.col("__p") <= max_postings).drop("__p")
    a = fps.select(F.col(id_field).alias("id_a"), "fp")
    b = fps.select(F.col(id_field).alias("id_b"), "fp")
    pairs = (a.join(b, "fp")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    return pairs


@register("chunk_text")
def op_chunk_text(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Sliding token-window chunking — the context-window prep step of
    a training pipeline. Each document becomes ceil((n-overlap)/step)
    chunks of up to ``chunk_tokens`` tokens, consecutive chunks
    overlapping by ``overlap`` tokens (step = chunk_tokens - overlap).
    One row per chunk (explode shape), all JVM-side: tokens ->
    sequence of start offsets -> slice+join per start. No UDF, no
    shuffle — a projection with a generator, so it streams at any
    corpus size.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    chunk_tokens = int(config.get("chunk_tokens", 128))
    overlap = int(config.get("overlap", 0))
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"overlap={overlap} must be in [0, chunk_tokens)")
    step = chunk_tokens - overlap

    toks = tokens_col(F.col(field))
    n = F.size(toks)
    # number of windows: 1 + floor(max(n - chunk, 0) + step - 1) / step)
    # — at least one chunk even for short/empty docs, and the last
    # window starts within the doc (identical integer arithmetic in the
    # DuckDB oracle)
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(n - F.lit(chunk_tokens), F.lit(0)) + F.lit(step - 1))
        / F.lit(step)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * step).cast("long").alias("start_token"),
            F.array_join(F.slice(toks, i * step + 1, chunk_tokens), " ")
            .alias("chunk_text"),
            F.least(n - i * step, F.lit(chunk_tokens)).cast("long")
            .alias("chunk_tokens"),
        ))
    return (
        fan_out(df.select(F.col(id_field), F.col(field)))
        .select(F.col(id_field), F.explode(chunks).alias("__c"))
        .select(id_field, "__c.chunk_idx", "__c.start_token",
                "__c.chunk_text", "__c.chunk_tokens")
    )


@register("vocab_topk")
def op_vocab_topk(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Corpus token-frequency table, top-k by count (count desc, token
    asc tiebreak so the cut is deterministic). The explode fans out to
    one row per token occurrence, but partial aggregation collapses
    counts map-side before the single shuffle — the classic word-count
    shape at corpus scale."""
    field = config.get("field", "text")
    k = int(config.get("k", 100))
    lower = bool(config.get("lowercase", True))
    tok = tokens_col(F.lower(F.col(field)) if lower else F.col(field))
    return (
        df.select(F.explode(tok).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(k)
    )


# conservative patterns shared by Spark (Java regex) and DuckDB (RE2):
# character classes and bounded quantifiers only — no lookaround, no
# backreferences, so both engines match identically
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


@register("pii_scrub")
def op_pii_scrub(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Redact PII-shaped spans (emails, URLs, IPv4s, phone-ish digit
    runs) with typed placeholders — corpus hygiene before training.
    Pure regexp_replace chain: JVM-side, codegen'd, no shuffle. The
    pattern set is deliberately conservative (shared Java/RE2 subset)
    and extensible via ``patterns``: {name: regex} config."""
    field = config.get("field", "text")
    out = config.get("as", field)
    patterns = {**PII_PATTERNS, **{k: v for k, v in
                                   (config.get("patterns") or {}).items()}}
    col = F.col(field)
    for name, pat in patterns.items():
        col = F.regexp_replace(col, pat, f"<{name.upper()}>")
    return df.withColumn(out, col)


@register("tfidf_topk")
def op_tfidf_topk(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-document top-k terms by smooth TF-IDF
    (tf * (ln((N+1)/(df+1)) + 1), sklearn's smoothing) — the classic
    keyword/topic signal for corpus exploration and filter design.

    Shapes, at scale: term counting is the word-count pipeline
    (explode -> map-side partial agg -> one shuffle on (doc, term));
    document frequency aggregates those per-doc pairs again (a term
    repeated in one doc counts once); the corpus size N attaches as a
    broadcast 1-row aggregate, never a driver action; the idf join
    keys on term (AQE broadcasts it when the vocab is small — and a
    skew-join split handles stopword terms when it isn't); top-k uses
    row_number with a deterministic (score desc, term asc) order,
    which Spark rewrites to WindowGroupLimit so only k rows per doc
    survive the final shuffle. TF-IDF is inherently two-pass: the
    pairs pipeline is evaluated once per join side (column pruning
    specializes the copies, so the exchange can't be reused), each
    collapsing map-side before its shuffle; callers doing repeated
    corpus analysis should persist or write out the input once. The
    skew-prone alternative (doc_freq as a count window partitioned by
    term) would buffer every stopword's doc set in one window
    partition, which is the worse trade at corpus scale.
    """
    from pyspark.sql import Window

    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    k = int(config.get("k", 5))
    lower = bool(config.get("lowercase", True))
    col = F.col(field)
    toks = tokens_col(F.lower(col) if lower else col)
    pairs = (
        df.select(F.col(id_field), F.explode(toks).alias("term"))
        .groupBy(id_field, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    doc_freq = pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"))
    scored = (
        pairs.join(doc_freq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("__n_docs") + F.lit(1.0))
                     / (F.col("doc_freq") + F.lit(1.0))) + F.lit(1.0)))
    )
    w = (Window.partitionBy(id_field)
         .orderBy(F.col("tfidf").desc(), F.col("term")))
    return (
        scored.withColumn("tfidf_rank", F.row_number().over(w))
        .filter(F.col("tfidf_rank") <= k)
        .select(id_field, "term", "tf", "doc_freq", "tfidf_rank", "tfidf")
    )


@register("repetition_stats")
def op_repetition_stats(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-line
    ratios and the most-repeated 2-gram's share of tokens — the
    standard "remove boilerplate / keyboard-mash" quality filters.

    One aggregation pipeline, no self-join: the per-doc scalars
    (n_lines, n_tokens, ...) are computed before the explode and ride
    through the shuffle as grouping keys (functionally dependent on
    the id, so the key distribution is still the id's). Lines and
    2-grams explode as one tagged union, so the word-count-shaped
    groupBy (with map-side partial aggregation) runs once — this is
    the scan-once shape that survives a 100 TB corpus, unlike a
    per-doc O(lines^2) higher-order-function count.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    # NULL text behaves like the empty string (one empty line, zero
    # tokens) so no document ever drops out of the signal table
    col = F.coalesce(F.col(field), F.lit(""))
    # stage the arrays as attributes FIRST: lambda bodies re-evaluate
    # outer expressions per element, so building grams straight off
    # tokens_col(...) would re-split the text once per gram (O(n²)
    # per doc — measured 8× on this operator). CollapseProject keeps
    # the stage because inlining would duplicate non-trivial exprs.
    # fan_out BEFORE the split/tokenize projection: the exchange is the
    # barrier that keeps the heavy array construction on the widened
    # side (projections don't cross exchanges)
    staged = fan_out(df.select(F.col(id_field), F.col(field))).select(
        F.col(id_field),
        F.split(col, "\n").alias("__lines"),
        tokens_col(col).alias("__toks"),
    )
    lines = F.col("__lines")
    grams = kgrams_from_tokens(F.col("__toks"), 2)
    units = F.concat(
        F.transform(lines, lambda x: F.struct(
            F.lit("line").alias("kind"), x.alias("val"))),
        F.transform(grams, lambda g: F.struct(
            F.lit("gram").alias("kind"), g.alias("val"))),
    )
    scalar_cols = ["n_lines", "n_distinct_lines", "n_tokens"]
    exploded = (
        staged.select(
            F.col(id_field),
            F.size(lines).alias("n_lines"),
            F.size(F.array_distinct(lines)).alias("n_distinct_lines"),
            F.size(F.col("__toks")).alias("n_tokens"),
            # lines is never empty (split yields [""] for empty text),
            # so explode never drops a document
            F.explode(units).alias("__u"),
        )
        .select(id_field, *scalar_cols,
                F.col("__u.kind").alias("__kind"),
                F.col("__u.val").alias("__val"))
    )
    counts = (exploded
              .groupBy(id_field, *scalar_cols, "__kind", "__val")
              .agg(F.count(F.lit(1)).alias("__c")))
    is_line = F.col("__kind") == "line"
    unit_chars = F.length("__val") * F.col("__c")
    stats = counts.groupBy(id_field, *scalar_cols).agg(
        F.max(F.when(is_line, F.col("__c"))).alias("top_line_count"),
        F.max(F.when(~is_line, F.col("__c"))).alias("top_2gram_count"),
        F.coalesce(
            F.sum(F.when(is_line & (F.col("__c") > 1), unit_chars)),
            F.lit(0).cast("long")).alias("__dup_line_chars"),
        F.sum(F.when(is_line, unit_chars)).alias("__line_chars"),
    )
    n_lines = F.col("n_lines")
    n_tokens = F.col("n_tokens")
    return stats.select(
        id_field, *scalar_cols, "top_line_count", "top_2gram_count",
        (F.lit(1.0) - F.col("n_distinct_lines").cast("double") / n_lines)
        .alias("dup_line_ratio"),
        F.when(F.col("__line_chars") > 0,
               F.col("__dup_line_chars").cast("double")
               / F.col("__line_chars")).otherwise(F.lit(0.0))
        .alias("dup_line_char_ratio"),
        # overlapping occurrences each claim 2 tokens, so the raw
        # product can exceed the token count ("x x x x x" -> 4 dups of
        # "x x"); cap at 1.0 to keep the column a [0,1] share
        F.when(n_tokens >= 2,
               F.least(F.lit(1.0),
                       F.lit(2.0) * F.col("top_2gram_count") / n_tokens))
        .alias("top_2gram_ratio"),
    )


@register("pack_sequences")
def op_pack_sequences(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    (sequence packing): within each shard, documents are laid out in a
    deterministic order and greedily binned by cumulative token count
    — pack_id = floor((cumsum_before) / seq_tokens). Contiguous
    packing, not bin-packing: the O(n log n) shard-local sort + cumsum
    is the only cost, and shards parallelize the window (a global
    cumsum would be the single-partition scale-killer — so ``shard_by``
    is required; derive one from a hash if the data has no natural
    shard key).

    Docs longer than ``seq_tokens`` still get a pack (they would be
    split downstream by chunk_text); packing never drops rows.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    seq_tokens = int(config.get("seq_tokens", 2048))
    shard_by = config.get("shard_by")
    if not shard_by:
        raise ValueError(
            "pack_sequences requires shard_by (a column or expression "
            "name): a global packing order would move every row to one "
            "partition. Derive a shard, e.g. pmod(xxhash64(id), 64).")
    from pyspark.sql import Window

    n_tok = F.size(tokens_col(F.col(field)))
    w = (Window.partitionBy(shard_by).orderBy(F.col(id_field))
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum("__n_tok").over(w), F.lit(0))
    return (
        df.withColumn("__n_tok", n_tok)
        .withColumn("__cum_before", cum_before)
        # exact integral division (cum_before >= 0 so div == floor):
        # the double /+floor misrounds once a shard's cumulative
        # token count nears 2^52 (CLAUDE.md invariant)
        .withColumn("pack_id",
                    F.concat_ws("#", F.col(shard_by).cast("string"),
                                F.expr(f"__cum_before div {seq_tokens}")
                                .cast("string")))
        .drop("__cum_before")
        .withColumnRenamed("__n_tok", "n_tokens")
    )


@register("clean_lines")
def op_clean_lines(df: DataFrame, config: Mapping, views) -> DataFrame:
    """C4-style line-level cleaning: split the document on newlines,
    trim each line, keep only lines that (a) have at least
    ``min_words`` whitespace-separated words, (b) end in terminal
    punctuation when ``require_terminal: true``, and (c) contain none
    of the ``blacklist`` substrings (case-insensitive); reassemble
    with newlines and drop documents left with fewer than
    ``min_doc_words`` words. This is the boilerplate-stripping pass
    (nav menus, cookie banners, one-word lines) every web-corpus
    pipeline runs before dedup.

    All higher-order array functions on the JVM — no shuffle, no
    Python; scales as a pure map. Word counting matches tokens_col
    (trimmed whitespace split) so cleaned docs compose with
    token_count/quality_score stats.
    """
    field = config.get("field", "text")
    out_field = config.get("as", field)
    min_words = int(config.get("min_words", 3))
    min_doc_words = int(config.get("min_doc_words", 5))
    blacklist = [s.lower() for s in config.get("blacklist", [])]
    require_terminal = bool(config.get("require_terminal", False))

    def line_ok(line: Column) -> Column:
        ok = F.size(tokens_col(line)) >= min_words
        if require_terminal:
            ok = ok & line.rlike(r"[.!?]$")
        for s in blacklist:
            ok = ok & ~F.contains(F.lower(line), F.lit(s))
        return ok

    lines = F.transform(F.split(F.coalesce(F.col(field), F.lit("")), "\n"),
                        lambda x: F.trim(x))
    cleaned = F.array_join(F.filter(lines, line_ok), "\n")
    out = df.withColumn(out_field, cleaned)
    return out.filter(F.size(tokens_col(F.col(out_field))) >= min_doc_words)


@register("strip_markup")
def op_strip_markup(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Strip HTML/XML markup from crawled text: remove tags
    (``<...>``), decode the common entities, collapse runs of
    HORIZONTAL whitespace to single spaces (newlines survive — the
    line-structured downstream ops clean_lines/dedup_lines depend on
    them), squeeze blank-line runs, trim. The regex-level cleanup a
    web-corpus pipeline runs before clean_lines — NOT a full HTML
    parser (no script/style content removal; crawled corpora run
    extraction upstream, this op sanitizes residual markup).

    Pure JVM projection (regexp_replace chain, codegen) — no shuffle,
    and the identical regexes run in any SQL engine.
    """
    field = config.get("field", "text")
    out_field = config.get("as", field)
    col = F.coalesce(F.col(field), F.lit(""))
    col = F.regexp_replace(col, r"<[^>]*>", " ")
    for ent, rep in (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
                     ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'")):
        col = F.regexp_replace(col, ent, rep)
    # collapse HORIZONTAL whitespace only and trim line edges —
    # newlines survive so line-structured downstream ops
    # (clean_lines, dedup_lines) still see lines; blank-line runs
    # collapse to one newline
    col = F.regexp_replace(col, r"[^\S\n]+", " ")
    col = F.regexp_replace(col, r" ?\n ?", "\n")
    col = F.regexp_replace(col, r"\n+", "\n")
    col = F.regexp_replace(col, r"^\s+|\s+$", "")
    return df.withColumn(out_field, col)


@register("dedup_lines")
def op_dedup_lines(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Corpus-GLOBAL line dedup (the C4 move): a line that occurs in
    more than one document survives only at its first occurrence
    (smallest (doc_id, line_idx)) — or, with ``policy: "drop_common"``
    and ``min_docs``, is dropped from EVERY document once it appears
    in that many distinct docs (boilerplate killer: footers, cookie
    banners). Lines shorter than ``min_chars`` after trimming are
    never candidates — they pass through untouched (blank lines and
    one-word bullets would otherwise collapse corpus-wide).

    Shape at scale: posexplode lines (no shuffle) → groupBy line hash
    for the first-occurrence/doc-count table (shuffle 1, map-side
    partial) → join back on the hash (shuffle shared with 1 via
    exchange reuse) → groupBy doc to reassemble in line order
    (shuffle 2). Text crosses the wire once per stage as single
    lines — never whole corpora per key.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    out_field = config.get("as", field)
    min_chars = int(config.get("min_chars", 10))
    policy = config.get("policy", "keep_first")
    min_docs = int(config.get("min_docs", 2))
    if policy not in ("keep_first", "drop_common"):
        raise ValueError(f"unknown dedup_lines policy: {policy!r}")

    lines = df.select(
        F.col(id_field).alias("__id"),
        F.posexplode(F.split(F.coalesce(F.col(field), F.lit("")), "\n"))
        .alias("__idx", "__line"))
    lines = lines.withColumn("__line", F.trim("__line"))
    cand = F.length("__line") >= min_chars
    firsts = (lines.filter(cand)
              .groupBy(F.md5("__line").alias("__h"))
              .agg(F.min(F.struct("__id", "__idx")).alias("__first"),
                   F.count_distinct("__id").alias("__ndocs")))
    joined = lines.join(firsts, F.md5(lines["__line"]) == firsts["__h"], "left")
    if policy == "drop_common":
        keep = ~cand | F.col("__ndocs").isNull() | (F.col("__ndocs") < min_docs)
    else:
        keep = (~cand | F.col("__ndocs").isNull()
                | ((F.col("__first.__id") == F.col("__id"))
                   & (F.col("__first.__idx") == F.col("__idx"))))
    rebuilt = (joined.filter(keep)
               .groupBy("__id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("__idx", "__line"))),
                       lambda s: s["__line"]), "\n").alias("__text")))
    out = (df.join(rebuilt, df[id_field] == rebuilt["__id"], "left")
           .withColumn(out_field, F.coalesce("__text", F.lit("")))
           .drop("__id", "__text"))
    return out


@register("unigram_logprob")
def op_unigram_logprob(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    add-k-smoothed unigram distribution — the cheap LM-quality signal
    (perplexity proxy) used to drop gibberish/boilerplate before the
    expensive model-based filters: ln p(tok) = ln((c_tok + k) /
    (T + k·V)), doc score = mean over token occurrences.

    Shape at scale: (1) corpus token counts — word-count, map-side
    partial agg, one shuffle keyed by token, materialized EAGERLY
    (localCheckpoint) at operator-construction time so the scalar
    collect and the join share one execution — this operator is an
    exception to the lazy-transform contract; (2) the two scalars T
    and V — a bounded driver collect of one row; (3) exploded tokens
    joined back to the vocab. The vocab is sublinear in the corpus
    (~100M rows at web scale) — the hint is auto-gated on the
    measured entry count (``broadcast_max_entries``, default 4M;
    ``broadcast: true/false`` overrides); past the gate the join
    shuffles and stopword keys are the skew hazard, which AQE
    skew-join splitting absorbs. The per-doc mean is an ordinary
    groupBy(doc_id) partial agg.

    Output: id, n_tokens (long), mean_logprob (double; NULL for empty
    docs). Exact cross-engine float parity of ln() is NOT guaranteed
    (libm differences) — oracle checks compare the integer columns,
    pytest checks the float against a Python model.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    k = float(config.get("smoothing_k", 1.0))
    lower = bool(config.get("lowercase", True))
    tok_expr = tokens_col(F.lower(F.col(field)) if lower else F.col(field))

    toks = df.select(F.col(id_field), F.explode(tok_expr).alias("token"))
    # Materialize the vocab ONCE (eager localCheckpoint): the T/V
    # scalar collect below would otherwise re-run the full corpus
    # token aggregation a second time when the join consumes the same
    # lazy frame (round-3 ADVICE fix). This is the operator's one
    # eager step; the blocks are vocab-sized (sublinear in corpus)
    # and live until the returned frame is released.
    vocab = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
             .localCheckpoint(eager=True))
    tv = vocab.agg(F.sum("__c").alias("t"), F.count(F.lit(1)).alias("v")).first()
    denom = float(tv["t"] or 0) + k * float(tv["v"] or 0)
    if _should_broadcast(config, tv["v"] or 0):
        vocab = F.broadcast(vocab)
    scored = toks.join(vocab, "token")
    out = (
        scored.groupBy(id_field)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             # exact integer twin of the float score: the sum of corpus
             # counts over the doc's occurrences — what an external
             # engine can reproduce bit-for-bit to audit the join+agg
             F.sum("__c").alias("sum_corpus_count"),
             F.avg(F.log((F.col("__c") + F.lit(k)) / F.lit(denom)))
             .alias("mean_logprob"))
    )
    # empty docs produce no exploded rows — restore them with NULL score
    return (
        df.select(id_field).distinct()
        .join(out, id_field, "left")
        .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0)))
        .withColumn("sum_corpus_count", F.coalesce("sum_corpus_count", F.lit(0)))
    )


@register("hash_columns")
def op_hash_columns(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Pseudonymize identifier columns with salted sha256 — the
    reversible-nowhere replacement for user ids / emails before a
    corpus leaves its trust boundary, while keeping JOINABILITY: the
    same (value, salt) always maps to the same digest, so keyed joins
    and groupBys still line up across tables hashed with the same
    salt.

    Pure projection (sha2 is JVM-side, codegen'd, no shuffle). NULLs
    stay NULL (they carry no identity). ``truncate`` keeps the first N
    hex chars when a shorter key is acceptable (64-bit prefixes are
    plenty below ~10^9 distinct values — birthday bound).
    """
    fields = list(config["fields"])
    salt = str(config.get("salt", ""))
    truncate = config.get("truncate")
    for f in fields:
        col = F.sha2(F.concat_ws("\x1f", F.col(f).cast("string"),
                                 F.lit(salt)), 256)
        if truncate:
            col = F.substring(col, 1, int(truncate))
        out = config.get("as", {}).get(f, f) if isinstance(
            config.get("as"), Mapping) else f
        df = df.withColumn(out, F.when(F.col(f).isNotNull(), col))
    return df


@register("bigram_logprob")
def op_bigram_logprob(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-document mean bigram conditional log-probability under the
    corpus's own add-k-smoothed bigram model: ln p(w2|w1) =
    ln((c(w1 w2) + k) / (c(w1) + k·V)) averaged over the document's
    bigram occurrences — one modeling step past `unigram_logprob`:
    word-salad that passes unigram frequency checks fails here because
    its TRANSITIONS are improbable.

    Same scale shape as the unigram op: two word-count aggregations
    (bigram and unigram tables, map-side partials; the unigram table
    is eagerly materialized so the scalar collect shares one execution
    with the prefix join — same lazy-contract exception as
    unigram_logprob), V as a bounded one-row collect, then the
    exploded bigram stream joins both count tables — hints auto-gated
    on the measured unigram vocab size (the bigram table uses an 8x
    proxy factor; ``broadcast: true/false`` overrides). Past the gate
    the joins shuffle and AQE skew-splits the stopword-pair keys.

    Output: id, n_bigrams (long), sum_bigram_count / sum_prefix_count
    (exact integer twins of the float for cross-engine audit),
    mean_logprob (double; NULL for docs under 2 tokens).
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    k = float(config.get("smoothing_k", 1.0))
    lower = bool(config.get("lowercase", True))
    tok_expr = tokens_col(F.lower(F.col(field)) if lower else F.col(field))

    staged = (fan_out(df.select(F.col(id_field), F.col(field)))
              .select(F.col(id_field), tok_expr.alias("__toks")))
    bigs = staged.select(
        F.col(id_field),
        F.explode(kgrams_from_tokens(F.col("__toks"), 2)).alias("bigram"))
    # eager materialization for the same reason as unigram_logprob:
    # the V collect must not re-run the unigram aggregation the
    # prefix join consumes
    uni = (staged.select(F.explode("__toks").alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("__c1"))
           .localCheckpoint(eager=True))
    v = uni.agg(F.count(F.lit(1)).alias("v")).first()["v"] or 0
    big_counts = bigs.groupBy("bigram").agg(F.count(F.lit(1)).alias("__c12"))
    prefix_counts = uni.select(F.col("token").alias("__w1"),
                               F.col("__c1").alias("__cw1"))
    # auto mode sizes the hint from the MEASURED unigram vocab; the
    # bigram table is typically ~8x larger, hence the tighter gate
    if _should_broadcast(config, v * 8):
        big_counts = F.broadcast(big_counts)
    if _should_broadcast(config, v):
        prefix_counts = F.broadcast(prefix_counts)
    scored = (
        bigs.join(big_counts, "bigram")
        .withColumn("__w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(prefix_counts, "__w1")
    )
    out = (
        scored.groupBy(id_field)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("__c12").alias("sum_bigram_count"),
             F.sum("__cw1").alias("sum_prefix_count"),
             F.avg(F.log((F.col("__c12") + F.lit(k))
                         / (F.col("__cw1") + F.lit(k * v))))
             .alias("mean_logprob"))
    )
    return (
        df.select(id_field).distinct()
        .join(out, id_field, "left")
        .withColumn("n_bigrams", F.coalesce("n_bigrams", F.lit(0)))
        .withColumn("sum_bigram_count", F.coalesce("sum_bigram_count", F.lit(0)))
        .withColumn("sum_prefix_count", F.coalesce("sum_prefix_count", F.lit(0)))
    )


@register("gopher_quality")
def op_gopher_quality(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Gopher-style rule-based document quality filter (Rae et al.
    2021, table A1) — the standard pre-training heuristic gate the
    reference has no analogue for (its quality notion stops at
    quality_score's 3 signals).

    Seven rules, each surfaced as its own flag column so downstream
    mixing can weigh them (`mode: "annotate"`, default) or the gate
    can drop failures outright (`mode: "filter"`):

    - ``ok_n_words``      min_words <= word count <= max_words
    - ``ok_mean_word_len`` mean token length in [min_mean_word_len,
                          max_mean_word_len]
    - ``ok_symbol_ratio`` (# + ellipsis occurrences) / words
                          <= max_symbol_ratio
    - ``ok_bullet_lines`` fraction of lines starting with a bullet
                          <= max_bullet_ratio
    - ``ok_ellipsis_lines`` fraction of lines ending in an ellipsis
                          <= max_ellipsis_line_ratio
    - ``ok_alpha_words``  fraction of tokens containing a letter
                          >= min_alpha_ratio
    - ``ok_stopwords``    >= min_stop_hits distinct tokens from the
                          required-stopword list

    Everything is built-in-function arithmetic over one staged token /
    line array — whole-stage codegen, zero shuffle, zero Python rows;
    at 100 TB this is a free rider on the document scan, prunable and
    pipelineable like any map. NULL text behaves as the empty string
    (fails the word-count floor, as it should).
    """
    field = config.get("field", "text")
    mode = config.get("mode", "annotate")
    if mode not in ("annotate", "filter"):
        raise ValueError(f"gopher_quality mode must be annotate|filter, got {mode!r}")
    min_words = int(config.get("min_words", 50))
    max_words = int(config.get("max_words", 100_000))
    min_mwl = float(config.get("min_mean_word_len", 3.0))
    max_mwl = float(config.get("max_mean_word_len", 10.0))
    max_symbol = float(config.get("max_symbol_ratio", 0.1))
    max_bullet = float(config.get("max_bullet_ratio", 0.9))
    max_ellipsis = float(config.get("max_ellipsis_line_ratio", 0.3))
    min_alpha = float(config.get("min_alpha_ratio", 0.8))
    min_stop_hits = int(config.get("min_stop_hits", 2))
    stopwords = list(config.get("stopwords",
                                ["the", "be", "to", "of", "and",
                                 "that", "have", "with"]))

    col = F.coalesce(F.col(field), F.lit(""))
    # stage arrays as attributes (kgrams_from_tokens caveat: lambda
    # bodies re-evaluate outer expressions per element)
    staged = df.withColumns({
        "__toks": tokens_col(col),
        # single-parameter lambda required: bare F.trim would bind
        # transform's (element, index) to trim(col, trimstr)
        "__lines": F.transform(F.split(col, "\n"), lambda x: F.trim(x)),
    })
    toks, lines = F.col("__toks"), F.col("__lines")
    n_words = F.size(toks)
    n_lines = F.size(lines)  # split never yields [], so >= 1
    # mean word length over tokens; 0-token docs get NULL -> fails the
    # range check via coalesce(False)
    sum_len = F.aggregate(toks, F.lit(0),
                          lambda acc, x: acc + F.length(x))
    mean_wl = F.when(n_words > 0, sum_len.cast("double") / n_words)
    # '#' occurrences + ellipsis occurrences ('...' or the one-char
    # form), counted over raw text
    n_symbols = (F.length(col) - F.length(F.regexp_replace(col, "#", ""))
                 + F.size(F.split(col, r"\.\.\.|…")) - 1)
    bullet_lines = F.size(F.filter(
        lines, lambda x: x.rlike(r"^[-*•]\s")))
    ellipsis_lines = F.size(F.filter(
        lines, lambda x: x.rlike(r"(\.\.\.|…)$")))
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    stop_hits = F.size(F.array_intersect(
        F.transform(toks, F.lower),
        F.array(*[F.lit(w) for w in stopwords])))

    flags = {
        "ok_n_words": n_words.between(min_words, max_words),
        "ok_mean_word_len": F.coalesce(
            mean_wl.between(min_mwl, max_mwl), F.lit(False)),
        "ok_symbol_ratio": F.when(
            n_words > 0, n_symbols.cast("double") / n_words <= max_symbol
        ).otherwise(F.lit(False)),
        "ok_bullet_lines":
            bullet_lines.cast("double") / n_lines <= max_bullet,
        "ok_ellipsis_lines":
            ellipsis_lines.cast("double") / n_lines <= max_ellipsis,
        "ok_alpha_words": F.when(
            n_words > 0, alpha_words.cast("double") / n_words >= min_alpha
        ).otherwise(F.lit(False)),
        "ok_stopwords": stop_hits >= min_stop_hits,
    }
    passed = F.lit(True)
    for flag in flags.values():
        passed = passed & flag
    out = staged.withColumns({**flags, "gopher_pass": passed})
    out = out.drop("__toks", "__lines")
    if mode == "filter":
        return out.filter(F.col("gopher_pass")).drop(
            *flags.keys(), "gopher_pass")
    return out


@register("importance_weight")
def op_importance_weight(df: DataFrame, config: Mapping, views) -> DataFrame:
    """DSIR-style data selection signal (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    each raw-corpus document by the mean unigram log-likelihood RATIO
    between a TARGET domain sample and the raw corpus itself —
    ln p_target(tok) − ln p_raw(tok), add-k smoothed over the union
    vocabulary. High scores = "looks like the target domain";
    resampling by the weight shifts the pre-training mixture toward
    the target without a trained classifier.

    ``target`` is a view name or DataFrame holding the target-domain
    sample (its ``target_field``, default = ``field``). Both unigram
    models are word-count aggregations materialized eagerly
    (localCheckpoint — same single-execution rationale as
    unigram_logprob) and FULL-OUTER merged so one vocab join serves
    both counts; tokens unseen in either side smooth to k. Scale
    shape: two vocab-sized shuffles (raw corpus + the much smaller
    target), one vocab join over the exploded tokens (hint auto-gated
    on the measured union-vocab size, like unigram_logprob), one
    per-doc partial agg. No per-row Python.

    Output: id, n_tokens (long), sum_target_count / sum_raw_count
    (long — the exact integer twins an external engine can audit),
    mean_llr (double; NULL for empty docs; ln() floats are
    libm-dependent, so oracles compare the integer columns and pytest
    checks the float against a Python model).
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    k = float(config.get("smoothing_k", 1.0))
    lower = bool(config.get("lowercase", True))
    target = config["target"]
    if isinstance(target, str):
        target = views[target]
    target_field = config.get("target_field", field)

    def toks_of(frame: DataFrame, f: str) -> DataFrame:
        expr = tokens_col(F.lower(F.col(f)) if lower else F.col(f))
        return frame.select(F.explode(expr).alias("token"))

    toks = df.select(
        F.col(id_field),
        F.explode(tokens_col(
            F.lower(F.col(field)) if lower else F.col(field))).alias("token"))
    raw_vocab = (toks.groupBy("token")
                 .agg(F.count(F.lit(1)).alias("__cr")))
    tgt_vocab = (toks_of(target, target_field).groupBy("token")
                 .agg(F.count(F.lit(1)).alias("__ct")))
    # union-vocabulary merge: one table, one broadcast, both models
    vocab = (raw_vocab.join(tgt_vocab, "token", "full_outer")
             .select("token",
                     F.coalesce("__cr", F.lit(0)).alias("__cr"),
                     F.coalesce("__ct", F.lit(0)).alias("__ct"))
             .localCheckpoint(eager=True))
    tot = vocab.agg(F.sum("__cr").alias("tr"), F.sum("__ct").alias("tt"),
                    F.count(F.lit(1)).alias("v")).first()
    v = float(tot["v"] or 0)
    denom_raw = float(tot["tr"] or 0) + k * v
    denom_tgt = float(tot["tt"] or 0) + k * v
    if _should_broadcast(config, tot["v"] or 0):
        vocab = F.broadcast(vocab)
    scored = toks.join(vocab, "token")
    llr = (F.log((F.col("__ct") + F.lit(k)) / F.lit(denom_tgt))
           - F.log((F.col("__cr") + F.lit(k)) / F.lit(denom_raw)))
    out = (
        scored.groupBy(id_field)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("__ct").alias("sum_target_count"),
             F.sum("__cr").alias("sum_raw_count"),
             F.avg(llr).alias("mean_llr"))
    )
    return (
        df.select(id_field).distinct()
        .join(out, id_field, "left")
        .withColumns({
            "n_tokens": F.coalesce("n_tokens", F.lit(0)),
            "sum_target_count": F.coalesce("sum_target_count", F.lit(0)),
            "sum_raw_count": F.coalesce("sum_raw_count", F.lit(0)),
        })
    )


@register("split_paragraphs")
def op_split_paragraphs(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Separator-based document splitting — the structure-aware
    companion to chunk_text's fixed token windows: one output row per
    paragraph (default separator: blank line), carrying
    (``para_idx``, paragraph text, ``para_chars``, ``para_tokens``).
    Sentence-ish splitting is the same op with ``separator:
    '(?<=[.!?])\\s+'``; RAG prep composes split_paragraphs ->
    chunk_text so only over-long paragraphs pay the window explode.

    Pure codegen: regex split + trim + posexplode, zero shuffle, no
    Python. ``min_chars`` drops boilerplate fragments (default 1 —
    empty fragments always drop); ``keep_doc_cols`` (default true)
    carries the remaining input columns onto every paragraph row.
    NULL text yields zero rows (nothing to split — documents with no
    usable text leave the chunk stream, matching chunk_text).
    """
    field = config.get("field", "text")
    sep = config.get("separator", r"\n\s*\n")
    min_chars = int(config.get("min_chars", 1))
    out_field = config.get("as", "paragraph")
    # NOTE: lambda must be single-parameter — F.trim passed bare would
    # bind transform's (element, index) pair to trim(col, trimstr)
    # (the repo-wide two-arg-lambda trap; gopher_quality's line
    # staging hit the same thing)
    paras = F.filter(
        F.transform(F.split(F.col(field), sep), lambda x: F.trim(x)),
        lambda x: F.length(x) >= min_chars)
    cols = [c for c in df.columns if c != field] \
        if config.get("keep_doc_cols", True) else \
        [c for c in (config.get("id_field", "doc_id"),) if c in df.columns]
    out = df.select(
        *cols, F.posexplode(paras).alias("para_idx", out_field))
    return out.withColumns({
        "para_chars": F.length(F.col(out_field)),
        "para_tokens": F.size(tokens_col(F.col(out_field))),
    })


# The JVM-expressible normalization table: smart quotes, long dashes,
# NBSP-family spaces, ellipsis — the high-frequency mojibake-adjacent
# characters a web corpus actually contains. Single-char mappings ride
# ONE translate() call; the multi-char ellipsis is a regexp_replace.
_NORM_SINGLE = {
    "\u2018": "'", "\u2019": "'", "\u201a": "'", "\u201b": "'",
    "\u201c": '"', "\u201d": '"', "\u201e": '"', "\u00ab": '"',
    "\u00bb": '"',
    "\u2013": "-", "\u2014": "-", "\u2212": "-",
    "\u00a0": " ", "\u2007": " ", "\u2009": " ", "\u200a": " ",
    "\u202f": " ", "\u3000": " ",
}


@register("text_normalize")
def op_text_normalize(df: DataFrame, config: Mapping, views) -> DataFrame:
    """CCNet-style text normalization: smart quotes / long dashes /
    exotic spaces fold to ASCII (one ``translate`` call), the
    one-char ellipsis expands, C0/C1 control characters strip
    (newline + tab survive), and runs of horizontal whitespace
    collapse. All JVM codegen — a pure map the scan absorbs.

    ``nfc: true`` additionally applies real Unicode NFC composition
    through an Arrow-batched kernel (Python ``unicodedata`` — Spark
    has no built-in normalizer); it is opt-in because it moves the
    column through Python and its behavior tracks the UCD version.
    NULL text stays NULL.
    """
    field = config.get("field", "text")
    out_field = config.get("as", field)
    col = F.col(field)
    if config.get("nfc"):
        @F.pandas_udf("string")
        def nfc(s: pd.Series) -> pd.Series:
            import unicodedata

            return s.map(lambda x: unicodedata.normalize("NFC", x)
                         if x is not None else None)

        col = nfc(col)
    col = F.translate(col, "".join(_NORM_SINGLE),
                      "".join(_NORM_SINGLE.values()))
    col = F.regexp_replace(col, "…", "...")
    # strip C0 (minus \t \n \r) and C1 controls
    col = F.regexp_replace(col, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "")
    col = F.regexp_replace(col, r"[ \t]+", " ")
    return df.withColumn(out_field, col)


@register("compression_ratio")
def op_compression_ratio(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-document zlib compression ratio — the low-entropy detector
    (RefinedWeb-family heuristic): boilerplate, keyboard mash, and
    template spam compress far below natural prose, so
    ``compression_ratio`` (compressed/raw bytes) separates them with
    one cheap pass and no vocabulary.

    zlib has no JVM builtin surface in Spark SQL, so this is an
    Arrow-batched pandas UDF (bytes cross once per batch); output is
    deterministic for a fixed ``level`` (zlib's DEFLATE encoding is
    platform-stable) — pytest pins it against direct zlib calls.
    Adds ``raw_bytes``, ``compressed_bytes``, ``compression_ratio``
    (NULL text -> 0-byte row: ratio 0.0). ``mode: "filter"`` keeps
    rows with ratio >= ``min_ratio`` (default 0.3 — below that the
    document is mostly repetition).
    """
    field = config.get("field", "text")
    level = int(config.get("level", 6))
    mode = config.get("mode", "annotate")
    if mode not in ("annotate", "filter"):
        raise ValueError(
            f"compression_ratio mode must be annotate|filter, got {mode!r}")

    @F.pandas_udf("struct<raw_bytes: long, compressed_bytes: long>")
    def comp(s: pd.Series) -> pd.DataFrame:
        import zlib

        raw, cz = [], []
        for t in s:
            b = (t or "").encode("utf-8")
            raw.append(len(b))
            cz.append(len(zlib.compress(b, level)))
        return pd.DataFrame({"raw_bytes": raw, "compressed_bytes": cz})

    out = (df.withColumn("__cz", comp(F.col(field)))
           .withColumn("raw_bytes", F.col("__cz.raw_bytes"))
           .withColumn("compressed_bytes", F.col("__cz.compressed_bytes"))
           .drop("__cz"))
    out = out.withColumn(
        "compression_ratio",
        F.when(F.col("raw_bytes") > 0,
               F.col("compressed_bytes").cast("double") / F.col("raw_bytes"))
        .otherwise(F.lit(0.0)))
    if mode == "filter":
        return out.filter(
            F.col("compression_ratio") >= float(config.get("min_ratio", 0.3))
        ).drop("raw_bytes", "compressed_bytes", "compression_ratio")
    return out


@register("bm25_score")
def op_bm25_score(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed
    ``query`` string — the lexical side of hybrid (BM25 + vector)
    retrieval over a corpus, and the standard keyword-relevance
    quality signal.

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5)/(df + 0.5))

    Scale shape: the exploded token stream filters to the HANDFUL of
    query terms immediately (predicate on a literal set — the scan
    never shuffles non-query tokens), one (doc, term) tf aggregation,
    a broadcast per-term df table, broadcast 1-row (N, avgdl)
    scalars, one per-doc sum. No per-row Python.

    Output (matched docs only): id, dl (doc token count),
    n_matched_terms, sum_tf (exact integer twins an external engine
    audits), bm25 (double; ln() is libm-dependent — oracle-compare
    the twins, pytest checks the float against a Python model).
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    k1 = float(config.get("k1", 1.2))
    b = float(config.get("b", 0.75))
    lower = bool(config.get("lowercase", True))
    q = config["query"]
    if isinstance(q, str):
        q = q.lower().split() if lower else q.split()
    terms = sorted({t for t in q if t})
    if not terms:
        raise ValueError("bm25_score needs a non-empty query")

    tok_expr = tokens_col(F.lower(F.col(field)) if lower else F.col(field))
    docs = df.select(F.col(id_field), tok_expr.alias("__toks"))
    lens = docs.select(id_field, F.size("__toks").alias("dl"))
    stats = lens.agg(F.count(F.lit(1)).alias("__n"),
                     F.avg("dl").alias("__avgdl"))
    toks = (docs.select(F.col(id_field), F.explode("__toks").alias("__t"))
            .filter(F.col("__t").isin(terms)))
    tf = toks.groupBy(id_field, "__t").agg(F.count(F.lit(1)).alias("__tf"))
    df_t = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    scored = (tf.join(F.broadcast(df_t), "__t")
              .join(lens, id_field)
              .crossJoin(F.broadcast(stats)))
    idf = F.log(F.lit(1.0) + (F.col("__n") - F.col("__df") + F.lit(0.5))
                / (F.col("__df") + F.lit(0.5)))
    denom = (F.col("__tf")
             + k1 * (1 - b + b * F.col("dl") / F.col("__avgdl")))
    term_score = idf * F.col("__tf") * (k1 + 1) / denom
    return (scored.groupBy(id_field, "dl")
            .agg(F.count(F.lit(1)).alias("n_matched_terms"),
                 F.sum("__tf").alias("sum_tf"),
                 F.sum(term_score).alias("bm25")))


@register("url_parts")
def op_url_parts(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Decompose a URL column into protocol / host / path / query /
    registered domain — the keys every web-corpus curation step
    groups on (per-domain caps via cap_per_group, domain mixing via
    mix_corpus, URL-level dedup via dedup_exact on the normalized
    parts). Pure codegen (`parse_url`), zero shuffle.

    ``params``: list of query parameter names to extract as
    ``param_<name>`` columns. ``registered_domain`` is the last two
    dot-labels of the host — the standard heuristic short of shipping
    the Public Suffix List (co.uk-style hosts need a real PSL;
    documented limitation, not a silent wrong answer for the common
    gTLD case). Malformed URLs yield NULL parts (try_parse_url)."""
    field = config.get("field", "url")
    col = F.col(field)
    prefix = config.get("prefix", "url_")
    out = (df.withColumn(f"{prefix}protocol", F.try_parse_url(col, F.lit("PROTOCOL")))
           .withColumn(f"{prefix}host", F.try_parse_url(col, F.lit("HOST")))
           .withColumn(f"{prefix}path", F.try_parse_url(col, F.lit("PATH")))
           .withColumn(f"{prefix}query", F.try_parse_url(col, F.lit("QUERY"))))
    host = F.col(f"{prefix}host")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    out = out.withColumn(
        f"{prefix}registered_domain",
        F.when(n >= 2, F.concat_ws(".", F.element_at(labels, -2),
                                   F.element_at(labels, -1)))
        .otherwise(host))
    for p in config.get("params", []):
        out = out.withColumn(
            f"param_{p}", F.try_parse_url(col, F.lit("QUERY"), F.lit(p)))
    return out


@register("chunk_cdc")
def op_chunk_cdc(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Content-defined chunking: split each document at positions
    where a 64-bit polynomial rolling hash of the trailing ``window``
    bytes satisfies ``hash & mask == mask`` (avg chunk ~2^mask_bits
    bytes, clamped to [min_size, max_size]). Boundaries depend ONLY
    on local content, so an insertion early in a document shifts
    chunk contents locally and RE-ALIGNS at the next boundary —
    chunk-hash dedup over this output catches shifted/partial
    overlaps that fixed windows (dup_span_stats) cannot. The
    rsync/LBFS/backup-dedup primitive, here for crawl snapshots that
    prepend banners or edit headers.

    Output: one row per chunk — id columns + chunk_idx,
    chunk_offset (byte offset), chunk_text, chunk_hash (md5 hex of
    the chunk bytes — dedup-ready, engine-auditable). Arrow-batched
    numpy kernel (uint64 wraparound gives exact mod-2^64 rolling
    hashes), no shuffle. Losslessness (concatenation reconstructs
    the document byte-for-byte) is the contract gate.

    Every cut — rolling-hash hits AND max_size forced cuts — is
    snapped FORWARD past UTF-8 continuation bytes (0b10xxxxxx) so a
    chunk never splits a multi-byte code point: without this,
    chunk_text decoding replaces the split character with U+FFFD on
    both sides and reconstruction silently corrupts non-ASCII text
    (ADVICE r4-high). ASCII boundaries are unchanged (no
    continuation bytes), so snapping costs nothing on ASCII corpora;
    a chunk may exceed max_size by up to 3 bytes at a snap.
    """
    import hashlib

    import numpy as np

    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    window = int(config.get("window", 16))
    mask_bits = int(config.get("mask_bits", 6))      # avg ~64 bytes
    min_size = int(config.get("min_size", max(window, 16)))
    max_size = int(config.get("max_size", 1 << (mask_bits + 3)))
    if max_size < min_size:
        raise ValueError("max_size must be >= min_size")
    mask = np.uint64((1 << mask_bits) - 1)
    base = np.uint64(0x100000001B3)  # FNV prime: odd -> invertible mod 2^64

    powers = np.empty(window, dtype=np.uint64)
    acc = np.uint64(1)
    with np.errstate(over="ignore"):  # wraparound == mod 2^64, by design
        for i in range(window - 1, -1, -1):
            powers[i] = acc
            acc = acc * base

    def snap(data: bytes, c: int, n: int) -> int:
        # advance past UTF-8 continuation bytes so the cut lands on a
        # code-point boundary (0b10xxxxxx bytes are never a start)
        while c < n and (data[c] & 0xC0) == 0x80:
            c += 1
        return c

    def boundaries(data: bytes) -> list:
        n = len(data)
        if n <= min_size:
            return [n] if n else []
        b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
        win = np.lib.stride_tricks.sliding_window_view(b, window)
        h = (win * powers).sum(axis=1, dtype=np.uint64)
        cand = np.nonzero((h & mask) == mask)[0] + window  # cut AFTER pos
        cuts, last = [], 0
        for c in cand.tolist():
            c = snap(data, c, n)
            if c - last < min_size:
                continue
            while c - last > max_size:       # enforce max between hits
                nxt = snap(data, last + max_size, n)
                if nxt >= c:
                    break
                last = nxt
                cuts.append(last)
            if c - last >= min_size:
                cuts.append(c)
                last = c
        while n - last > max_size:
            nxt = snap(data, last + max_size, n)
            if nxt >= n:
                break
            last = nxt
            cuts.append(last)
        if not cuts or cuts[-1] != n:
            cuts.append(n)
        return cuts

    out_schema = T.StructType([
        *df.schema.fields,
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("chunk_offset", T.LongType()),
        T.StructField("chunk_text", T.StringType()),
        T.StructField("chunk_hash", T.StringType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                text = row[field]
                data = (text or "").encode("utf-8")
                prev = 0
                for idx, cut in enumerate(boundaries(data)):
                    piece = data[prev:cut]
                    rows.append((*row.tolist(), idx, prev,
                                 piece.decode("utf-8", errors="replace"),
                                 hashlib.md5(piece).hexdigest()))
                    prev = cut
            yield pd.DataFrame(rows, columns=[*pdf.columns, "chunk_idx",
                                              "chunk_offset", "chunk_text",
                                              "chunk_hash"])

    return df.mapInPandas(kernel, out_schema)


@register("collocations")
def op_collocations(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Corpus collocation mining: the top-k adjacent word pairs by
    pointwise mutual information — the phrase-discovery /
    tokenizer-vocabulary signal ("new york", "machine learning")
    computed over exact corpus counts. PMI = ln(c12·N / (c1·c2)); the
    op emits the RATIO c12·N / (c1·c2) instead of its log — ln is
    monotone, so the ranking is identical, and the ratio is pure IEEE
    multiply/divide over exact counts (bit-identical in any engine,
    no libm variance — the reason the oracle can value-check it).

    Shape: one bigram count + one unigram count aggregation (map-side
    partials), ``min_count`` prunes the bigram table BEFORE the two
    unigram joins (Zipf makes the filter massive), the N scalar rides
    a broadcast 1-row frame, and the top-k is a TakeOrdered — no
    full-result sort. Counts must satisfy c·N < 2^53 for the double
    products to stay exact (fine up to ~petatoken corpora with
    min_count pruning).

    Output: w1, w2, n_pair (long), pmi_ratio (double), ordered by
    pmi_ratio desc then (w1, w2).
    """
    field = config.get("field", "text")
    min_count = int(config.get("min_count", 5))
    k = int(config.get("k", 100))
    lower = bool(config.get("lowercase", True))
    tok_expr = tokens_col(F.lower(F.col(field)) if lower else F.col(field))

    staged = (df.select(tok_expr.alias("__toks"))
              .filter(F.size("__toks") >= 2))
    bigs = staged.select(F.explode(F.expr(
        "transform(sequence(0, size(__toks) - 2),"
        " i -> struct(__toks[i] AS w1, __toks[i + 1] AS w2))"))
        .alias("__b")).select("__b.w1", "__b.w2")
    bc = (bigs.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("n_pair"))
          .filter(F.col("n_pair") >= min_count))
    uc = (staged.select(F.explode("__toks").alias("__w"))
          .groupBy("__w").agg(F.count(F.lit(1)).alias("__c")))
    total = bigs.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    out = (bc
           .join(uc.select(F.col("__w").alias("w1"),
                           F.col("__c").alias("__c1")), "w1")
           .join(uc.select(F.col("__w").alias("w2"),
                           F.col("__c").alias("__c2")), "w2")
           .join(F.broadcast(total))
           .withColumn("pmi_ratio",
                       (F.col("n_pair").cast("double") * F.col("__n"))
                       / (F.col("__c1").cast("double") * F.col("__c2")))
           .select("w1", "w2", "n_pair", "pmi_ratio"))
    return out.orderBy(F.col("pmi_ratio").desc(), "w1", "w2").limit(k)
