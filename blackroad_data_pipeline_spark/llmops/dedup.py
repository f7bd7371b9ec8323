"""Content-level deduplication: exact, MinHash-LSH, SimHash.

Scale design: every variant is one-pass + one shuffle-on-small-keys.
Candidate generation never cross-joins the corpus — LSH bands (or
SimHash pieces) hash near-duplicates into the same bucket, the
self-join runs per-bucket, and only candidates pay the exact
verification. This is the standard web-scale pipeline (shingle →
minhash → band → bucket-join → verify) expressed as DataFrame ops.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Mapping

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.parallel import fan_out, lit_frame
from ..operators.registry import register
from .text import kgrams_col, tokens_col


# --------------------------------------------------------------------------
# exact dedup — hash-groupBy on a content fingerprint
# --------------------------------------------------------------------------


def content_key(col: Column) -> Column:
    """The exact-dedup content key of every op that compares whole
    documents (``fingerprint``, ``dedup_exact``, ``dedup_against``,
    ``corpus_diff``, the streaming ingest's fingerprint store): md5 of
    the text lowercased, trimmed and whitespace-collapsed. md5, not
    xxhash, so any engine reproduces it. NULL text keys as empty
    text (coalesce BEFORE hashing, like clean_lines): a NULL key never
    matches in an anti join (Spark keeps it, SQL's NOT IN drops it —
    engines diverge) and a NULL fingerprint in a store could never
    match a NULL-text document."""
    return F.md5(F.regexp_replace(
        F.lower(F.trim(F.coalesce(col, F.lit("")))), r"\s+", " "))


@register("dedup_exact")
def op_dedup_exact(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Keep one row per content key (the row with the smallest id —
    deterministic at any partitioning; NULL text dedups as empty
    text). One shuffle on the md5 key; partial aggregation runs
    map-side."""
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    keep = (
        df.withColumn("__fp", content_key(F.col(field)))
        .groupBy("__fp")
        .agg(F.min(id_field).alias(id_field))
        .drop("__fp")
    )
    return df.join(keep, id_field, "left_semi")


# --------------------------------------------------------------------------
# shingling + MinHash signatures (all JVM-side, codegen'd)
# --------------------------------------------------------------------------


def shingles_col(col: Column, k: int) -> Column:
    """Distinct k-token shingles of a text column. NULL text produces
    NO shingles (empty array): an absent document can never be a
    near-dup candidate and dedup always keeps it — the text twin of
    the `_drop_null_ts`/valid_vec NULL contract (round 11; before
    this, every NULL doc shared one '' shingle and the similarity
    joins paired all of them quadratically). An EMPTY-STRING document
    keeps the one-empty-shingle behavior (present-but-empty docs ARE
    exact duplicates of each other). Identical to the Arrow kernels'
    _shingle_set, so candidate generation and exact verification
    agree on null docs."""
    kg = kgrams_col(col, k)
    toks = tokens_col(F.coalesce(col, F.lit("")))
    return (F.when(col.isNull(), F.array().cast("array<string>"))
            .when(F.size(kg) > 0, F.array_distinct(kg))
            .otherwise(F.array(F.array_join(toks, " "))))


def minhash_signature(shingle_col: Column, num_hashes: int) -> Column:
    """num_hashes minhash values, JVM-side; hash family
    h_i(s) = xxhash64(s, i) (seeding via an appended literal —
    deterministic everywhere). O(num_hashes * n_shingles) hash calls
    in interpreted higher-order functions — correct but slow for large
    signatures. No operator signs with it (they all use
    minhash_text_kernel, a different family); it is the CPU-bound
    all-JVM workload of bench.py's core-scaling canary.

    The seed must be captured via a closure over a ONE-parameter
    lambda: a ``lambda s, i=i:`` default-arg would make pyspark treat
    it as a two-arg (element, index) transform lambda, silently binding
    the "seed" to the element's array position instead of the literal
    (every signature position then collapses to the same hash family).
    """
    def hashed(i: int) -> Column:
        return F.transform(shingle_col, lambda s: F.xxhash64(s, F.lit(i)))

    return F.array(*[F.array_min(hashed(i)) for i in range(num_hashes)])


def _affine_family(num_hashes: int, seed: int):
    """The shared minhash hash family: odd multipliers + offsets for
    h_i(x) = a_i*x + b_i over uint64 (natural mod-2^64 wrap)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = ((rng.randint(1, 2 ** 62, size=num_hashes).astype(np.uint64)
          << np.uint64(1)) | np.uint64(1))
    b = rng.randint(0, 2 ** 62, size=num_hashes).astype(np.uint64)
    return a, b


# Java's \s (Spark's split regex) is ASCII-only: [ \t\n\x0B\f\r].
# Python str.split() would ALSO split on Unicode whitespace (NBSP,
# U+2028, ...), silently diverging from the JVM tokenization — the
# kernels must match shingles_col exactly or candidate generation and
# exact verification disagree on such documents.
_JVM_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _shingle_set(text: str | None, k: int) -> dict:
    """Distinct k-token shingles of one document (insertion-ordered
    dict-as-set) — the single Python-side shingling definition, kept
    identical to shingles_col (including ASCII-only whitespace
    splitting). NULL text -> NO shingles (never a candidate, always
    kept — the round-11 NULL-text contract); empty string keeps its
    one empty shingle."""
    if text is None:
        return {}
    toks = [t for t in _JVM_WS.split(text) if t]
    if len(toks) >= k:
        return dict.fromkeys(" ".join(toks[i:i + k])
                             for i in range(len(toks) - k + 1))
    return {" ".join(toks): None}


def _vocab_index(shingle_iter, vocab: dict):
    """Index one doc's shingles into the batch vocab; returns the
    int64 index array. None entries hash as the empty string (the JVM
    path's null-tolerant behavior, not a crash)."""
    import numpy as np

    sh = list(shingle_iter)
    idxs = np.empty(len(sh), dtype=np.int64)
    for j, s in enumerate(sh):
        if s is None:
            s = ""
        v = vocab.get(s)
        if v is None:
            v = vocab[s] = len(vocab)
        idxs[j] = v
    return idxs


def _signatures(idx_lists, vocab: dict, a, b, num_hashes: int):
    """Per-doc minhash minima over the shared (V, H) hash matrix: md5
    each batch-unique shingle once, vectorized affine families, numpy
    gathers per doc."""
    import numpy as np

    # zero-shingle docs (NULL text) get a NULL signature: band
    # explodes skip them, so an absent document never bands, never
    # pairs, and dedup always keeps it (round-11 NULL-text contract —
    # a shared SENTINEL signature here banded every NULL doc with
    # every other and the jaccard verify divided 0/0)
    if not vocab:
        return [None] * len(idx_lists)
    digests = b"".join(hashlib.md5(s.encode()).digest()[:8] for s in vocab)
    x = np.frombuffer(digests, dtype="<u8")                # (V,)
    hashes = x[:, None] * a[None, :] + b[None, :]          # (V, H) wraps
    return [None if len(ix) == 0
            else np.ascontiguousarray(hashes[ix].min(axis=0)).view(np.int64)
            for ix in idx_lists]


def minhash_text_kernel(k: int, num_hashes: int, seed: int = 0x5EED):
    """Text -> minhash signature in ONE Arrow kernel: tokenize +
    k-shingle (_shingle_set, identical semantics to shingles_col), then
    md5 each BATCH-UNIQUE shingle once (the Zipf argument from the
    simhash kernel — digest calls dominate, vocab is far smaller than
    the shingle stream) and apply all families as one vectorized
    affine transform. Only the text strings cross the Arrow boundary,
    not the ~k-times-larger shingle arrays, and the interpreted JVM
    higher-order shingling (the measured bottleneck) is replaced by a
    tight Python loop. Deterministic across processes/partitions."""
    a, b = _affine_family(num_hashes, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        vocab: dict[str, int] = {}
        idx_lists = [_vocab_index(_shingle_set(t, k), vocab) for t in texts]
        return pd.Series(_signatures(idx_lists, vocab, a, b, num_hashes))

    return sig


def shingle_explode(df: DataFrame, id_field: str, field: str, k: int) -> DataFrame:
    """Corpus -> (``__id``, ``__n``, ``__s``) posting rows in one Arrow pass:
    tokenize + k-shingle + dedup in a tight Python loop and emit the
    exploded stream directly (with the doc's distinct-shingle count
    riding every row, so prefix filtering needs no extra aggregation).
    Shingle semantics identical to shingles_col — the interpreted JVM
    higher-order shingling is the measured bottleneck of the exact-
    jaccard paths, not the joins."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("__id", df.schema[id_field].dataType),
        T.StructField("__n", T.IntegerType()),
        T.StructField("__s", T.StringType()),
    ])

    def explode(batches):
        for pdf in batches:
            ids, ns, ss = [], [], []
            for doc_id, text in zip(pdf[id_field], pdf[field]):
                sh = list(_shingle_set(text, k))
                n = len(sh)
                ids.extend([doc_id] * n)
                ns.extend([n] * n)
                ss.extend(sh)
            yield pd.DataFrame({"__id": ids, "__n": ns, "__s": ss})

    return fan_out(df.select(id_field, field)).mapInPandas(explode, schema)


@register("minhash")
def op_minhash(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Append ``minhash_sig``: the ``num_hashes`` (default 32) minhash
    values of the distinct ``shingle_size``-token shingles (default 3)
    of ``field`` — the signatures near_dup_minhash and minhash_bands
    band, from the same Arrow kernel. NULL text gets a NULL signature;
    an empty or whitespace-only document keeps one empty shingle."""
    field = config.get("field", "text")
    k = int(config.get("shingle_size", 3))
    num_hashes = int(config.get("num_hashes", 32))
    return df.withColumn("minhash_sig",
                         minhash_text_kernel(k, num_hashes)(F.col(field)))


# --------------------------------------------------------------------------
# MinHash-LSH near-duplicate pairs
# --------------------------------------------------------------------------


def _text_side(df: DataFrame, field: str, id_field: str) -> DataFrame:
    """(__id, __t) rows of one side of a minhash join, widened by
    ``fan_out``: the signature kernel and the exact-verify shingling
    both read this frame, and one unsplittable input file would
    serialize both onto one task."""
    return fan_out(df.select(F.col(id_field).alias("__id"),
                             F.col(field).alias("__t")))


def _band_entries_col(bands: int, rows: int) -> Column:
    """(band_idx, band_hash) structs from the ``__sig`` signature
    column — one banding for every minhash op, so a stored band table
    is joinable against any freshly-signed batch. NULL signatures
    (zero-shingle / NULL-text docs) yield a NULL array so the band
    explode SKIPS them — xxhash64(NULL) would otherwise hash the bare
    seed and band every NULL doc with every other (round 11)."""
    return F.when(F.col("__sig").isNotNull(), F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.xxhash64(F.array_join(
                F.transform(F.slice("__sig", b * rows + 1, rows),
                            lambda x: x.cast("string")), ",")).alias("band_hash"),
        )
        for b in range(bands)
    ]))


def _shared(keys: DataFrame) -> DataFrame:
    """Band keys shuffled on (band_idx, band_hash), so every join that
    reads them reuses one exchange and whatever computed them runs
    once. Two things keep the branches' plans identical: the
    dropDuplicates (free on that partitioning) pins the key projection,
    where column pruning would give a branch that reads only the ids
    its own plan; and NULL ids, which pair with nothing in any join
    reading shared keys, are dropped here, where an ``isnotnull`` the
    joins infer would otherwise reach the key source under some
    branches only. Either split re-runs the kernel."""
    return (keys.filter(F.col("__id").isNotNull())
            .repartition("band_idx", "band_hash").dropDuplicates())


def _band_keys(side: DataFrame, k: int, bands: int, rows: int,
               shared: bool = True) -> DataFrame:
    """(__id, band_idx, band_hash): the ``bands`` band keys of each doc
    of a `_text_side` frame — the only place a text frame is signed.
    Keys that more than one join reads are `_shared`; keys only one
    join reads are left to it, which may broadcast them."""
    keys = (side.withColumn("__sig",
                            minhash_text_kernel(k, bands * rows)(F.col("__t")))
            .select("__id", F.explode(_band_entries_col(bands, rows)).alias("b"))
            .select("__id", "b.band_idx", "b.band_hash"))
    return _shared(keys) if shared else keys


def _text_candidates(a: DataFrame, b: DataFrame, pred: Column | None = None,
                     max_bucket: int = 0) -> DataFrame:
    """Distinct (id_a, id_b) pairs of two band-key frames that share a
    band and satisfy ``pred`` (over id_a/id_b). Only ids ride the band
    join; text attaches per unique pair in `_jaccard_verified`.

    ``max_bucket`` (0 = uncapped) drops every band bucket holding more
    than that many keys of the INDEX side ``b`` before the join: the
    join is O(|a| * |b|) per bucket, and at corpus scale a boilerplate
    bucket (thousands of identical headers/licenses) goes quadratic
    (the winnow_overlap ``max_postings`` precedent). In a self-join
    (``a is b``) that side is the whole bucket and the cap must be at
    least 2, since a pair needs two docs. The count window rides the
    join's own band-key exchange, so the cap adds no shuffle."""
    self_join = a is b
    if max_bucket < 0 or (self_join and max_bucket == 1):
        raise ValueError(f"max_bucket must be 0 (uncapped) or >= "
                         f"{2 if self_join else 1}, got {max_bucket}")
    if max_bucket:
        n = F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_hash"))
        b = b.withColumn("__bc", n).filter(F.col("__bc") <= max_bucket).drop("__bc")
        if self_join:
            a = b
    pairs = a.withColumnRenamed("__id", "id_a").join(
        b.withColumnRenamed("__id", "id_b"), ["band_idx", "band_hash"])
    if pred is not None:
        pairs = pairs.filter(pred)
    return pairs.select("id_a", "id_b").dropDuplicates()


def _jaccard_verified(pairs: DataFrame, a: DataFrame, b: DataFrame,
                      k: int, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) of each candidate pair whose exact
    shingle-set jaccard is >= ``threshold``; ``a`` and ``b`` are the
    `_text_side` frames its ids come from. A semi-join prunes each side
    to its candidate ids first, so each candidate doc is shingled once
    per side and the corpus never is — no corpus-scale persist needed
    (the text scan happens twice, but a pruned parquet scan is cheap).
    A verify-side width pin was tried and rejected (round 14): the
    small id side broadcasts, so the corpus side is never shuffled,
    and a pin added a full-corpus text exchange (1.37 -> 2.13 s)."""
    def shingled(side: DataFrame, ids: DataFrame) -> DataFrame:
        return (side.join(ids.dropDuplicates(), "__id", "left_semi")
                .select("__id", shingles_col(F.col("__t"), k).alias("__sh")))

    ids_a = pairs.select(F.col("id_a").alias("__id"))
    ids_b = pairs.select(F.col("id_b").alias("__id"))
    if a is b:
        sets_a = sets_b = shingled(a, ids_a.unionByName(ids_b))
    else:
        sets_a, sets_b = shingled(a, ids_a), shingled(b, ids_b)

    def attach(sets: DataFrame, tag: str) -> DataFrame:
        return sets.select(F.col("__id").alias(f"id_{tag}"),
                           F.col("__sh").alias(f"sh_{tag}"))

    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (pairs.join(attach(sets_a, "a"), "id_a")
            .join(attach(sets_b, "b"), "id_b")
            .withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


@register("near_dup_minhash")
def op_near_dup_minhash(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Near-duplicate PAIRS (id_a < id_b, exact jaccard >= threshold).

    banding: signature split into ``bands`` groups of ``rows`` hashes;
    docs agreeing on any whole band land in one bucket. The self-join
    shuffles on (band_idx, band_hash) — bucket-sized groups, never the
    corpus. Exact shingle-set jaccard then verifies candidates, so LSH
    recall tuning can't create false positives. Both self-join
    branches read one band-key exchange, so each doc is signed once.

    ``max_bucket`` (default 0 = uncapped, exact-parity mode; else at
    least 2) drops buckets holding more than that many docs before the
    join — docs lose at most those buckets' candidate pairs, and a doc
    dense enough to blow the cap is boilerplate by definition; route
    such corpora through dedup_exact first (see `_text_candidates`).
    """
    side = _text_side(df, config.get("field", "text"),
                      config.get("id_field", "doc_id"))
    k = int(config.get("shingle_size", 3))
    keys = _band_keys(side, k, int(config.get("bands", 8)),
                      int(config.get("rows_per_band", 4)))
    pairs = _text_candidates(keys, keys, F.col("id_a") < F.col("id_b"),
                             int(config.get("max_bucket", 0)))
    return _jaccard_verified(pairs, side, side, k,
                             float(config.get("threshold", 0.8)))


@register("dedup_near_minhash")
def op_dedup_near_minhash(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Drop every doc that has a near-duplicate with a smaller id —
    the standard one-pass policy (a greedy approximation of
    connected-component dedup that needs no iteration)."""
    id_field = config.get("id_field", "doc_id")
    pairs = op_near_dup_minhash(df, config, views)
    losers = pairs.select(F.col("id_b").alias(id_field)).dropDuplicates()
    return df.join(losers, id_field, "left_anti")


@register("connected_components")
def op_connected_components(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Connected components over an undirected edge list — iterative
    min-label propagation to a fixpoint. Input: (src, dst) pairs;
    output: (id, component) with component = min reachable id.

    This is the exact-transitive-closure step the one-pass "drop the
    larger id of each pair" dedup policy approximates: with chains
    a~b~c where a!~c, the greedy policy's survivor set depends on pair
    order, while components are well-defined.

    Each iteration: propagate labels over edges, take the min per
    node, then one POINTER-JUMPING step (component <- component's own
    label) which halves remaining path lengths — so convergence is
    O(log diameter), not O(diameter); a 1M-node chain needs ~20
    rounds, a near-dup cluster 2-3. Each iteration is ONE distributed
    job: an eager localCheckpoint materializes the new labels (and
    truncates the growing lineage, which any iterative DataFrame
    algorithm needs at scale) while an ``observe`` on the same job
    yields the changed-label count — driver-side per-iteration work
    is that single scalar, never the data.
    """
    src = config.get("src", "id_a")
    dst = config.get("dst", "id_b")
    max_iter = int(config.get("max_iter", 20))
    driver_threshold = int(config.get("driver_threshold", 2_000_000))

    edges = (df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
             .filter(F.col("a") != F.col("b")))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).dropDuplicates().persist()

    # The candidate-pair graph is normally FAR smaller than the corpus
    # (edges ≈ near-dup pairs). Below the threshold, driver union-find
    # beats ~4 distributed jobs per iteration by orders of magnitude;
    # the iterative path remains the unbounded-scale fallback.
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        rows = edges.filter(F.col("a") < F.col("b")).collect()
        for r in rows:
            ra, rb = find(r["a"]), find(r["b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {n for r in rows for n in (r["a"], r["b"])}
        out = [(n, find(n)) for n in sorted(nodes)]
        edges.unpersist()
        schema = df.select(F.col(src).alias("id"),
                           F.col(src).alias("component")).schema
        return lit_frame(df.sparkSession, out, schema)

    labels = (edges.select(F.col("a").alias("id"))
              .dropDuplicates()
              .withColumn("component", F.col("id"))
              .localCheckpoint(eager=True))

    # ONE job per iteration (round 3 — VERDICT r2 #5): the old label
    # rides the min-aggregation (tagged `own` rows), the changed-count
    # comes from an observe() on the materializing localCheckpoint
    # job, and the eager checkpoint doubles as lineage truncation.
    # The previous shape ran the label pipeline TWICE per round (once
    # for the convergence count, once re-executed by the next
    # iteration's lazy reuse) plus a separate join+count job.
    from pyspark.sql import Observation

    prev = labels
    for i in range(max_iter):
        # neighbor's current label, propagated over edges
        prop = (edges.join(labels, edges["a"] == labels["id"])
                .select(F.col("b").alias("id"), F.col("component"),
                        F.lit(False).alias("own")))
        nxt = (labels.withColumn("own", F.lit(True))
               .unionByName(prop)
               .groupBy("id")
               .agg(F.min("component").alias("component"),
                    F.min(F.when(F.col("own"), F.col("component")))
                    .alias("old_component")))
        # pointer jumping: adopt the label of my current component
        jump = nxt.select(F.col("id").alias("cid"),
                          F.col("component").alias("ccomp"))
        nxt = (nxt.join(jump, nxt["component"] == jump["cid"], "left")
               .select(nxt["id"],
                       F.coalesce(jump["ccomp"], nxt["component"]).alias("component"),
                       nxt["old_component"]))
        obs = Observation()
        nxt = (nxt.observe(obs, F.coalesce(
                   F.sum((F.col("component") != F.col("old_component"))
                         .cast("long")), F.lit(0).cast("long")).alias("changed"))
               .drop("old_component")
               .localCheckpoint(eager=True))
        prev.unpersist()  # free the superseded iteration's blocks
        prev = labels = nxt
        if obs.get["changed"] == 0:
            break
    edges.unpersist()
    # already materialized by the eager per-iteration checkpoint
    return labels


@register("dedup_near_groups")
def op_dedup_near_groups(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Exact near-dup dedup: MinHash-LSH pairs → connected components
    → keep ONE canonical doc per component. Unlike the one-pass
    policy (op_dedup_near_minhash), survivors are independent of pair
    enumeration order even across similarity chains.

    Canonical selection (``keep``):
      * ``"min_id"`` (default) — smallest id survives (the cheap,
        arbitrary-but-stable choice; what the parity oracle replays).
      * ``"best"`` — the member maximizing ``keep_by`` survives
        (``keep_order: "asc"`` flips to minimizing); ties break to
        the smaller id. This is what production dedup actually wants:
        among near-identical crawls keep the longest / highest-quality
        copy, not whichever got the smaller ingest id.

    Scale shape for ``best``: the quality column joins onto the
    component labels — a table of CLUSTER MEMBERS only (docs that
    appear in some near-dup pair), not the corpus — and the
    row_number window partitions by component (clusters are small by
    construction). The corpus itself is touched only by the final
    left-anti join on id.
    """
    id_field = config.get("id_field", "doc_id")
    keep = config.get("keep", "min_id")
    pairs = op_near_dup_minhash(df, config, views)
    comps = op_connected_components(pairs, config, views)
    if keep == "min_id":
        losers = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_field))
    elif keep == "best":
        keep_by = config["keep_by"]
        ascending = str(config.get("keep_order", "desc")) == "asc"
        qual = df.select(F.col(id_field).alias("id"),
                         F.col(keep_by).alias("__q"))
        members = comps.join(qual, "id")
        order = (F.col("__q").asc() if ascending else F.col("__q").desc())
        w = Window.partitionBy("component").orderBy(order, F.col("id").asc())
        losers = (members.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") > 1)
                  .select(F.col("id").alias(id_field)))
    else:
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    return df.join(losers, id_field, "left_anti")


# --------------------------------------------------------------------------
# SimHash — 64-bit sketch via a vectorized Pandas UDF
# --------------------------------------------------------------------------


def _simhash64(text: str) -> int:
    """64-bit Charikar simhash over whitespace tokens; md5-based token
    hash so the sketch is deterministic across processes (python's
    builtin hash() is salted per-process — never use it here).
    Bit-unpacking and the majority vote run vectorized in numpy."""
    import numpy as np

    toks = text.lower().split()
    if not toks:
        return 0
    digests = b"".join(hashlib.md5(t.encode()).digest()[:8] for t in toks)
    arr = np.frombuffer(digests, dtype=np.uint8).reshape(len(toks), 8)
    bits = np.unpackbits(arr, axis=1, bitorder="little")  # (n_toks, 64)
    # signed accumulator: a uint sum would wrap on 0*2 - n_toks
    votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(toks)  # +1/-1 majority
    out = int(np.packbits(votes > 0, bitorder="little").view("<u8")[0])
    return out - (1 << 64) if out >= (1 << 63) else out  # signed long


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    """Batch simhash: md5 each BATCH-UNIQUE token exactly once (Zipf
    makes the vocab far smaller than the token stream — the md5 calls,
    not the bit math, dominate), then per-doc majority votes are numpy
    gathers over the shared vocab bit-matrix. Semantics identical to
    :func:`_simhash64` (verified by test)."""
    import numpy as np

    toks_per_doc = [t.lower().split() for t in texts.fillna("")]
    vocab: dict[str, int] = {}
    for toks in toks_per_doc:
        for t in toks:
            if t not in vocab:
                vocab[t] = len(vocab)
    if not vocab:
        return pd.Series([0] * len(toks_per_doc), dtype="int64")
    digests = b"".join(hashlib.md5(t.encode()).digest()[:8] for t in vocab)
    arr = np.frombuffer(digests, dtype=np.uint8).reshape(len(vocab), 8)
    vocab_bits = np.unpackbits(arr, axis=1, bitorder="little").astype(np.int64)
    out = np.zeros(len(toks_per_doc), dtype=np.int64)
    for i, toks in enumerate(toks_per_doc):
        if not toks:
            continue
        idx = np.fromiter((vocab[t] for t in toks), dtype=np.int64, count=len(toks))
        votes = vocab_bits[idx].sum(axis=0) * 2 - len(toks)  # +1/-1 majority
        u = int(np.packbits(votes > 0, bitorder="little").view("<u8")[0])
        out[i] = u - (1 << 64) if u >= (1 << 63) else u
    return pd.Series(out)


# Marked nondeterministic in place, as similarity's `_pair_dot_udf` is:
# a filter Catalyst infers on the sketch then stays above the projection
# that computes it, instead of re-running the kernel below it.
simhash_udf.asNondeterministic()


@register("simhash")
def op_simhash(df: DataFrame, config: Mapping, views) -> DataFrame:
    field = config.get("field", "text")
    return fan_out(df).withColumn("simhash", simhash_udf(F.col(field)))


@register("near_dup_simhash")
def op_near_dup_simhash(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_distance.
    Candidates via the 4x16-bit piece trick (two sketches within
    hamming 3 must agree on at least one 16-bit piece), so the join
    shuffles on piece values, not the corpus."""
    # sketch, then delegate candidate generation + verification to the
    # generic 64-bit hamming backend (piece trick, shared exchange,
    # verify-before-dedup — see op_near_dup_hamming)
    docs = op_simhash(df, config, views)
    return op_near_dup_hamming(
        docs, {**config, "hash_field": "simhash"}, views)


# --------------------------------------------------------------------------
# n-gram Jaccard similarity join (exact, for candidate pairs)
# --------------------------------------------------------------------------


def _passjoin_segments(slen: Column, n: int, i: Column
                       ) -> tuple[Column, Column]:
    """Even-partition scheme shared by both join sides: a string of
    length ``slen`` splits into ``n`` segments where the FIRST
    ``n - slen % n`` have length ``slen div n`` and the rest one more.
    Returns (start, length) of 1-based segment ``i`` — both sides must
    compute the identical geometry or the equi-join misses."""
    # floor(double /) is exact here: string lengths are int-ranged,
    # far below the 2^53 misround regime the CLAUDE.md div rule guards
    base_len = F.floor(slen / n).cast("int")
    rem = (slen % n).cast("int")
    seg_len = base_len + F.when(i > n - rem, F.lit(1)).otherwise(F.lit(0))
    start = (F.lit(1) + (i - 1) * base_len
             + F.greatest(F.lit(0), i - 1 - (n - rem)))
    return start, seg_len


def _fuzzy_candidates(base: DataFrame, k: int) -> DataFrame:
    """PassJoin candidate generation (Li, Deng & Feng, ICDE 2011 —
    public literature): partition the (len, id)-larger string of each
    pair into k+1 segments; if ed(a, b) <= k then at least one segment
    is untouched by any edit (pigeonhole over k edits) and appears in
    the other string EXACTLY, shifted by at most k positions. So
    candidates are an equi-join on exact segment content + geometry
    (partner length, segment index), never on shared grams — posting
    lists stay collision-bounded even when every string shares most
    q-grams (the low-gram-diversity regime that degenerates count
    filtering). Emission is linear: each string emits k+1 segments and
    at most (k+1)^2 * (2k+1) probe substrings.

    Returns (id_a, id_b, sa, sb) with id_a < id_b, deduplicated;
    recall is exact (the pigeonhole is a theorem), so the caller's
    levenshtein verify makes the output value-exact."""
    n = k + 1
    # segment side: every string of length >= n (shorter strings can
    # only be the (len,id)-larger side of a pair whose partner is also
    # tiny — the crossJoin fallback owns those)
    i = F.col("__i")
    st, sl = _passjoin_segments(F.col("__len"), n, i)
    segs = (base.filter(F.col("__len") >= n)
            .select("__id", "__len", "__s",
                    F.explode(F.sequence(F.lit(1), F.lit(n))).alias("__i"))
            .select(F.col("__id").alias("id_g"),
                    F.col("__len").alias("len_g"),
                    F.col("__s").alias("sg"), "__i",
                    F.col("__s").substr(st, sl).alias("__key")))

    # probe side: every string emits, for each candidate PARTNER
    # length lp in [len, len+k] (the partner is the (len,id)-larger
    # side, so lp >= len) and each of the partner's k+1 segments, the
    # substrings at start positions within +-k of the partner
    # segment's start (an untouched segment shifts by at most the
    # number of net insertions/deletions before it, <= k).
    lp = F.col("__lp")
    pst, psl = _passjoin_segments(lp, n, i)
    p_lo = F.greatest(F.lit(1), pst - k)
    p_hi = F.least(F.col("__len") - psl + 1, pst + k)
    probes = (base
              .select("__id", "__len", "__s",
                      F.explode(F.sequence(
                          F.col("__len"), F.col("__len") + k)).alias("__lp"))
              .filter(lp >= n)
              .select("__id", "__len", "__s", "__lp",
                      F.explode(F.sequence(F.lit(1), F.lit(n))).alias("__i"))
              .select("__id", "__len", "__s", "__lp", "__i",
                      F.explode(F.when(
                          p_lo <= p_hi, F.sequence(p_lo, p_hi)
                      ).otherwise(F.array().cast("array<int>"))).alias("__p"))
              .select(F.col("__id").alias("id_p"),
                      F.col("__len").alias("len_p"),
                      F.col("__s").alias("sp"), "__lp", "__i",
                      F.col("__s").substr(F.col("__p"), psl).alias("__key")))

    cand = (segs.join(probes,
                      (segs["__key"] == probes["__key"])
                      & (segs["len_g"] == probes["__lp"])
                      & (segs["__i"] == probes["__i"]))
            # the segment side is the (len, id)-larger of the pair
            .filter((F.col("len_g") > F.col("len_p"))
                    | ((F.col("len_g") == F.col("len_p"))
                       & (F.col("id_g") > F.col("id_p"))))
            .select(F.least("id_g", "id_p").alias("id_a"),
                    F.greatest("id_g", "id_p").alias("id_b"),
                    F.when(F.col("id_g") < F.col("id_p"), F.col("sg"))
                     .otherwise(F.col("sp")).alias("sa"),
                    F.when(F.col("id_g") < F.col("id_p"), F.col("sp"))
                     .otherwise(F.col("sg")).alias("sb"))
            .dropDuplicates(["id_a", "id_b"]))
    return cand


@register("fuzzy_join")
def op_fuzzy_join(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Edit-distance self-join for record linkage: pairs (id_a <
    id_b) with ``levenshtein(a, b) <= max_distance`` over a short
    string field (names, titles, codes — NOT documents; use the
    jaccard/minhash family for long text).

    Scale path is PassJoin partition filtering (Li, Deng & Feng,
    ICDE 2011 — public literature; see ``_fuzzy_candidates``): the
    (len, id)-larger string of a pair splits into k+1 segments, and
    edit distance <= k guarantees one segment appears EXACTLY in the
    partner within a +-k position window (pigeonhole), so candidates
    come from an equi-join on exact ~len/(k+1)-char substring content
    — bounded by genuine content collisions, not by shared q-grams.
    This replaced q-gram count filtering (round 11): count filtering
    needs gram DIVERSITY and approached all-pairs on formulaic or
    low-vocabulary corpora, while exact segment collisions stay rare
    there. Only candidates pay the exact JVM ``levenshtein`` verify;
    recall is a theorem, which is what lets DuckDB recompute the
    output value-for-value.

    Caveat stated plainly: groups of IDENTICAL strings still produce
    quadratic candidates — but those pairs are all true output rows
    (distance 0), so that is the contract of a pair join, not a plan
    defect. ``q`` is accepted for config compatibility (the q-gram
    era tuning knob); output semantics never depended on it.
    """
    field = config.get("field", "name")
    id_field = config.get("id_field", "doc_id")
    k = int(config.get("max_distance", 1))
    s = F.coalesce(F.col(field).cast("string"), F.lit(""))
    base = df.select(F.col(id_field).alias("__id"), s.alias("__s"),
                     F.length(s).alias("__len"))

    out = (_fuzzy_candidates(base, k)
           .withColumn("distance", F.levenshtein("sa", "sb"))
           .filter(F.col("distance") <= k)
           .select("id_a", "id_b", "distance"))

    # TINY-string fallback: both strings shorter than k+1 chars means
    # the (len,id)-larger side has no k+1 non-empty segments — compare
    # those few all-pairs directly. Identical-tiny-string groups make
    # the OUTPUT quadratic in the group size; that is the contract of
    # a pair join, not a plan defect.
    tiny = base.filter(F.col("__len") <= k)
    tiny_pairs = (
        tiny.select(F.col("__id").alias("id_a"), F.col("__s").alias("sa"),
                    F.col("__len").alias("len_a"))
        .crossJoin(tiny.select(F.col("__id").alias("id_b"),
                               F.col("__s").alias("sb"),
                               F.col("__len").alias("len_b")))
        .filter((F.col("id_a") < F.col("id_b"))
                & (F.abs(F.col("len_a") - F.col("len_b")) <= k))
        .withColumn("distance", F.levenshtein("sa", "sb"))
        .filter(F.col("distance") <= k)
        .select("id_a", "id_b", "distance"))
    return out.unionByName(tiny_pairs).dropDuplicates(["id_a", "id_b"])


@register("ngram_jaccard_join")
def op_ngram_jaccard_join(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Exact n-gram-set jaccard similarity join with PREFIX FILTERING
    (AllPairs/PPJoin): order each doc's shingles rarest-first by
    global document frequency and index only the first
    n - ceil(t*n) + 1 — two sets with jaccard >= t MUST share a
    prefix shingle, so candidates come from rare-token posting lists
    instead of a full inverted-index self-join. On low-entropy
    corpora (the worst case for a plain inverted index, where common
    shingles give quadratic posting lists) this prunes candidates by
    orders of magnitude. Exact jaccard then verifies every candidate.
    """
    from pyspark.sql import Window

    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    k = int(config.get("shingle_size", 3))
    threshold = float(config.get("threshold", 0.5))

    base = fan_out(
        df.select(F.col(id_field).alias("__id"), F.col(field).alias("__t")))
    # one Arrow pass corpus -> posting rows, immediately repartitioned
    # on the shingle key: the freq aggregation AND the freq join both
    # hang off that single exchange, so the kernel runs once and the
    # groupBy needs no further shuffle. As in `_shared`, two things keep
    # both branches on that one exchange: the dropDuplicates (free on
    # that partitioning; a doc's shingles are distinct) pins the
    # projection, which the aggregation would prune to the shingle
    # column, and NULL ids, which pair with nothing, are dropped here,
    # where the isnotnull the prefix joins infer would otherwise reach
    # the postings under one branch only
    inverted = (shingle_explode(base, "__id", "__t", k)
                .filter(F.col("__id").isNotNull())
                .repartition("__s").dropDuplicates())
    freq = inverted.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    prefix_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    prefix = (
        inverted.join(freq, "__s")
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy("__id").orderBy("__df", "__s")))
        .filter(F.col("__rn") <= prefix_len)
        .select("__id", "__s")
    )
    # repartition on the shingle key: both posting-list self-join
    # branches share one exchange — and one run of the freq-join +
    # row_number prefix computation (see near_dup_minhash)
    prefix = prefix.repartition("__s")
    cands = (
        prefix.select(F.col("__id").alias("id_a"), "__s")
        .join(prefix.select(F.col("__id").alias("id_b"), "__s"), "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verification shingles ONLY the candidate docs (semi-join
    # prune) — no corpus-scale persist anywhere (see near_dup_minhash)
    cand_ids = (cands.select(F.col("id_a").alias("__id"))
                .unionByName(cands.select(F.col("id_b").alias("__id")))
                .dropDuplicates(["__id"]))
    sets = (base.join(cand_ids, "__id", "left_semi")
            .select("__id", shingles_col(F.col("__t"), k).alias("__sh")))
    return (
        cands
        .join(sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
        .withColumn("jaccard",
                    F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                    / F.size(F.array_union("sh_a", "sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# benchmark decontamination — n-gram containment against a held-out set
# --------------------------------------------------------------------------


@register("contamination_join")
def op_contamination_join(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Flag training docs sharing >= min_shared distinct k-gram
    shingles with any benchmark doc — the eval-decontamination step of
    a training pipeline (absolute containment, not jaccard: a 50-token
    eval question buried in a 10k-token page is contamination even
    though the jaccard is tiny).

    Inverted-index join on shingles: posting lists, never doc x doc.
    The benchmark side is small by nature (eval sets), so it
    broadcasts by default — the corpus-side shingle explosion then
    joins map-side with NO shuffle of the training corpus; count
    aggregation is map-side partial. Set ``broadcast: false`` for a
    benchmark too large to broadcast (falls back to a shuffled join).
    ``benchmark`` is a view name or a DataFrame.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    k = int(config.get("shingle_size", 3))
    min_shared = int(config.get("min_shared", 5))
    bench = config["benchmark"]
    if isinstance(bench, str):
        bench = views[bench]
    b_field = config.get("benchmark_field", field)
    b_id = config.get("benchmark_id_field", id_field)
    # corpus side shingles via the Arrow kernel (interpreted JVM
    # shingling is the measured bottleneck); the small benchmark side
    # can use either — kernel keeps the semantics visibly identical
    train = (shingle_explode(
        df.select(F.col(id_field).alias("doc_id"), F.col(field).alias("__t")),
        "doc_id", "__t", k)
        .select(F.col("__id").alias("doc_id"), "__s"))
    ref = (shingle_explode(
        bench.select(F.col(b_id).alias("bench_id"), F.col(b_field).alias("__t")),
        "bench_id", "__t", k)
        .select(F.col("__id").alias("bench_id"), "__s"))
    if config.get("broadcast", True):
        ref = F.broadcast(ref)
    return (
        train.join(ref, "__s")
        # shingles are distinct within each doc (shingles_col), so
        # count(*) == distinct shared shingles
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


@register("dedup_against")
def op_dedup_against(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Incremental corpus dedup: drop rows whose content key
    (``content_key``) already exists in a HISTORY table — the "don't
    re-ingest what the corpus already holds" step of a continuously
    crawling training pipeline. The reference has no incremental
    notion at all (its run_pipeline re-reads everything,
    main.py:437-442); this is the Spark-native replacement.

    Shape: key both sides with ``content_key`` and LEFT ANTI join on
    the key. An anti join is the cheapest possible contract at scale —
    it shuffles only the two fingerprint columns (narrow projection on
    the history side), streams map-side under AQE when the history
    fingerprint set is broadcastable, and never materializes matches.
    History can be a raw corpus (``history_field``, fingerprinted on
    the fly) or a precomputed fingerprint store
    (``history_is_fingerprint: true`` — the 100 TB path: keep a narrow
    md5 table instead of re-reading old text). Optionally also dedups
    WITHIN the batch (``within_batch``, default true) so the output is
    ingestible as-is.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    history = config["history"]
    if isinstance(history, str):
        history = views[history]

    if config.get("history_is_fingerprint"):
        h_fp = history.select(
            F.col(config.get("history_field", "fp")).alias("__fp"))
    else:
        h_field = config.get("history_field", field)
        h_fp = history.select(content_key(F.col(h_field)).alias("__fp"))
    out = df.withColumn("__fp", content_key(F.col(field)))
    if config.get("broadcast"):
        h_fp = F.broadcast(h_fp)
    out = out.join(h_fp, "__fp", "left_anti")
    if config.get("within_batch", True):
        keep = (out.groupBy("__fp").agg(F.min(id_field).alias(id_field))
                .drop("__fp"))
        out = out.join(keep, id_field, "left_semi")
    return out.drop("__fp")


@register("dup_span_stats")
def op_dup_span_stats(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Cross-document duplicated-span detection — the exact-substring
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), re-expressed as a bucketed
    DataFrame pipeline instead of a suffix array. The reference has no
    substring-level notion at all (its dedup is whole-row,
    main.py:262-270).

    A document's ``span``-token windows are hashed positionally; a
    window is *duplicated* when its hash occurs in >= ``min_docs``
    distinct documents. Per document the operator reports how much of
    it is covered by duplicated windows:

    - ``n_tokens`` / ``n_windows``  document size
    - ``dup_windows``               windows whose hash is corpus-duplicated
    - ``dup_tokens``                distinct token positions covered by
                                    any duplicated window
    - ``dup_token_fraction``        dup_tokens / n_tokens (0.0 when empty)

    ``mode: "filter"`` keeps only documents with dup_token_fraction
    <= ``max_fraction`` (default 0.5) — the "drop boilerplate-heavy
    docs" gate; default ``"annotate"`` returns the per-doc stats
    joined onto the input.

    ``mode: "remove"`` performs the actual Lee-et-al removal: tokens
    covered by a duplicated window are cut from every document EXCEPT
    the canonical copy (the minimum id owning that window hash — so
    each duplicated passage survives exactly once in the corpus), and
    the text reassembles space-joined (original inter-token
    whitespace is not preserved; run before any layout-sensitive
    step). Removal rebuilds only documents that LOST tokens; the
    untouched majority streams through a left join.

    Scale shape: ONE shuffle keyed on the window hash builds the
    global duplicate set (count-distinct-docs with map-side partial
    aggregation over md5 keys — never the window text); the join back
    is a left_semi on the same key so only *duplicated* windows flow
    into the coverage explode (duplicated mass is the small fraction
    of a real corpus, so the xspan position explode multiplies a
    minority). No all-pairs, no suffix-array driver state; equivalent
    recall to a suffix array at window granularity.
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    span = int(config.get("span", 20))
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    min_docs = int(config.get("min_docs", 2))
    mode = config.get("mode", "annotate")
    if mode not in ("annotate", "filter", "remove"):
        raise ValueError(
            f"dup_span_stats mode must be annotate|filter|remove, got {mode!r}")

    from .text import kgrams_from_tokens, tokens_col

    col = F.coalesce(F.col(field), F.lit(""))
    staged = df.select(F.col(id_field), tokens_col(col).alias("__toks"))
    # positional windows: (id, pos, md5(window)); md5 keeps the
    # shuffled key narrow and engine-portable
    windows = staged.select(
        F.col(id_field),
        F.size("__toks").alias("n_tokens"),
        F.posexplode_outer(
            kgrams_from_tokens(F.col("__toks"), span)
        ).alias("__pos", "__w"),
    ).withColumn("__h", F.md5("__w")).drop("__w")
    # one exchange on __h serves all three consumers (duplicate-set
    # aggregation, the semi join probe side, and the per-doc rollup's
    # upstream): without it each branch would re-run the tokenize +
    # window explode from the scan (the measured 3.6x trap — see
    # near_dup_minhash)
    windows = windows.repartition(F.col("__h"))
    # global duplicate-hash set: one narrow shuffle on __h
    dup_hashes = (
        windows.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count_distinct(id_field).alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select("__h")
    )
    if mode == "remove":
        # canonical owner per duplicated hash: the minimum id — that
        # copy survives, every other occurrence is cut
        dup_min = (
            windows.filter(F.col("__h").isNotNull())
            .groupBy("__h")
            .agg(F.count_distinct(id_field).alias("__docs"),
                 F.min(id_field).alias("__keeper"))
            .filter(F.col("__docs") >= min_docs)
            .select("__h", "__keeper"))
        # positions to cut: non-canonical occurrences only
        rem_pos = (
            windows.join(dup_min, "__h")
            .filter(F.col(id_field) != F.col("__keeper"))
            .select(id_field,
                    F.explode(F.sequence(
                        F.col("__pos"),
                        F.col("__pos") + F.lit(span - 1))).alias("__pos")))
        touched = rem_pos.select(id_field).dropDuplicates()
        # rebuild ONLY touched documents: positional anti join drops
        # the cut tokens, order restores via array_sort on (pos, tok)
        toks_pos = (
            staged.join(touched, id_field, "left_semi")
            .select(F.col(id_field),
                    F.posexplode("__toks").alias("__pos", "__tok")))
        kept_text = (
            toks_pos.join(rem_pos, [id_field, "__pos"], "left_anti")
            .groupBy(id_field)
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                    lambda x: x["__tok"]), " ").alias("__rebuilt")))
        rebuilt = (
            touched.join(kept_text, id_field, "left")
            # fully-cut documents rebuild to the empty string
            .withColumn("__rebuilt", F.coalesce("__rebuilt", F.lit(""))))
        return (
            df.join(rebuilt, id_field, "left")
            .withColumn(field, F.coalesce("__rebuilt", F.col(field)))
            .drop("__rebuilt"))

    dup_windows = windows.join(dup_hashes, "__h", "left_semi")
    # distinct covered positions: explode [pos, pos+span) of the
    # duplicated minority only
    covered = dup_windows.select(
        id_field,
        F.explode(F.sequence(
            F.col("__pos"), F.col("__pos") + F.lit(span - 1))).alias("__cp"),
    )
    per_doc = (
        windows.groupBy(id_field)
        .agg(F.max("n_tokens").alias("n_tokens"),
             F.count("__pos").alias("n_windows"))
        .join(dup_windows.groupBy(id_field)
              .agg(F.count(F.lit(1)).alias("dup_windows")), id_field, "left")
        .join(covered.groupBy(id_field)
              .agg(F.count_distinct("__cp").alias("dup_tokens")),
              id_field, "left")
        .withColumns({
            "dup_windows": F.coalesce("dup_windows", F.lit(0)),
            "dup_tokens": F.coalesce("dup_tokens", F.lit(0)),
        })
    )
    per_doc = per_doc.withColumn(
        "dup_token_fraction",
        F.when(F.col("n_tokens") > 0,
               F.col("dup_tokens").cast("double") / F.col("n_tokens"))
        .otherwise(F.lit(0.0)))
    if mode == "filter":
        keep = per_doc.filter(
            F.col("dup_token_fraction") <= float(config.get("max_fraction", 0.5))
        ).select(id_field)
        return df.join(keep, id_field, "left_semi")
    return df.join(per_doc, id_field, "left")


@register("near_dup_hamming")
def op_near_dup_hamming(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Near-dup pairs by hamming distance over ANY 64-bit sketch
    column (``hash_field``) — the generic backend behind
    near_dup_simhash, and the image-dedup step over
    ``phash_image``'s output. Candidates via the pigeonhole piece
    trick: with ``pieces`` equal slices of the 64-bit word (default
    4x16), two sketches within hamming distance pieces-1 must agree
    on at least one slice, so the self-join shuffles on slice values,
    never all pairs. Exact bit_count verification runs BEFORE the
    pair-dedup shuffle.

    ``max_distance`` beyond pieces-1 lowers recall (documented
    tradeoff — raise ``pieces`` to widen the guarantee: 8 pieces
    guarantee distance <= 7).
    """
    id_field = config.get("id_field", "doc_id")
    hash_field = config.get("hash_field", "simhash")
    max_distance = int(config.get("max_distance", 3))
    n_pieces = int(config.get("pieces", 4))
    # lower bound 2: pieces=1 would make the mask literal (1<<64)-1
    # overflow LongType at runtime, and a single piece carries no
    # pigeonhole guarantee anyway (distance <= 0) — ADVICE r3
    if n_pieces < 2 or 64 % n_pieces:
        raise ValueError(
            f"pieces must divide 64 and be >= 2, got {n_pieces}")
    width = 64 // n_pieces
    mask = (1 << width) - 1
    docs = df.select(F.col(id_field).alias("__id"),
                     F.col(hash_field).alias("__sk"))
    pieces = F.array(*[
        F.struct(F.lit(p).alias("piece_idx"),
                 F.shiftrightunsigned("__sk", p * width)
                 .bitwiseAND(F.lit(mask)).alias("piece_val"))
        for p in range(n_pieces)
    ])
    # one exchange on the piece key serves both self-join branches
    b = (docs.select("__id", "__sk", F.explode(pieces).alias("p"))
         .repartition("p"))
    left = b.select(F.col("__id").alias("id_a"),
                    F.col("__sk").alias("sk_a"), "p")
    right = b.select(F.col("__id").alias("id_b"),
                     F.col("__sk").alias("sk_b"), "p")
    return (
        left.join(right, ["p"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming",
                    F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b"))))
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


@register("minhash_bands")
def op_minhash_bands(df: DataFrame, config: Mapping, views) -> DataFrame:
    """The NARROW minhash band store for a corpus: one (id, band_idx,
    band_hash) row per band per document. Written once per corpus
    generation (a few narrow longs per doc instead of the text),
    this is what incremental near-dup joins new batches against at
    100 TB — `dedup_near_against` with ``history_is_bands`` never
    re-reads or re-signs history text."""
    id_field = config.get("id_field", "doc_id")
    side = _text_side(df, config.get("field", "text"), id_field)
    keys = _band_keys(side, int(config.get("shingle_size", 3)),
                      int(config.get("bands", 8)),
                      int(config.get("rows_per_band", 4)), shared=False)
    return keys.select(F.col("__id").alias(id_field), "band_idx", "band_hash")


@register("dedup_near_against")
def op_dedup_near_against(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Incremental NEAR-dup corpus dedup: drop batch rows that are
    near-duplicates of a HISTORY corpus — the continuous-crawl
    companion to ``dedup_against``'s exact fingerprints, and the
    reason a crawler doesn't re-ingest yesterday's article under a
    new doc_id with one word changed.

    Candidates come from a band join between the batch's freshly-
    computed minhash bands and the history's — where history is
    either a raw corpus (``history_field``, signed on the fly) or a
    precomputed ``minhash_bands`` store (``history_is_bands: true``;
    the 100 TB path — the join touches a few narrow longs per
    history doc, never its text). With raw history, candidates are
    verified by EXACT shingle-set jaccard >= ``threshold`` on the
    semi-join-pruned pair set (LSH tuning can only lose recall,
    never create false drops), and each side is signed once however
    many verify branches read its keys; with a band store there is
    no text to verify against, so band agreement itself decides —
    size bands/rows_per_band for the precision the corpus needs.

    ``batch_bands`` (round 14): a PRECOMPUTED band table for the
    batch side — the incremental-ingest pattern just WROTE the day's
    minhash_bands store, and re-signing the batch here would run the
    signature kernel a second time over the same documents. It must
    cover every batch doc id; extra ids are harmless, because the
    final anti-join only drops batch ids. Bands are a per-doc
    deterministic function, so a table computed from any superset of
    the batch (same config) is exactly equal on the batch ids.

    ``max_bucket`` (default 0 = uncapped) drops band buckets holding
    more than that many HISTORY docs, the unbounded side: a
    boilerplate bucket with H history docs multiplies every matching
    batch doc by H (see `_text_candidates`).
    """
    field = config.get("field", "text")
    id_field = config.get("id_field", "doc_id")
    h_id = config.get("history_id_field", id_field)
    k = int(config.get("shingle_size", 3))
    bands = int(config.get("bands", 8))
    rows = int(config.get("rows_per_band", 4))
    verify = not config.get("history_is_bands")
    history = config["history"]
    if isinstance(history, str):
        history = views[history]
    bb = config.get("batch_bands")
    if isinstance(bb, str):
        bb = views[bb]

    # raw-history verification reads the candidate pairs from three
    # branches, so both key frames are shared; a band store's pairs
    # feed the final anti-join only
    def keys(side: DataFrame | None, stored: DataFrame | None,
             stored_id: str) -> DataFrame:
        if stored is None:
            return _band_keys(side, k, bands, rows, shared=verify)
        got = stored.select(F.col(stored_id).alias("__id"),
                            "band_idx", "band_hash")
        return _shared(got) if verify else got

    batch = _text_side(df, field, id_field) if verify or bb is None else None
    hist = (_text_side(history, config.get("history_field", field), h_id)
            if verify else None)
    pairs = _text_candidates(keys(batch, bb, id_field),
                             keys(hist, None if verify else history, h_id),
                             max_bucket=int(config.get("max_bucket", 0)))
    if verify:
        pairs = _jaccard_verified(pairs, batch, hist, k,
                                  float(config.get("threshold", 0.8)))
    losers = pairs.select(F.col("id_a").alias(id_field)).dropDuplicates()
    return df.join(losers, id_field, "left_anti")


@register("pagerank")
def op_pagerank(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Fixed-iteration PageRank over an edge list — the link-graph
    quality prior of web-corpus curation (CommonCrawl-style harmonic/
    pagerank URL scoring) and the second iterative-algorithm family
    beyond connected_components.

    EXACT INTEGER ARITHMETIC throughout: ranks live as scaled longs
    (``scale`` units = rank 1.0, default 10^12) and every update is
    integer division —

        contrib(e)   = r_src // outdeg(src)
        r'(v)        = (3*scale) // (20*N)  +  (17 * Σ contrib) // 20

    (damping fixed at 0.85 = 17/20). No float ever enters the
    pipeline, so the result is bit-identical at any partitioning and
    in any engine — the DuckDB oracle replays the same recurrence as
    chained CTEs. Truncation bleeds ~1 unit per division: at
    scale=10^12 that is a 1e-12 relative bias, far below ranking
    noise.

    Dangling mass (sink nodes) is DROPPED by default, the common
    simplification. ``dangling_redistribution: true`` opts into the
    standard formulation: each iteration the summed rank of zero-
    outdegree nodes is redistributed uniformly —

        r'(v) = base + (17 * (Σ contrib + D div N)) div 20,
        D = Σ_{outdeg(u)=0} r(u)

    — still integer-exact and partition-invariant, because D is a
    single global scalar (one bounded 1-row collect per iteration,
    riding the same action cadence as the per-iteration checkpoint).

    Scale shape: per iteration ONE join edges->ranks (shuffle on the
    edge src; outdeg rides the same key) and one dst-keyed partial
    aggregation; ranks localCheckpoint each round (lineage bound),
    final result checkpointed via the same discipline as
    connected_components. ``max_iter`` default 10.
    """
    src_f = config.get("src_field", "src")
    dst_f = config.get("dst_field", "dst")
    iters = int(config.get("max_iter", 10))
    scale = int(config.get("scale", 10 ** 12))
    edges = (df.select(F.col(src_f).cast("long").alias("src"),
                       F.col(dst_f).cast("long").alias("dst"))
             .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
             .dropDuplicates(["src", "dst"])
             # materialize ONCE (round 13): every iteration's contrib
             # join re-reads edges — without this the upstream edge
             # derivation (often a full fact-table join) re-executes
             # max_iter times (measured: the lineitem×orders edge build
             # ran 3× inside the 3-iteration contract query)
             .localCheckpoint(eager=True))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .dropDuplicates(["node"])
             .localCheckpoint(eager=True))
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("long"))
    # one narrow row per distinct src — materialized once for the same
    # reason (it is joined every iteration)
    outdeg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
              .localCheckpoint(eager=True))
    base = (3 * scale) // (20 * n)
    dangling = bool(config.get("dangling_redistribution", False))
    if dangling:
        dang_nodes = (nodes.join(
            outdeg.select(F.col("src").alias("node")), "node", "left_anti")
            .localCheckpoint(eager=True))
    ranks = nodes.withColumn("rank_scaled", F.lit(scale // n).cast("long"))
    for _ in range(iters):
        share = 0
        if dangling:
            d_mass = (ranks.join(dang_nodes, "node", "left_semi")
                      .agg(F.sum("rank_scaled")).first()[0])
            share = (d_mass or 0) // n
        contribs = (edges
                    .join(ranks.withColumnRenamed("node", "src"), "src")
                    .join(outdeg, "src")
                    .select(F.col("dst").alias("node"),
                            # exact integral division (SQL `div`) — a
                            # double `/` + cast could round up across
                            # an integer boundary at 2^52-scale ranks
                            F.expr("rank_scaled div __od").alias("__c")))
        sums = contribs.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = (nodes.join(sums, "node", "left")
                 .select("node",
                         F.expr(f"CAST({base} + (17 * (coalesce(__s, 0) "
                                f"+ {share})) div 20 AS BIGINT)")
                         .alias("rank_scaled"))
                 .localCheckpoint(eager=True))
    return ranks


@register("triangle_count")
def op_triangle_count(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Exact triangle count over an undirected edge list — the
    clustering/community-density companion to connected_components
    and pagerank (graph-side corpus diagnostics: link-farm detection,
    co-occurrence density).

    Scale shape is the standard DEGREE-ORDERED orientation: each
    canonical edge points from its lower-(degree, id) endpoint to the
    higher one, which bounds every node's out-degree by O(sqrt(m)) —
    so the wedge self-join (the quadratic hazard on power-law graphs:
    a celebrity node's neighborhood would otherwise pair-explode) is
    capped at m^1.5 total wedges regardless of skew. Each triangle
    appears as exactly ONE wedge (at its smallest-ordered vertex)
    plus one closing-edge semi-join probe.

    Config: ``src_field``/``dst_field`` (default src/dst),
    ``per_node: true`` returns (node, n_triangles) for every node on
    at least one triangle instead of the global 1-row count.
    """
    src_f = config.get("src_field", "src")
    dst_f = config.get("dst_field", "dst")
    edges = (df.select(F.col(src_f).cast("long").alias("a"),
                       F.col(dst_f).cast("long").alias("b"))
             .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                     & (F.col("a") != F.col("b")))
             .select(F.least("a", "b").alias("a"),
                     F.greatest("a", "b").alias("b"))
             .dropDuplicates(["a", "b"]))
    deg = (edges.select(F.col("a").alias("node"))
           .unionAll(edges.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("__d")))
    with_deg = (edges
                .join(deg.select(F.col("node").alias("a"),
                                 F.col("__d").alias("__da")), "a")
                .join(deg.select(F.col("node").alias("b"),
                                 F.col("__d").alias("__db")), "b"))
    ka = F.struct(F.col("__da").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("__db").alias("d"), F.col("b").alias("n"))
    oriented = with_deg.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ka < kb, kb).otherwise(ka).alias("__kv"),
    ).localCheckpoint(eager=True)  # consumed by three join branches
    if config.get("per_node"):
        # wedge enumeration (needed: per-node credit must name all
        # three corners). Wedges at u pair its out-neighbors; the
        # closing-edge semi-join keeps real triangles.
        e1 = oriented.select("u", F.col("v").alias("v1"),
                             F.col("__kv").alias("__k1"))
        e2 = oriented.select("u", F.col("v").alias("v2"),
                             F.col("__kv").alias("__k2"))
        wedges = (e1.join(e2, "u")
                  .filter(F.col("__k1") < F.col("__k2"))
                  .select("u", "v1", "v2"))
        closing = oriented.select(F.col("u").alias("v1"),
                                  F.col("v").alias("v2"))
        tris = wedges.join(closing, ["v1", "v2"], "left_semi")
        nodes = (tris.select(F.col("u").alias("node"))
                 .unionAll(tris.select(F.col("v1").alias("node")))
                 .unionAll(tris.select(F.col("v2").alias("node"))))
        return nodes.groupBy("node").agg(
            F.count(F.lit(1)).alias("n_triangles"))
    # global count: compact-forward — per-edge sorted-neighbor-array
    # intersection instead of wedge materialization. Triangle
    # {x<y<z in degree order} is counted exactly once, at edge (x,y)
    # (z sits in both out-neighborhoods). Adjacency arrays are
    # bounded by the orientation's sqrt(2m) out-degree cap, so rows
    # stay small and NO wedge stream ever shuffles — the win on
    # dense graphs (measured ~2x on the co-purchase contract).
    # The stages keep the session's shuffle width: an explicit
    # repartition to defaultParallelism on u and v measured no faster
    # (bench.py triangles, sf0.1, 4 cores, 10 alternating process
    # pairs: median 5.91 s with it, 5.51 s without).
    adj = oriented.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("__nbrs"))
    per_edge = (
        oriented.select("u", "v")
        .join(adj.select(F.col("u").alias("u"),
                         F.col("__nbrs").alias("__na")), "u")
        .join(adj.select(F.col("u").alias("v"),
                         F.col("__nbrs").alias("__nb")), "v")
        .select(F.size(F.array_intersect("__na", "__nb")).alias("__t")))
    return per_edge.agg(
        F.coalesce(F.sum("__t"), F.lit(0)).cast("long")
        .alias("n_triangles"))
