"""Text analysis ops: token counting, quality scoring, language ID,
document fingerprinting.

Scale design: every op here — token/quality/langid/fingerprinting — is a
pure Column expression (whole-stage codegen, zero Python in the row path).
Everything is deterministic —
no wall clock, no unseeded randomness — so results are reproducible across
runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# token counting


def token_count(text: Column) -> Column:
    """Whitespace token count (JVM-side)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpeish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: alpha runs + digit runs + punctuation singles,
    via one vectorized regexp scan (regexp_count stays in codegen). For
    exact, vocab-driven counts see :func:`bpe_token_counts`."""
    return F.coalesce(F.regexp_count(text, F.lit(BPE_ISH_RE)), F.lit(0))


# ---------------------------------------------------------------------------
# real BPE: vocab-driven merge tokenization (VERDICT r6 #6)


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classical byte-pair-encoding of ONE word: start from characters,
    repeatedly merge ALL adjacent occurrences of the lowest-ranked pair
    until no pair is in ``ranks`` — the standard greedy loop (same merge
    policy as GPT-2's ``bpe()``; pure function, the distributed kernels
    and the pytest reference twin both call it)."""
    syms = list(word)
    while len(syms) > 1:
        best = None
        best_rank = None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = pair, r
        if best is None:
            return syms
        first, second = best
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == first and syms[i + 1] == second:
                out.append(first + second)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _bpe_batch_kernel(merges: list[tuple[str, str]], want_tokens: bool):
    """Shared Arrow-batch kernel: texts -> per-doc token count (int64) or
    token array. Whitespace pre-tokenization (Python ``str.split``); each
    DISTINCT word in the batch is encoded once and cached across batches
    (word vocabularies are dictionary-scale while corpora are corpus-scale
    — the same two-stage discipline as the surface-digest encoding), so
    the per-word Python loop runs at vocabulary frequency, not row
    frequency. The merges list rides the UDF closure — broadcast once per
    executor with the serialized function, exactly like the mention
    vocab."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    # capped insert-only cache (ADVICE r7 #4): same discipline as the
    # fused_extractor text cache — a high-vocabulary corpus (hashes, URLs
    # split as 'words') must not grow executor Python memory without bound
    # over a long job; past the cap, fresh words are encoded per call but
    # not retained.
    cache: dict[str, list[str]] = {}
    cache_cap = 1 << 18

    def encode(word: str) -> list[str]:
        got = cache.get(word)
        if got is None:
            got = bpe_encode_word(word, ranks)
            if len(cache) < cache_cap:
                cache[word] = got
        return got

    # NB: no type hints on the kernels — this module uses
    # ``from __future__ import annotations`` and PySpark cannot resolve the
    # stringified 'pd.Series' hints for a locally-imported pandas; the udf
    # type is declared explicitly at the F.pandas_udf call sites instead.
    if want_tokens:

        def kernel(texts):
            return texts.map(
                lambda t: None
                if t is None
                else [tok for w in t.split() for tok in encode(w)],
                na_action=None,
            )

    else:

        def kernel(texts):
            return texts.map(
                lambda t: 0
                if t is None
                else sum(len(encode(w)) for w in t.split()),
                na_action=None,
            ).astype("int64")

    return kernel


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """Exact token counts under a real BPE merge table — the number a
    training-data pipeline budgets by (``bpeish_token_count`` is only a
    proxy). Adds ``out_col`` (long; null text counts 0). Feed the result
    to :func:`pack_sequences` / :func:`chunk_documents` via their
    ``token_col`` hooks to pack by true tokenizer length.

    Oracle note: a SINGLE merge ("a","b") with a!=b has the closed form
    ``non_ws_chars - occurrences("ab")`` (merging all non-overlapping
    occurrences in one pass), which DuckDB expresses with length/replace —
    the driver-gated oracle uses that; multi-merge chains are iterative
    and deliberately pinned by the pytest reference twin instead."""
    kernel = F.pandas_udf(_bpe_batch_kernel(merges, want_tokens=False), "long")
    return df.withColumn(out_col, kernel(F.col(text_col)))


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Full BPE token sequences (``array<string>``; null text -> null).
    Same kernel/caching as :func:`bpe_token_counts`."""
    kernel = F.pandas_udf(
        _bpe_batch_kernel(merges, want_tokens=True), "array<string>"
    )
    return df.withColumn(out_col, kernel(F.col(text_col)))


# ---------------------------------------------------------------------------
# quality scoring

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds deterministic quality-feature columns:

    n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
    quality_score (a fixed linear blend in [0,1]).
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.coalesce(F.regexp_count(t, F.lit(r"[^\w\s]")), F.lit(0))
    toks = F.split(F.trim(t), r"\s+")
    # ONE fold over the tokens (r8, guide §1.2): the former per-stopword
    # ``size(filter(toks, ...))`` instantiated the split expression once per
    # stopword, re-tokenizing the document |STOPWORDS| times per row.
    # array_contains against a literal list gives the identical integer
    # count in a single pass.
    stop_lit = F.lit(sorted(STOPWORDS))
    n_stop = F.aggregate(
        toks,
        F.lit(0),
        lambda s, tok: s + F.when(F.array_contains(stop_lit, tok), 1).otherwise(0),
    )

    out = df.withColumn("n_chars", n_chars).withColumn("n_tokens", n_tokens)
    out = out.withColumn(
        "avg_token_len",
        F.when(F.col("n_tokens") > 0, (F.col("n_chars") + 1 - F.col("n_tokens")) / F.col("n_tokens")).otherwise(
            F.lit(0.0)
        ),
    )
    out = out.withColumn(
        "punct_ratio",
        F.when(F.col("n_chars") > 0, n_punct / F.col("n_chars")).otherwise(F.lit(0.0)),
    )
    out = out.withColumn(
        "stopword_ratio",
        F.when(F.col("n_tokens") > 0, n_stop / F.col("n_tokens")).otherwise(F.lit(0.0)),
    )
    score = (
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.3
        + F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * 0.3
    )
    return out.withColumn("quality_score", F.round(score, 6))


# ---------------------------------------------------------------------------
# language identification (closed marker-word heuristic)

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of"],
    "de": ["der", "die", "und", "nicht"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "que", "y"],
}


def lang_id(text: Column) -> Column:
    """Marker-word language ID: argmax of per-language exact-token marker
    hits, ties broken by language code ascending, 'und' when nothing matches.

    Pure expressions — split once, one array filter per (lang, marker); a
    real n-gram profile model would swap in as a pandas UDF with the same
    column contract.
    """
    toks = F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")
    langs = sorted(LANG_MARKERS)
    # ONE fold over the tokens (r8, guide §1.2): the former per-(lang,
    # marker) ``size(filter(toks, ...))`` instantiated the split expression
    # 16 times per row (higher-order inputs are evaluated per expression
    # instance). The fold scores every language in a single pass: the
    # accumulator is one counter per language, bumped when the token is in
    # that language's marker list (a literal array-of-arrays rides the
    # plan). The final argmax folds the zipped (score, lang) array
    # left-to-right keeping strict improvements only, so on ties the
    # ascending-first language wins — exactly the old greatest-over-
    # (score, -index) tie-break (pinned identical in tests and by the
    # text_lang_id oracle).
    marker_lit = F.lit([LANG_MARKERS[lang] for lang in langs])
    scores_arr = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), len(langs)),
        lambda acc, tok: F.zip_with(
            acc,
            marker_lit,
            lambda c, ms: c + F.when(F.array_contains(ms, tok), 1).otherwise(0),
        ),
    )
    best = F.aggregate(
        F.zip_with(
            scores_arr,
            F.lit(langs),
            lambda s, lang: F.struct(s.alias("score"), lang.alias("lang")),
        ),
        F.struct(F.lit(-1).alias("score"), F.lit("und").alias("lang")),
        lambda b, e: F.when(e["score"] > b["score"], e).otherwise(b),
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


# ---------------------------------------------------------------------------
# document fingerprinting


def fingerprint64(text: Column) -> Column:
    """Order-sensitive deterministic 64-bit document fingerprint — pure JVM
    ``xxhash64`` over the UTF-8 text, NULL treated as the empty document.

    Fully whole-stage-codegen (no Python anywhere in the row path — an
    earlier numpy-per-document variant was replaced; see VERDICT r1
    "What's wrong #1"). Deterministic across partitions / cluster sizes /
    runs; collisions ~ birthday(2^64).
    """
    return F.xxhash64(F.coalesce(text, F.lit("")))


def fingerprint64_chunks(text: Column, chunk_tokens: int = 64) -> Column:
    """Content-chunked fingerprints: array of xxhash64 over fixed-size token
    windows — the shift-tolerant variant (a local edit changes only the
    chunks it touches). JVM-side: tokenize once, slice, hash per chunk."""
    toks = F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")
    n_chunks = F.greatest(F.ceil(F.size(toks) / F.lit(chunk_tokens)), F.lit(1)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(
        idx,
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens))),
    )


def shingle_array(text: Column, k: int = 5) -> Column:
    """Word k-gram shingles as an array<string> (JVM-side): the shared
    building block for n-gram Jaccard and MinHash.

    Implementation note (r8, guide §1.2 "per-task work"): the r7 form built
    shingle i as ``concat_ws(slice(toks, i+1, k))`` inside a ``transform``
    lambda — but higher-order functions are interpreted, and a non-trivial
    expression referenced inside a lambda body is RE-EVALUATED per element,
    so every shingle re-ran ``split(trim(text))`` over the whole document:
    O(len x shingles) per row (measured as the dominant cost of the MinHash
    bench, ~8x the fold itself). This form chains k-1 ``zip_with``s of the
    token array against its own shifted slices; every expression argument
    is evaluated once per row and lambda bodies touch only lambda
    variables, giving the intended O(len x k). Output strings are
    byte-identical (tokens from split are never NULL, so chained ``concat``
    equals ``concat_ws``; the trailing window positions where the shifted
    slice runs out fold to NULL and are cut by the final slice)."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, n),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    sh = F.slice(acc, 1, n - k + 1)
    return (
        # NULL text: the r7 form fell through its null-propagated WHEN into
        # a concat_ws over a null slice, yielding [''] — the same shingles
        # as an empty document. Pinned explicitly here (callers and oracles
        # rely on null and empty hashing identically).
        F.when(text.isNull(), F.array(F.lit("")))
        .when(n < k, F.array(F.concat_ws(" ", toks)))
        .otherwise(sh)
    )


# ---------------------------------------------------------------------------
# within-document repetition (Gopher-style quality filters)


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 2
) -> DataFrame:
    """Within-document repetition signals, the Gopher/C4-style filter family
    used to drop boilerplate and degenerate generations from training
    corpora: a document whose n-grams are mostly repeats of themselves is
    template spam regardless of its cross-document dedup status.

    -> (id, n_tokens, dup_token_frac, n_ngrams, dup_ngram_frac), where
    dup_X_frac = 1 - distinct(X)/total(X) (0 for docs too short to form a
    single n-gram). Pure Column expressions over :func:`shingle_array` —
    one corpus scan, zero shuffle, zero Python; the fractions divide exact
    integer counts, so any SQL engine reproduces them bit-for-bit (the
    driver oracle `text_repetition` does)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = token_count(F.col(text_col))
    sh = shingle_array(F.col(text_col), k=ngram)
    n_ng = F.when(n_tok >= ngram, F.size(sh)).otherwise(F.lit(0))
    dup_tok = F.when(
        n_tok > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)) / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))
    dup_ng = F.when(
        n_ng > 0,
        F.lit(1.0) - F.size(F.array_distinct(sh)) / n_ng.cast("double"),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(dup_tok, 9).alias("dup_token_frac"),
        n_ng.alias("n_ngrams"),
        F.round(dup_ng, 9).alias("dup_ngram_frac"),
    )


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary with document frequencies — the tokenizer-building
    / frequency-analysis pass of a training-data pipeline.

    -> (token, tf, df): term frequency (total occurrences) and document
    frequency (docs containing the token), whitespace tokenization
    consistent with :func:`token_count`. Shape that survives 10^12 docs:
    tokens explode map-side and aggregate with partial (map-side combine)
    hash aggregation, so the exchange carries one row per DISTINCT token
    per partition — corpus volume never crosses the shuffle. ``min_count``
    filters AFTER the global aggregate (a threshold, not a top-k: top-k
    under ties is engine-ambiguous, a count threshold is an exact set any
    engine reproduces — the driver oracle does, via DuckDB unnest).

    Linear two-level aggregate: explode raw tokens, collapse to per-doc
    (token, count) — the partial aggregation combines within-partition
    duplicates map-side before the (id, token) exchange, and explode
    preserves row locality so a doc's tokens partial-aggregate together —
    then one token-keyed aggregate computes tf (sum) and df (row count =
    docs). Work is O(total tokens); an earlier array-side build (distinct
    tokens x filter-count per doc) was one exchange cheaper but
    O(distinct x total) PER DOCUMENT — a single 20k-distinct-token doc
    cost ~4x10^8 comparisons in one task (review r5)."""
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    per_doc = (
        df.select(F.col(id_col).alias("__doc"), F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy("__doc", "token")
        .agg(F.count("*").alias("c"))
    )
    out = per_doc.groupBy("token").agg(
        F.sum("c").alias("tf"), F.count("*").alias("df")
    )
    return out.where(F.col("tf") >= min_count) if min_count > 1 else out


def contamination_flags(
    df: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-decontamination pass: flag documents containing any of a
    small set of verbatim phrases (eval-set spans, canary strings).

    -> (id, contaminated, n_hits, hit_phrases). The phrase list is
    closed and small (benchmark spans), so it rides the plan as a literal
    array and the whole check is ONE pure-JVM scan — per-phrase
    ``contains`` over the text column, no join, no shuffle, no Python.
    Substring semantics (not token n-grams) deliberately: it is the
    strictest reproducible containment test, and any SQL engine's
    ``position()>0`` reproduces it exactly (the driver oracle does).
    For open-ended/huge phrase sets use the shingle-hash semi-join in
    :mod:`.dedup` instead — this operator's contract is the exact,
    auditable small-list pass."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    t = F.coalesce(F.col(text_col), F.lit(""))
    hits = F.filter(
        F.array(*[F.lit(p) for p in phrases]),
        lambda p: F.instr(t, p) > 0,
    )
    return df.select(
        F.col(id_col),
        (F.size(hits) > 0).alias("contaminated"),
        F.size(hits).alias("n_hits"),
        F.array_sort(hits).alias("hit_phrases"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-window chunking — the RAG-indexing / context-window prep pass:
    each document becomes overlapping windows of ``chunk_tokens``
    whitespace tokens starting every ``stride`` tokens (default: no
    overlap, stride = chunk_tokens).

    -> (id, chunk_id, start_token, n_chunk_tokens, chunk_text): chunk k
    covers tokens [k*stride, k*stride + chunk_tokens); windows start while
    k*stride < n_tokens, so the last window may be short; empty/null texts
    produce ZERO chunks (nothing to index). Pure Column plan — tokenize
    once, build the start index array, explode, slice — one scan, no
    shuffle, no Python; chunk text is rebuilt with single spaces
    (consistent with :func:`shingle_array`'s normalization), and the whole
    definition is integer arithmetic + slicing any SQL engine reproduces
    exactly."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    stride = chunk_tokens if stride is None else stride
    if stride <= 0:
        raise ValueError("stride must be positive")
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.split(t, r"\s+")
    n = F.when(t == "", F.lit(0)).otherwise(F.size(toks))
    ks = F.when(n == 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), F.ceil(n / F.lit(stride)).cast("int") - 1)
    )
    start = F.col("chunk_id") * stride
    return (
        df.select(
            F.col(id_col),
            toks.alias("__t"),
            n.alias("__n"),
            F.explode(ks).alias("chunk_id"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            start.cast("long").alias("start_token"),
            F.least(F.lit(chunk_tokens), F.col("__n") - start)
            .cast("long")
            .alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("__t"), start + 1, chunk_tokens)
            ).alias("chunk_text"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    partitions: int | None = None,
) -> DataFrame:
    """Sequence packing for LLM pretraining batches: documents in
    ``id_col`` order are laid head-to-tail on one token tape and cut into
    fixed-``budget`` sequences; each document is assigned the sequence
    where it STARTS.

    -> (id, n_tokens, seq_id, seq_offset) with
    ``seq_id = prefix // budget`` and ``seq_offset = prefix % budget``,
    where ``prefix`` is the EXCLUSIVE running token total in id order
    (``token_col`` if given, else whitespace :func:`token_count` of
    ``text_col``). This cumsum-bin policy — a straddling document belongs
    to the sequence it starts in — is deterministic, order-based, and
    reproducible as one window aggregate in any SQL engine;
    start-new-sequence-on-overflow greedy packing is inherently
    sequential and is deliberately NOT this operator. Ids must be unique
    (the prefix is only well-defined under a total order).

    Scale shape — a DISTRIBUTED PREFIX SUM, not a global Window:
    ``SUM() OVER (ORDER BY id)`` with no PARTITION BY collapses Spark to a
    single task at any input size. Instead the input is range-partitioned
    and sorted by id (materialized once, so both passes see identical
    partitions), ONE aggregate-only job ships P per-partition token totals
    to the driver, their exclusive prefix becomes each partition's base
    offset, and an Arrow-batched kernel adds base + within-partition
    cumsum. Cost: one range exchange + an O(P) driver step, independent of
    corpus size; the (sampled, run-varying) range boundaries cannot change
    the result — the prefix is a pure function of the global id order."""
    import pandas as pd

    from pyspark.sql import types as T

    if budget <= 0:
        raise ValueError("budget must be positive")
    toks = (
        F.col(token_col).cast("long")
        if token_col
        else token_count(F.col(text_col)).cast("long")
    )
    base = df.select(F.col(id_col), toks.alias("n_tokens"))
    p = partitions or base.sparkSession.sparkContext.defaultParallelism
    part = (
        base.repartitionByRange(p, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # both passes read the SAME partitions
    )
    totals = {
        r["__pid"]: r["t"]
        for r in part.groupBy("__pid").agg(F.sum("n_tokens").alias("t")).collect()
    }
    off_map, acc = {}, 0
    for pid in sorted(totals):
        off_map[pid] = acc
        acc += totals[pid] or 0

    id_field = base.schema[id_col]
    schema = T.StructType(
        [
            id_field,
            T.StructField("n_tokens", T.LongType()),
            T.StructField("seq_id", T.LongType()),
            T.StructField("seq_offset", T.LongType()),
        ]
    )

    def run(batches):
        running = 0
        for pdf in batches:
            if not len(pdf):
                continue
            off = off_map.get(int(pdf["__pid"].iloc[0]), 0)
            n = pdf["n_tokens"].fillna(0).astype("int64")
            prefix = off + running + n.cumsum() - n
            running += int(n.sum())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": n,
                    "seq_id": prefix // budget,
                    "seq_offset": prefix % budget,
                }
            )

    return part.mapInPandas(run, schema=schema)


def contamination_semijoin(
    df: DataFrame,
    phrases: DataFrame,
    shingle_k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Open-set benchmark decontamination: flag documents sharing any word
    ``shingle_k``-gram with a phrase CORPUS — a DataFrame of arbitrary
    size (full eval sets, 10^4..10^9 phrases), where
    :func:`contamination_flags`' literal-array scan stops making sense
    past a few hundred phrases (VERDICT r5 next-round #7).

    -> (id, contaminated, n_hits) for EVERY input document: n_hits is the
    number of DISTINCT document shingles that occur anywhere in the phrase
    corpus's shingle set (phrases shorter than ``shingle_k`` tokens
    contribute their whole token sequence as one shingle, matching
    :func:`shingle_array`); contaminated = n_hits > 0. Exact set
    intersection — any SQL engine reproduces it from the same
    tokenization.

    Scale shape (the :func:`.dedup.exact_dedup` key discipline): both
    sides explode to shingles keyed by a 128-bit digest pair (xxhash64
    seeds 0/1), so the join compares 16-byte keys — no text crosses an
    exchange. The phrase side dedups to one row per distinct shingle
    corpus-wide (it is the join's build side); the document side is
    deliberately NOT pre-deduplicated: the LEFT SEMI join — map-side
    whenever AQE broadcasts the phrase shingle set — filters FIRST, so in
    the common regime (bounded phrase corpus, rare hits) zero doc-side
    rows are shuffled before filtering and only HIT shingles enter the
    distinct-count aggregate (a pre-join distinct would shuffle every
    shingle of every document to dedup rows the join was about to drop).
    Per-doc counts partial-aggregate map-side. Work is O(total tokens) on
    each side."""
    def _digests(src: DataFrame, col: str, keep: "list[str]") -> DataFrame:
        sh = F.explode(
            shingle_array(F.coalesce(F.col(col), F.lit("")), k=shingle_k)
        ).alias("__s")
        return (
            src.select(*keep, sh)
            .where(F.col("__s") != "")
            .select(
                *keep,
                F.xxhash64("__s", F.lit(0)).alias("__h0"),
                F.xxhash64("__s", F.lit(1)).alias("__h1"),
            )
        )

    ph = _digests(phrases, phrase_col, []).distinct()
    doc_sh = _digests(df, text_col, [id_col])
    hits = (
        doc_sh.join(ph, ["__h0", "__h1"], "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("__h0", "__h1").alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_hits").isNotNull().alias("contaminated"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
    )
