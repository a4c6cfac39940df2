"""Per-span mention / relation detection — vectorized pandas UDFs
(BASELINE.json input_hint: "all per-span mention detection ... in vectorized
pandas/Arrow UDFs (no per-row Python)").

Design: ALL template patterns fuse into ONE pandas UDF pass
(:func:`fused_extractor`) so span text crosses the Arrow boundary exactly
once; inside the batch each pattern runs on pyarrow's RE2 engine
(``pc.extract_regex`` — linear-time DFA, no per-row Python), falling back
to pandas' ``Series.str.extract`` C path for patterns RE2 rejects
(backrefs/lookaround), chosen once driver-side. The per-pattern fan-out to
relation rows happens JVM-side via ``inline(array(struct...))``.

Scale note: pattern/vocab lists ride inside UDF closures — Spark broadcasts
the serialized function once per executor; the Arrow channel carries only
span text in ~10k-row batches.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Python re's \s (and the negation \S) is Unicode: ASCII [\t-\r ] plus
# \x1c-\x1f and every str.isspace() codepoint. RE2's default \s is ASCII-only,
# so \S silently matches NBSP etc. under RE2. This explicit class IS Python's
# \s, verified exhaustively over the BMP in tests (test_pipeline.py).
_PY_WS = (
    # literal codepoints (RE2 has no \\uXXXX escape, only \\x{...}): the
    # chr() build keeps the class readable and byte-exact — it must equal
    # Python re's \\s, which the exhaustive BMP test pins.
    "\\t-\\r"
    + chr(0x1C) + "-" + chr(0x1F)
    + " " + chr(0x85) + chr(0xA0) + chr(0x1680)
    + chr(0x2000) + "-" + chr(0x200A)
    + chr(0x2028) + chr(0x2029) + chr(0x202F) + chr(0x205F) + chr(0x3000)
)


def literal_anchor(pattern: str) -> str | None:
    """Longest literal substring every match of ``pattern`` must contain —
    a NECESSARY condition usable as a pure-JVM ``contains()`` prefilter —
    or None when no guaranteed run exists. Derived from the stdlib regex
    parse tree (``re._parser``), so escapes/classes/quantifiers are read
    exactly as ``re`` itself reads them; conservative rules only:

    - consecutive LITERAL nodes in an unconditionally-executed sequence
      form a run; groups recurse; a repeat with min>=1 contributes one
      copy of its body;
    - alternation, optional/starred content, character classes, ``.``,
      lookarounds and anchors contribute nothing (they just break runs);
    - a pattern carrying IGNORECASE (inline or group-local flags) returns
      None — its "literals" are not literal.
    """
    import re as _re

    try:
        tree = _re.parse(pattern) if hasattr(_re, "parse") else _re._parser.parse(pattern)
    except _re.error:
        return None
    if tree.state.flags & _re.IGNORECASE:
        return None

    def runs(seq):
        run: list[str] = []
        for op, av in seq:
            name = str(op)
            if name == "LITERAL":
                run.append(chr(av))
                continue
            if run:
                yield "".join(run)
                run = []
            if name == "SUBPATTERN":
                _g, add_flags, del_flags, inner = av
                if add_flags or del_flags:
                    continue  # group-local flags: contents not trustworthy
                yield from runs(inner)
            elif name in ("MAX_REPEAT", "MIN_REPEAT"):
                lo, _hi, inner = av
                if lo >= 1:
                    yield from runs(inner)
        if run:
            yield "".join(run)

    best = max(runs(tree.data), key=len, default="")
    return best or None


def _re2_equivalent(pattern: str) -> str | None:
    """Rewrite ``pattern`` into an RE2 pattern with PYTHON ``re`` match
    semantics, or None when equivalence can't be guaranteed (caller falls
    back to pandas). Guarded, conservative transforms only:

    - ``\\S``/``\\s`` -> explicit Unicode-whitespace classes (RE2's are
      ASCII-only; Python's are not);
    - one trailing ``$`` -> ``\\n?$`` (Python ``$`` also matches before a
      single final newline; RE2's matches only at end — consuming the
      optional newline is equivalent for group extraction);
    - any OTHER ``$``, any ``\\w \\W \\d \\D \\b \\B \\Z`` (Unicode/ASCII
      divergence or unsupported), any character class, backref or inline
      flag -> None. ``^`` is safe (both anchor at start only, no re.M).
    - any escaped backslash (``\\\\``) -> None: the str.replace rewrites
      below cannot tell ``\\s`` (whitespace escape) from ``\\\\s`` (literal
      backslash then ``s``) — rewriting the latter silently changes what
      the RE2 path matches vs the pandas fallback (ADVICE r5 #1).
    """
    import re as _re

    if "\\\\" in pattern:
        return None
    if _re.search(r"\((\?[aiLmsux]|\?P=|\?<?[=!])|\\[wWdDbBZ]|\[", pattern):
        return None
    body = pattern
    trailing_dollar = body.endswith("$") and not body.endswith(r"\$")
    if trailing_dollar:
        body = body[:-1]
    if _re.search(r"(?<!\\)\$", body.replace("\\\\", "")):
        return None  # non-trailing $: Python-vs-RE2 semantics differ
    body = body.replace("\\S", f"[^{_PY_WS}]").replace("\\s", f"[{_PY_WS}]")
    return body + ("\\n?$" if trailing_dollar else "")


def _re2_compatible(patterns: list[str]) -> list[str] | None:
    """Python-semantics RE2 rewrites for every pattern, or None if any
    pattern can't be made equivalent (backtracking constructs, divergent
    escapes) or pyarrow's RE2 rejects the rewrite — the caller then takes
    the pandas fallback. Decided once, driver-side."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rewritten = []
    for p in patterns:
        r = _re2_equivalent(p)
        if r is None:
            return None
        rewritten.append(r)
    empty = pa.array([], type=pa.string())
    try:
        for r in rewritten:
            pc.extract_regex(empty, r)
        return rewritten
    except Exception:  # noqa: BLE001 - any rejection -> fallback path
        return None


def fused_extractor(patterns: list[str]):
    """All patterns in ONE Arrow pass: returns a flat struct
    (a0,b0,a1,b1,...) — plain string columns, no nested objects, so the
    pandas->Arrow conversion stays zero-copy-ish and the text column crosses
    the Python boundary exactly once regardless of pattern count.

    The per-pattern extraction runs on pyarrow's RE2 engine
    (``pc.extract_regex`` over the batch, no per-row Python, no
    backtracking): micro-benched ~5x faster than the former
    ``Series.str.extract`` on the corpus templates (2M spans: 1.5s vs
    7.7s), with byte-identical output — cross-checked in
    tests/test_pipeline.py. Each pattern is first REWRITTEN into an RE2
    form with Python ``re`` match semantics (:func:`_re2_equivalent`:
    Unicode \\S/\\s classes, trailing-``$``-before-newline behavior —
    RE2's defaults silently diverge on both), and any pattern that can't
    be proven equivalent routes the whole extractor to the pandas path,
    chosen once driver-side. extract_regex leaves child fields unmasked
    for non-matching rows, so the struct's own validity bitmap is applied
    explicitly (a bare ``.field()`` read returns garbage for misses).

    Both engines run behind a capped CROSS-BATCH text->extraction cache
    (see the inline note): each distinct text pays the regex engines once
    per Python worker, so template-dense corpora converge to a pure
    factorize+gather kernel after warm-up."""
    compiled = [re.compile(p) for p in patterns]  # validate Python-side
    fields = []
    for i in range(len(patterns)):
        fields += [T.StructField(f"a{i}", T.StringType()), T.StructField(f"b{i}", T.StringType())]
    schema = T.StructType(fields)

    col_names = [f"{g}{i}" for i in range(len(patterns)) for g in ("a", "b")]
    width = len(col_names)
    re2_patterns = _re2_compatible(patterns)

    if re2_patterns is not None:

        def extract_missing(words: list) -> list[tuple]:
            import pyarrow as pa
            import pyarrow.compute as pc

            arr = pa.array(words, type=pa.string())
            null_str = pa.scalar(None, pa.string())
            groups = []
            for p in re2_patterns:
                m = pc.extract_regex(arr, p)
                valid = m.is_valid()
                groups.append(pc.if_else(valid, m.field("a"), null_str).to_pylist())
                groups.append(pc.if_else(valid, m.field("b"), null_str).to_pylist())
            return list(zip(*groups)) if words else []

    else:

        def extract_missing(words: list) -> list[tuple]:
            src = pd.Series(words, dtype=object)
            groups = []
            for rx in compiled:
                m = src.str.extract(rx)
                groups.append(
                    [None if pd.isna(v) else v for v in m["a"].tolist()]
                )
                groups.append(
                    [None if pd.isna(v) else v for v in m["b"].tolist()]
                )
            return list(zip(*groups)) if words else []

    # cross-batch extraction cache: template/boilerplate corpora repeat
    # whole spans at corpus scale while the distinct-sentence vocabulary
    # stays bounded (the bench corpus: <=30k distinct sentences across
    # tens of millions of spans), so after warm-up the regex engine runs
    # only on never-seen texts. A per-BATCH dedup cannot capture this —
    # a 10k-row Arrow batch over a 30k vocabulary is ~86% distinct no
    # matter how large the corpus is. The cache is capped (insert-only,
    # no eviction thrash: past the cap, fresh texts are extracted for
    # their batch but not retained) and lives per Python worker; results
    # are a pure function of the text, so reuse is exact.
    cache: dict = {}
    cache_cap = 1 << 18  # ~260k entries; bounded worker memory

    @F.pandas_udf(schema)
    def extract(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        codes, uniques = pd.factorize(texts)
        uniq = list(uniques)
        rows: list = [cache.get(t) for t in uniq]
        miss = [i for i, r in enumerate(rows) if r is None]
        if miss:
            fresh = extract_missing([uniq[i] for i in miss])
            under_cap = len(cache) < cache_cap
            for j, i in enumerate(miss):
                rows[i] = fresh[j]
                if under_cap:
                    cache[uniq[i]] = fresh[j]
        rows.append((None,) * width)  # sentinel row for null texts
        mat = np.array(rows, dtype=object)
        out = mat[np.where(codes >= 0, codes, len(rows) - 1)]
        return pd.DataFrame(out, columns=col_names)

    return extract


def extract_relations(
    text_spans: DataFrame,
    patterns: list[tuple[str, str]],
    prefilter: bool = True,
) -> DataFrame:
    """(doc_id, offset, text, ...) -> one row per detected relation:
    (doc_id, offset, subj_surface, pred, obj_surface).

    One UDF pass over the text; the per-pattern fan-out happens JVM-side via
    inline(array(struct...)) + null filter (no re-scan, no union of scans).

    ``prefilter`` (default on) adds a pure-JVM ``contains()`` disjunction
    over each pattern's :func:`literal_anchor` BEFORE the Arrow boundary
    (VERDICT r6 #2): a span whose text contains none of the anchors cannot
    match any pattern, so it never pays Arrow serialization or a regex
    pass. Sound only when EVERY pattern yields an anchor — if any pattern
    has no guaranteed literal, the filter is skipped entirely (a row could
    match that pattern without containing any anchor). On boilerplate-free
    real corpora this drops the overwhelming majority of spans inside
    whole-stage codegen; on template-dense corpora it costs one codegen'd
    substring scan per anchor."""
    src = text_spans.where(F.col("text").isNotNull())
    if prefilter and patterns:
        anchors = [literal_anchor(rx) for rx, _ in patterns]
        if all(anchors):
            cond = None
            for a in sorted(set(anchors)):
                c = F.col("text").contains(a)
                cond = c if cond is None else (cond | c)
            src = src.where(cond)
    udf = fused_extractor([rx for rx, _ in patterns])
    hit = src.select("doc_id", "offset", udf(F.col("text")).alias("r"))
    rels = F.array(
        *[
            F.struct(
                F.col(f"r.a{i}").alias("subj_surface"),
                F.lit(pred).alias("pred"),
                F.col(f"r.b{i}").alias("obj_surface"),
            )
            for i, (_, pred) in enumerate(patterns)
        ]
    )
    return (
        hit.select("doc_id", "offset", F.inline(rels))
        .where(F.col("subj_surface").isNotNull() & F.col("obj_surface").isNotNull())
    )


MENTION_SCHEMA = T.ArrayType(T.StringType())


def surface_mention_detector(vocab: list[str]):
    """Closed-vocab word-boundary detector: text -> array<matched surface>.

    Vectorized: one ``str.contains`` scan per vocab word producing a boolean
    matrix, then a single numpy pass converts rows to surface lists (no
    per-row regex work). Suits small closed vocabs; open vocabs should use
    tokenize+join (ops/text.py) instead."""
    words = list(vocab)

    @F.pandas_udf(MENTION_SCHEMA)
    def detect(texts: pd.Series) -> pd.Series:
        padded = " " + texts.fillna("") + " "
        import numpy as np

        mat = np.column_stack(
            [padded.str.contains(f" {re.escape(w)} ", regex=True).to_numpy() for w in words]
        ) if words else None
        if mat is None:
            return pd.Series([[] for _ in range(len(texts))], index=texts.index)
        warr = np.array(words, dtype=object)
        out = [list(warr[row]) for row in mat]
        return pd.Series(out, index=texts.index)

    return detect


def detect_mentions(text_spans: DataFrame, vocab: list[str]) -> DataFrame:
    """(doc_id, offset, text) -> (doc_id, offset, surface) rows."""
    udf = surface_mention_detector(vocab)
    return (
        text_spans.where(F.col("text").isNotNull())
        .select("doc_id", "offset", F.explode(udf(F.col("text"))).alias("surface"))
    )
