"""Text analysis ops vs plain-Python oracles."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from p5_rdf_rdb2rdf_spark.ops.text import (
    BPE_ISH_RE,
    LANG_MARKERS,
    STOPWORDS,
    bpeish_token_count,
    fingerprint64,
    lang_id,
    fingerprint64_chunks,
    quality_features,
    shingle_array,
    token_count,
)
from plan_nodes import EXCHANGES, count_nodes

SAMPLES = [
    "the quick brown fox",
    "  padded   spaces  here ",
    "",
    "one",
    "punct, heavy!! text?? yes...",
    "der hund und die katze nicht",
    "le chat et la maison les",
    "numbers 123 mixed456tokens",
]


def _df(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")


def test_token_counts(spark):
    df = _df(spark, SAMPLES)
    got = {r.doc_id: (r.tc, r.bc) for r in df.select(
        "doc_id", token_count(F.col("text")).alias("tc"), bpeish_token_count(F.col("text")).alias("bc")
    ).collect()}
    for i, t in enumerate(SAMPLES):
        assert got[i][0] == (len(t.split()) if t.strip() else 0), t
        assert got[i][1] == len(re.findall(BPE_ISH_RE, t)), t


def test_quality_features(spark):
    df = quality_features(_df(spark, SAMPLES))
    rows = {r.doc_id: r for r in df.collect()}
    t = SAMPLES[0]  # "the quick brown fox"
    r = rows[0]
    assert r.n_tokens == 4 and r.n_chars == len(t)
    stop = sum(1 for w in t.split() if w in STOPWORDS)
    assert abs(r.stopword_ratio - stop / 4) < 1e-9
    assert 0.0 <= r.quality_score <= 1.0
    assert rows[2].n_tokens == 0 and rows[2].quality_score is not None
    assert rows[4].punct_ratio > rows[0].punct_ratio


def test_lang_id(spark):
    df = _df(spark, SAMPLES).select("doc_id", lang_id(F.col("text")).alias("lang"))
    got = {r.doc_id: r.lang for r in df.collect()}
    assert got[0] == "en"
    assert got[5] == "de"
    assert got[6] == "fr"
    assert got[3] == "und"  # no markers


def test_fingerprint_deterministic_order_sensitive_and_jvm_only(spark):
    df = _df(spark, SAMPLES).select("doc_id", fingerprint64(F.col("text")).alias("fp"))
    got = {r.doc_id: r.fp for r in df.collect()}
    # deterministic across partitioning (cluster-size independence)
    re_got = {
        r.doc_id: r.fp
        for r in _df(spark, SAMPLES)
        .repartition(7)
        .select("doc_id", fingerprint64(F.col("text")).alias("fp"))
        .collect()
    }
    assert got == re_got
    # distinct docs -> distinct fingerprints on this sample; NULL == ""
    assert len(set(got.values())) == len(SAMPLES)
    null_fp = (
        spark.createDataFrame([(0, None)], "doc_id int, text string")
        .select(fingerprint64(F.col("text")).alias("fp"))
        .head()
        .fp
    )
    assert null_fp == got[2]  # SAMPLES[2] is ""
    # order sensitivity
    df2 = _df(spark, ["ab c", "c ab"]).select(fingerprint64(F.col("text")).alias("fp"))
    a, b = [r.fp for r in df2.collect()]
    assert a != b
    # the mandate: no Python eval node anywhere in the fingerprint plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_fingerprint_chunks_localize_edits(spark):
    base = " ".join(f"w{i}" for i in range(256))
    edited = base.replace("w200", "EDIT")
    df = _df(spark, [base, edited]).select(
        "doc_id", fingerprint64_chunks(F.col("text"), chunk_tokens=64).alias("ch")
    )
    rows = {r.doc_id: r.ch for r in df.collect()}
    assert len(rows[0]) == 4 and len(rows[1]) == 4
    diffs = [i for i in range(4) if rows[0][i] != rows[1][i]]
    assert diffs == [3]  # only the chunk containing token 200 changes


def test_shingles(spark):
    df = _df(spark, ["a b c d e f"]).select(shingle_array(F.col("text"), k=3).alias("sh"))
    got = df.head().sh
    assert got == ["a b c", "b c d", "c d e", "d e f"]
    short = _df(spark, ["a b"]).select(shingle_array(F.col("text"), k=5).alias("sh")).head().sh
    assert short == ["a b"]


def test_repetition_features_planted(spark):
    """Gopher-style repetition signals: a degenerate doc (one token looped)
    scores ~1.0 on both fractions, template spam scores high on the 2-gram
    fraction, normal prose scores low; empty/single-token docs are 0 not
    NULL/NaN. Pure Column expressions — no Python in the plan."""
    from p5_rdf_rdb2rdf_spark.ops.text import repetition_features

    rows = [
        (1, "spam " * 50),                              # degenerate loop
        (2, "click here to win " * 10),                 # template spam
        (3, "the quick brown fox jumps over a lazy dog and then rests"),
        (4, ""),                                        # empty
        (5, "single"),                                  # one token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repetition_features(df, ngram=2)
    got = {r.doc_id: r for r in out.collect()}

    assert got[1].n_tokens == 50 and got[1].n_ngrams == 49
    assert got[1].dup_token_frac == round(1 - 1 / 50, 9)
    assert got[1].dup_ngram_frac == round(1 - 1 / 49, 9)
    assert got[2].dup_ngram_frac > 0.85
    assert got[3].n_tokens == 12
    assert got[3].dup_token_frac < 0.1 and got[3].dup_ngram_frac == 0.0
    assert got[4].n_tokens == 0 and got[4].dup_token_frac == 0.0
    assert got[4].n_ngrams == 0 and got[4].dup_ngram_frac == 0.0
    assert got[5].n_tokens == 1 and got[5].n_ngrams == 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_vocabulary_matches_python_oracle(spark):
    """tf = every occurrence, df = one per containing doc; whitespace
    tokenization identical to token_count; empty/NULL rows contribute
    nothing; min_count filters on tf after the global aggregate."""
    from collections import Counter

    from p5_rdf_rdb2rdf_spark.ops.text import vocabulary

    rows = [
        (1, "a b a  c"),
        (2, "b b d"),
        (3, ""),
        (4, None),
        (5, " a "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    tf, dfreq = Counter(), Counter()
    for _i, t in rows:
        toks = (t or "").split()
        tf.update(toks)
        dfreq.update(set(toks))
    got = {r.token: (r.tf, r.df) for r in vocabulary(df).collect()}
    assert got == {t: (tf[t], dfreq[t]) for t in tf}
    got5 = {r.token for r in vocabulary(df, min_count=3).collect()}
    assert got5 == {t for t in tf if tf[t] >= 3} == {"a", "b"}


def test_vocabulary_plan_linear_two_level_no_python(spark):
    """The vocab aggregate must be the linear two-level shape — exactly two
    exchanges ((doc, token) then token, both with map-side partial agg) and
    no Python eval; no per-doc array blowup (review r5: the single-exchange
    array-side build was O(distinct x total) per document)."""
    from p5_rdf_rdb2rdf_spark.ops.text import vocabulary

    df = spark.createDataFrame([(1, "a b a")], "doc_id int, text string")
    vocab = vocabulary(df)
    plan = vocab._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert count_nodes(vocab, *EXCHANGES) == 2, plan
    assert "transform(" not in plan  # no array-side quadratic build


def test_contamination_flags(spark):
    from p5_rdf_rdb2rdf_spark.ops.text import contamination_flags

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick brown elsewhere and the canary AAA-BBB string"),
            (3, None),
            (4, "nothing to see"),
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.contaminated, r.n_hits, list(r.hit_phrases))
        for r in contamination_flags(df, ["quick brown", "AAA-BBB", "zebra"]).collect()
    }
    assert got == {
        1: (True, 1, ["quick brown"]),
        2: (True, 2, ["AAA-BBB", "quick brown"]),
        3: (False, 0, []),
        4: (False, 0, []),
    }
    plan = (
        contamination_flags(df, ["x"])._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Exchange" not in plan and "Join" not in plan


def test_contamination_semijoin_open_set(spark):
    """Open-set decontamination (VERDICT r5 #7): shingle intersection
    semantics — repeated matching shingles count once, short docs/phrases
    fall back to whole-text shingles, null text never hits — and the plan
    is a JOIN against the phrase frame, not a literal-array scan."""
    from p5_rdf_rdb2rdf_spark.ops.text import contamination_semijoin

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),          # shingle [a..h] hits
            (2, "z z z z"),                       # <8 tokens, no match
            (3, None),                            # null text: no hits
            (4, "a b c d e f g h"),               # exact 8 tokens, hits
            (5, "a b c d e f g h a b c d e f g h"),  # dup shingle: 1 hit
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [("a b c d e f g h",), ("nope nope",)], ["phrase"]
    ).unionByName(
        spark.range(2000).select(
            F.concat(F.lit("abs-"), F.col("id").cast("string")).alias("phrase")
        )
    )
    out = contamination_semijoin(docs, phrases, shingle_k=8)
    got = {r.doc_id: (r.contaminated, r.n_hits) for r in out.collect()}
    assert got == {
        1: (True, 1),
        2: (False, 0),
        3: (False, 0),
        4: (True, 1),
        5: (True, 1),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # a real join, not a literal phrase scan


def test_pack_sequences_distributed_prefix_sum(spark):
    """Sequence packing: the distributed (range-partition + base-offset +
    Arrow cumsum) decomposition must equal the sequential definition
    exactly, across multiple partitions, including boundary-straddling
    docs, empty/null texts, and a caller-supplied token column."""
    from p5_rdf_rdb2rdf_spark.ops.text import pack_sequences

    rows = [(i, "w " * ((i * 7) % 13 + 1)) for i in range(50)]
    rows[10] = (10, "")
    rows[11] = (11, None)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset)
        for r in pack_sequences(docs, budget=16, partitions=7).collect()
    }
    # sequential python oracle
    prefix = 0
    for i in range(50):
        t = rows[i][1]
        n = len(t.split()) if t else 0
        assert out[i] == (n, prefix // 16, prefix % 16), i
        prefix += n
    assert len(out) == 50

    # explicit token column wins over text
    d2 = spark.createDataFrame(
        [(1, "a b c", 100), (2, "x", 10)], "doc_id long, text string, nt long"
    )
    got = {
        r.doc_id: (r.n_tokens, r.seq_id)
        for r in pack_sequences(d2, budget=64, token_col="nt").collect()
    }
    assert got == {1: (100, 0), 2: (10, 1)}  # doc 2 starts at token 100


def test_chunk_documents_windows(spark):
    """Token-window chunking: stride/overlap arithmetic, short last window,
    sub-chunk docs yield one window, empty/null texts yield none."""
    from p5_rdf_rdb2rdf_spark.ops.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
            (2, "a b"),                                  # 2 toks
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=8, stride=4)
    got = {
        (r.doc_id, r.chunk_id): (r.start_token, r.n_chunk_tokens, r.chunk_text)
        for r in out.collect()
    }
    toks = [f"t{i}" for i in range(10)]
    assert got == {
        (1, 0): (0, 8, " ".join(toks[0:8])),
        (1, 1): (4, 6, " ".join(toks[4:10])),
        (1, 2): (8, 2, " ".join(toks[8:10])),
        (2, 0): (0, 2, "a b"),
    }
    # non-overlapping default: stride == chunk_tokens
    assert chunk_documents(docs, chunk_tokens=4).where("doc_id = 1").count() == 3


def _ref_bpe(word: str, merges: list) -> list:
    """Independent quadratic reference: apply merge rules strictly in rank
    order, rescanning from scratch after every successful merge — a
    different algorithm shape from the engine's lowest-rank-pair loop, so
    agreement is evidence, not tautology."""
    syms = list(word)
    changed = True
    while changed:
        changed = False
        # find the lowest-ranked pair present anywhere
        for rank, (a, b) in enumerate(merges):
            positions = [
                i for i in range(len(syms) - 1)
                if syms[i] == a and syms[i + 1] == b
            ]
            if not positions:
                continue
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
            changed = True
            break
    return syms


def test_bpe_matches_reference_on_planted_texts(spark):
    """bpe_tokenize / bpe_token_counts vs the independent reference on a
    multi-merge chain (each merge feeds the next), ties, repeats, null and
    empty texts."""
    from p5_rdf_rdb2rdf_spark.ops.text import (
        bpe_encode_word,
        bpe_token_counts,
        bpe_tokenize,
    )

    merges = [("a", "b"), ("ab", "l"), ("t", "abl"), ("tabl", "e"), ("b", "a")]
    ranks = {p: i for i, p in enumerate(merges)}
    words = [
        "table", "tablet", "abab", "baba", "aab", "abba", "b", "",
        "ababab", "tabletable", "xyz",
    ]
    for w in words:
        assert bpe_encode_word(w, ranks) == _ref_bpe(w, merges), w
    assert bpe_encode_word("table", ranks) == ["table"]  # full chain fires

    texts = [
        (1, "table batch value"),
        (2, "abab ab a b"),
        (3, None),
        (4, ""),
        (5, "tabletable table"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got_toks = {
        r.doc_id: r.bpe_tokens for r in bpe_tokenize(df, merges).collect()
    }
    got_counts = {
        r.doc_id: r.n_bpe_tokens for r in bpe_token_counts(df, merges).collect()
    }
    for doc_id, t in texts:
        if t is None:
            assert got_toks[doc_id] is None and got_counts[doc_id] == 0
            continue
        want = [tok for w in t.split() for tok in _ref_bpe(w, merges)]
        assert got_toks[doc_id] == want, (doc_id, got_toks[doc_id], want)
        assert got_counts[doc_id] == len(want)


def test_bpe_counts_feed_pack_sequences(spark):
    """token_col integration: packing by real BPE counts equals packing a
    hand-computed count column."""
    from p5_rdf_rdb2rdf_spark.ops.text import bpe_token_counts, pack_sequences

    merges = [("a", "b")]
    df = spark.createDataFrame(
        [(i, "table batch " * (i + 1)) for i in range(10)],
        "doc_id long, text string",
    )
    counted = bpe_token_counts(df, merges)
    packed = pack_sequences(counted, budget=16, token_col="n_bpe_tokens")
    # under the ab-merge: "table"->t,ab,l,e (4), "batch"->b,a,t,c,h (5 — the
    # a precedes the b, no adjacency): each repeat adds 9
    by_id = {r.doc_id: r for r in packed.collect()}
    prefix = 0
    for i in range(10):
        n = 9 * (i + 1)
        assert by_id[i].n_tokens == n
        assert by_id[i].seq_id == prefix // 16
        assert by_id[i].seq_offset == prefix % 16
        prefix += n
