"""Unit tests for the text-analysis column helpers (operators/textstats).

The table form (text_profile_table) is covered by the oracle compare and
the plan tests; these pin the column-level helpers' values.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from timesearch_spark.operators import textstats as tx
from timesearch_spark.operators.dedup import tokens


import pytest

def _one(spark, text, col):
    return spark.createDataFrame([(text,)], "text string").select(
        col.alias("v")
    ).first()["v"]


def test_token_counts(spark):
    assert _one(spark, "a b  c", tx.token_count_ws("text")) == 3
    assert _one(spark, "", tx.token_count_ws("text")) == 0
    # BPE-ish: letter runs, digit runs, single symbols
    assert _one(spark, "ab12 cd!", tx.token_count_bpe("text")) == 4


def test_lang_id_and_quality(spark):
    en = "the cat sat on the mat and it is a cat for now"
    fr = "le chat et la table de les chats en un salon du jour que"
    assert _one(spark, en, tx.lang_id("text")) == "en"
    assert _one(spark, fr, tx.lang_id("text")) == "fr"
    assert _one(spark, "zzz qqq xxx", tx.lang_id("text")) == "und"
    q = _one(spark, en, tx.quality_score("text"))
    assert 0.0 <= q <= 1.0


def test_fingerprint_rolling_matches_naive_form(spark):
    """The single-traversal aggregate must equal the naive min over
    explicit window slices (the O(n²)-splits form it replaced)."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"tok{i % 11}" for i in range(40))),
            (2, "alpha bravo charlie delta echo foxtrot golf hotel india"),
            (3, "short doc"),                       # below the window
            (4, "exactly eight tokens one two three four five"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    w = 8
    t = tokens("text")
    n = F.size(t)
    naive = F.array_min(
        F.when(
            n >= w,
            F.transform(
                F.sequence(F.lit(1), n - (w - 1)),
                lambda i: F.xxhash64(F.array_join(F.slice(t, i, w), " ")),
            ),
        ).otherwise(F.array(F.xxhash64(F.array_join(t, " "))))
    )
    rows = docs.select(
        "doc_id",
        tx.fingerprint_rolling("text", w).alias("fast"),
        naive.alias("naive"),
    ).collect()
    for r in rows:
        assert r["fast"] == r["naive"], r["doc_id"]


def test_fingerprint_rolling_locality(spark):
    # appending tokens AFTER the minimal gram keeps the fingerprint when
    # the new windows don't beat the minimum — equal fingerprints mark
    # shared content; a fully different doc fingerprints differently
    base = " ".join(f"w{i}" for i in range(20))
    rows = spark.createDataFrame(
        [(1, base), (2, base + " " + base), (3, "totally different words here now "
          + " ".join(f"x{i}" for i in range(10)))],
        "doc_id long, text string",
    ).select("doc_id", tx.fingerprint_rolling("text").alias("fp")).collect()
    fp = {r["doc_id"]: r["fp"] for r in rows}
    assert fp[1] == fp[2]  # doc 2 contains every window of doc 1
    assert fp[3] != fp[1]


def test_profile_table_total_on_empty_docs(spark):
    """ADVICE r4 regression: the single-pass bigram build evaluated
    slice(t, 1, n_t - 1) with length -1 on zero-token documents, crashing
    the stage — empty/whitespace docs are routine in real corpora."""
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, ""), (3, "   \n\t "), (4, "word"), (5, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.text_profile_table(df).collect()}
    assert rows[1]["n_ws"] == 3
    for empty in (2, 3):
        assert rows[empty]["n_ws"] == 0
        assert rows[empty]["lang_guess"] == "und"
        assert rows[empty]["stopword_ratio"] is None
        assert rows[empty]["top_bigram_frac"] is None
    assert rows[4]["n_ws"] == 1  # one token: no bigrams, but counted
    assert rows[4]["top_bigram_frac"] is None


def test_profile_table_quotes_column_names(spark):
    """The profile splices its column names into SQL text through
    ``sqlexpr.ident``: a text column whose name holds a backtick profiles
    exactly like the same column under a plain name."""
    rows = [(1, "the cat sat on the mat"), (2, "a `quoted` line\nagain"),
            (3, "")]
    plain = spark.createDataFrame(rows, "doc_id long, text string")
    odd = plain.withColumnRenamed("text", "my `text`")
    want = sorted(tx.text_profile_table(plain).collect())
    got = sorted(tx.text_profile_table(odd, text_col="my `text`").collect())
    assert got == want


# --- unigram-LM perplexity filter (CCNet-style) --------------------------------

def test_unigram_lm_matches_pure_python_twin(spark):
    """Exactness: vocab logps, OOV, per-doc decimal-exact mean logp and
    ppl all reproduce an independent pure-Python model — including the
    deterministic (count desc, token asc) vocabulary tiebreak and the
    round-to-9-then-decimal-sum aggregation contract."""
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    rng = random.Random(7)
    words = ["the", "cat", "sat", "on", "a", "mat", "zip", "qux"]
    ref_rows = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 12))))
                for i in range(30)]
    score_rows = ref_rows[:10] + [
        (100, "the cat zzz unseen"), (101, "qux qux qux"),
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    docs = spark.createDataFrame(score_rows, "doc_id long, text string")

    V = 5
    vocab, oov = tx.unigram_lm(ref, vocab_size=V, alpha=1.0)
    got_vocab = {r["token"]: r["logp"] for r in vocab.collect()}
    got = {r["doc_id"]: r for r in tx.lm_score(docs, vocab, oov).collect()}

    # pure-Python twin
    counts: dict = {}
    for _, t in ref_rows:
        for w in t.lower().split():
            counts[w] = counts.get(w, 0) + 1
    n_total = sum(counts.values())
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:V]
    v = min(len(counts), V)
    denom = n_total + 1.0 * (v + 1)
    exp_vocab = {w: math.log((c + 1.0) / denom) for w, c in top}
    exp_oov = math.log(1.0 / denom)
    assert set(got_vocab) == set(exp_vocab)
    for w, lp in exp_vocab.items():
        assert abs(got_vocab[w] - lp) < 1e-12
    assert abs(oov - exp_oov) < 1e-12

    def r9(x):
        return Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)

    for did, text in score_rows:
        toks = text.lower().split()
        s = sum(r9(exp_vocab.get(w, exp_oov)) for w in toks)
        avg = float(s / len(toks))
        row = got[did]
        assert row["n_tok"] == len(toks)
        assert abs(row["avg_logp"] - round(avg, 9)) < 1e-9
        assert abs(row["ppl"] - round(math.exp(-avg), 6)) < 1e-6


@pytest.mark.slow
def test_lm_score_separates_clean_from_garbage_and_buckets(spark):
    """The filter's reason to exist: reference-like text scores lower
    perplexity than token soup; zero-token docs keep a row (n_tok=0,
    null ppl) and bucket as tail; lm_thresholds + lm_bucket split
    head/middle/tail at corpus fractions."""
    clean = "the quick brown fox jumps over the lazy dog and the cat"
    ref = spark.createDataFrame(
        [(i, clean) for i in range(20)], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, clean), (2, "xqj zvv kpl wmt rrq bbn"), (3, "   ")],
        "doc_id long, text string")
    vocab, oov = tx.unigram_lm(ref, vocab_size=100)
    scored = tx.lm_score(docs, vocab, oov)
    rows = {r["doc_id"]: r for r in scored.collect()}
    assert rows[1]["ppl"] < rows[2]["ppl"]
    assert rows[3]["n_tok"] == 0 and rows[3]["ppl"] is None

    lo, hi = tx.lm_thresholds(scored.filter("n_tok > 0"), (0.5, 0.9))
    assert lo <= hi
    # bucket with explicit cut points strictly between the two ppls:
    # clean lands head, garbage tail, null-ppl (zero-token) tail
    cut_lo = rows[1]["ppl"] + 0.001
    cut_hi = rows[2]["ppl"] - 0.001
    b = {r["doc_id"]: r["bucket"]
         for r in tx.lm_bucket(scored, cut_lo, cut_hi).collect()}
    assert b[1] == "head"      # the reference text itself
    assert b[2] == "tail"      # garbage lands past hi
    assert b[3] == "tail"      # null ppl -> tail


def test_text_lm_ppl_registry_query_is_stable(spark):
    """The registry entry returns one row per document with run-stable
    values: two executions hash identically (the decimal-sum contract —
    float partial-sum ordering must not leak into results)."""
    from timesearch_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, QUERIES["text_lm_ppl"](spark, sf).collect()))
    b = sorted(map(tuple, QUERIES["text_lm_ppl"](spark, sf).collect()))
    assert a == b
    assert len(a) > 0
    assert all(r[1] == 0 or r[3] is not None for r in a)  # ppl set iff tokens


def test_bigram_lm_matches_pure_python_twin(spark):
    """Bigram stupid-backoff exactness against an independent Python
    model: conditional bigram logps (add-α over c1 + α(V+1)), λ·p_uni
    backoff for unseen transitions, plain unigram for first tokens,
    OOV floor, and the decimal aggregation contract."""
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    rng = random.Random(11)
    words = ["the", "cat", "sat", "mat", "ran", "dog"]
    ref_rows = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(2, 9))))
                for i in range(25)]
    score_rows = ref_rows[:8] + [(90, "the cat unseen zz"), (91, "")]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    docs = spark.createDataFrame(score_rows, "doc_id long, text string")

    V, B = 4, 10
    uni, bi, oov = tx.bigram_lm(ref, vocab_size=V, bigram_size=B)
    got = {r["doc_id"]: r
           for r in tx.lm_score_bigram(docs, uni, bi, oov).collect()}

    # python twin
    ucounts: dict = {}
    bcounts: dict = {}
    for _, t in ref_rows:
        ws = t.lower().split()
        for w in ws:
            ucounts[w] = ucounts.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bcounts[(a, b)] = bcounts.get((a, b), 0) + 1
    n_total = sum(ucounts.values())
    v = min(len(ucounts), V)
    denom = n_total + 1.0 * (v + 1)
    topu = dict(sorted(ucounts.items(), key=lambda kv: (-kv[1], kv[0]))[:V])
    exp_uni = {w: math.log((c + 1.0) / denom) for w, c in topu.items()}
    exp_oov = math.log(1.0 / denom)
    topb = sorted(bcounts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:B]
    exp_bi = {p: math.log((c + 1.0) / (ucounts[p[0]] + 1.0 * (v + 1)))
              for p, c in topb}

    def r9(x):
        return Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)

    lam = math.log(tx.BACKOFF_LAMBDA)
    for did, text in score_rows:
        ws = text.lower().split()
        row = got[did]
        assert row["n_tok"] == len(ws)
        if not ws:
            assert row["ppl"] is None
            continue
        lps = []
        for i, w in enumerate(ws):
            pu = exp_uni.get(w, exp_oov)
            if i == 0:
                lps.append(pu)
            elif (ws[i - 1], w) in exp_bi:
                lps.append(exp_bi[(ws[i - 1], w)])
            else:
                lps.append(lam + pu)
        avg = float(sum(r9(x) for x in lps) / len(ws))
        assert abs(row["avg_logp"] - round(avg, 9)) < 1e-9
        assert abs(row["ppl"] - round(math.exp(-avg), 6)) < 1e-6


@pytest.mark.slow
def test_bigram_lm_catches_common_word_salad(spark):
    """The case the unigram filter is BLIND to: salad built from the
    corpus's most common words has excellent unigram ppl but absurd
    transitions — the bigram model must rank it behind real text while
    the unigram model ranks it AHEAD (that inversion is the reason the
    bigram arm exists)."""
    ref_rows = [(i, "the cat sat on the mat and the dog ran to the gate")
                for i in range(15)]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the the the and and the")],
        "doc_id long, text string")

    vocab, oov = tx.unigram_lm(ref, vocab_size=100)
    u = {r["doc_id"]: r["ppl"]
         for r in tx.lm_score(docs, vocab, oov).collect()}
    assert u[2] < u[1]  # unigram is fooled: salad is all top tokens

    uni, bi, boov = tx.bigram_lm(ref, vocab_size=100, bigram_size=1000)
    b = {r["doc_id"]: r["ppl"]
         for r in tx.lm_score_bigram(docs, uni, bi, boov).collect()}
    assert b[1] < b[2]  # transitions expose it


def test_quality_classifier_separates_and_is_deterministic(spark):
    """r12: the fastText-style hashed linear quality filter — trained on
    clean-vs-soup samples it separates held-out docs decisively; the
    driver-arm fit is bit-deterministic; zero-token docs score
    sigmoid(bias); hyperparameter misuse raises."""
    import pytest

    from timesearch_spark.operators.textstats import (
        quality_clf_score, train_quality_classifier,
    )

    clean = ["the cat sat on the mat and it is a fine day %d" % i
             for i in range(30)]
    soup = ["xqj zvv kpl wmt rrq bbn qpw ooz vvz %d" % i for i in range(30)]
    pos = spark.createDataFrame([(t,) for t in clean], "text string")
    neg = spark.createDataFrame([(t,) for t in soup], "text string")
    W, b = train_quality_classifier(pos, neg, dim=1 << 12)

    test = spark.createDataFrame(
        [(1, "the dog sat on the mat on a fine day"),
         (2, "kpl wmt rrq bbn xqj zvv"),
         (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tok"], float(r["score"]))
           for r in quality_clf_score(test, W, b, dim=1 << 12).collect()}
    assert out[1][1] > 0.9 and out[2][1] < 0.1
    import math
    assert out[3][0] == 0
    assert abs(out[3][1] - 1.0 / (1.0 + math.exp(-b))) < 1e-6

    W2, b2 = train_quality_classifier(pos, neg, dim=1 << 12)
    assert b2 == b
    assert sorted((r["idx"], r["w"]) for r in W2.collect()) == \
        sorted((r["idx"], r["w"]) for r in W.collect())

    with pytest.raises(ValueError, match="hyperparameters"):
        train_quality_classifier(pos, neg, iters=0)
    with pytest.raises(ValueError, match="empty training set"):
        train_quality_classifier(pos.limit(0), neg.limit(0))

    # r14 (ADVICE): the trained table carries a feature-recipe version
    # sentinel; a weights table from a DIFFERENT recipe (e.g. persisted
    # pre-r13, before word-bigram features) must raise at score time,
    # not hash bigram indices into unigram slots silently.
    from pyspark.sql import functions as F

    from timesearch_spark.operators.textstats import (
        _QCLF_VERSION_IDX, QCLF_FEATURE_VERSION,
    )

    sent = W.filter(F.col("idx") == _QCLF_VERSION_IDX).collect()
    assert [(r["idx"], r["w"]) for r in sent] == \
        [(_QCLF_VERSION_IDX, float(QCLF_FEATURE_VERSION))]
    unversioned = W.filter(F.col("idx") != _QCLF_VERSION_IDX)
    with pytest.raises(ValueError, match="unversioned"):
        quality_clf_score(test, unversioned, b, dim=1 << 12)
    stale = unversioned.unionByName(
        spark.createDataFrame(
            [(_QCLF_VERSION_IDX, float(QCLF_FEATURE_VERSION - 1))],
            unversioned.schema)
    )
    with pytest.raises(ValueError, match="feature\\s+recipe"):
        quality_clf_score(test, stale, b, dim=1 << 12)


@pytest.mark.slow
def test_quality_classifier_catches_common_word_salad_alone(spark):
    """r13 word-bigram features: scrambled-word documents have the SAME
    unigram bag as their clean sources, so a unigram-only hashed bag
    scored them identically (the inversion the bigram LM had to catch
    downstream).  With (tok_i, tok_{i+1}) features hashed into the same
    space, the classifier ALONE separates clean from salad — trained
    only on clean-vs-scrambled samples of DIFFERENT sentences."""
    import random

    from timesearch_spark.operators.textstats import (
        quality_clf_score, train_quality_classifier,
    )

    rng = random.Random(5)
    base = ("the quick brown fox jumps over the lazy dog and the small "
            "cat sits on a warm mat near the old door")
    words = base.split()

    def scramble(seed):
        w = list(words)
        random.Random(seed).shuffle(w)
        return " ".join(w)

    clean = [" ".join(words[rng.randrange(0, 3):]) + " %d" % i
             for i in range(40)]
    pos = spark.createDataFrame([(t,) for t in clean], "text string")
    neg = spark.createDataFrame(
        [(scramble(i),) for i in range(40)], "text string")
    W, b = train_quality_classifier(pos, neg, dim=1 << 13)

    # held-out pair: identical token MULTISET, different order
    test = spark.createDataFrame(
        [(1, base), (2, scramble(999))], "doc_id long, text string")
    out = {r["doc_id"]: float(r["score"])
           for r in quality_clf_score(test, W, b, dim=1 << 13).collect()}
    assert out[1] > out[2] + 0.2, out  # clean wins decisively


def test_quality_classifier_distributed_arm_agrees(spark):
    """Forcing the gate (max_driver_rows=0) takes the relational GD
    loop: same separation direction and close scores — float gradient
    summation order differs between arms, so exact equality is not the
    contract (the docstring says so); scoring itself stays decimal-
    deterministic either way."""
    from timesearch_spark.operators.textstats import (
        quality_clf_score, train_quality_classifier,
    )

    clean = ["the cat sat on the mat and it is a fine day %d" % i
             for i in range(20)]
    soup = ["xqj zvv kpl wmt rrq bbn qpw ooz vvz %d" % i for i in range(20)]
    pos = spark.createDataFrame([(t,) for t in clean], "text string")
    neg = spark.createDataFrame([(t,) for t in soup], "text string")
    kw = dict(dim=1 << 12, iters=60, lr=10.0)
    Wd, bd = train_quality_classifier(pos, neg, **kw)
    Wx, bx = train_quality_classifier(pos, neg, max_driver_rows=0, **kw)

    test = spark.createDataFrame(
        [(1, "the dog sat on the mat on a fine day"),
         (2, "kpl wmt rrq bbn xqj zvv")],
        "doc_id long, text string")
    sd = {r["doc_id"]: float(r["score"])
          for r in quality_clf_score(test, Wd, bd, dim=1 << 12).collect()}
    sx = {r["doc_id"]: float(r["score"])
          for r in quality_clf_score(test, Wx, bx, dim=1 << 12).collect()}
    assert sd[1] > 0.8 and sx[1] > 0.8
    assert sd[2] < 0.2 and sx[2] < 0.2
    for k in sd:
        assert abs(sd[k] - sx[k]) < 0.05, (k, sd[k], sx[k])


def test_quality_clf_score_matches_decimal_twin(spark):
    """Scoring exactness: a pure-Python Decimal twin — same tokenizer,
    9-dp per-term rounding, exact decimal summation — reproduces the
    engine's scores BIT-EQUAL (the idx mapping is fetched from the
    engine's own hash, since xxhash64 has no pure-Python twin here; the
    aggregation and rounding semantics are what this pins).  The plan
    keeps Python out: no row-at-a-time or Arrow eval nodes."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from timesearch_spark.operators.textstats import (
        _QCLF_SEED, quality_clf_score, train_quality_classifier,
    )

    dim = 1 << 10
    pos = spark.createDataFrame(
        [("the cat sat on the mat and it is fine %d" % i,) for i in range(8)],
        "text string")
    neg = spark.createDataFrame(
        [("zzq vvk ppl mmt and rrq %d" % i,) for i in range(8)],
        "text string")
    W, b = train_quality_classifier(pos, neg, dim=dim, iters=40, lr=10.0)
    wmap = {r["idx"]: r["w"] for r in W.collect()}

    docs = [
        (1, "The cat SAT on the mat"),
        (2, "zzq vvk ppl"),
        (3, "mixed the zzq bag of words"),
        (4, ""),
        (5, "  spaced   out   the   cat  "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tok"], r["z"], r["score"])
           for r in quality_clf_score(df, W, b, dim=dim).collect()}

    # engine-derived feature -> idx maps (hash parity by construction):
    # unigrams AND adjacent-pair word bigrams (r13 feature set)
    toks = sorted({t for _, tx in docs for t in tx.lower().split()})
    pairs = sorted({(tl[i], tl[i + 1])
                    for _, tx in docs
                    for tl in [tx.lower().split()]
                    for i in range(len(tl) - 1)})
    idx_rows = spark.createDataFrame([(t,) for t in toks], "t string").select(
        "t", F.pmod(F.xxhash64(F.lit(_QCLF_SEED), F.col("t")), F.lit(dim))
        .cast("int").alias("idx")).collect()
    idx_of = {r["t"]: r["idx"] for r in idx_rows}
    pair_rows = spark.createDataFrame(
        list(pairs), "a string, b string").select(
        "a", "b",
        F.pmod(F.xxhash64(F.lit(_QCLF_SEED), F.col("a"), F.col("b")),
               F.lit(dim)).cast("int").alias("idx")).collect()
    idx_of_pair = {(r["a"], r["b"]): r["idx"] for r in pair_rows}

    import math
    for did, tx in docs:
        tl = [t for t in tx.lower().strip().split()]
        tl = [t for t in tl if t]
        n = len(tl)
        feats = [idx_of[t] for t in tl] + [
            idx_of_pair[(tl[i], tl[i + 1])] for i in range(n - 1)]
        nf = len(feats)
        # per-(id, idx) grouping: sum count/nf per distinct idx, round
        z = Decimal(0)
        from collections import Counter
        cnt = Counter(feats)
        for ix, c in cnt.items():
            z += Decimal(str(round((c / nf) * wmap.get(ix, 0.0), 9)))
        # r15 contract: z is the pinned 9-dp logit, score derives from it
        z9 = round(float(z) + b, 9)
        score = round(1.0 / (1.0 + math.exp(-z9)), 6)
        assert got[did][0] == n
        assert float(got[did][1]) == z9, (did, got[did], z9)
        assert float(got[did][2]) == score, (did, got[did], score)

    plan = quality_clf_score(df, W, b, dim=dim) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_html_to_text_extraction(spark):
    """r14 html_to_text (web-corpus ingestion stage): script/style/
    comment subtrees drop wholesale, block boundaries become newlines
    BEFORE tags strip (no word fusion), remaining tags strip, entities
    unescape AFTER stripping (escaped markup stays literal), whitespace
    canonicalizes, NULL flows through; the full_entities Arrow arm
    agrees on the named subset and extends it; and the whole JVM chain
    is reproduced cell-for-cell by a DuckDB regexp twin (RE2 vs Java
    regex on the same patterns)."""
    import duckdb

    from timesearch_spark.operators.textstats import html_to_text

    fixtures = [
        # script/style/comment content must vanish even with < > inside
        ("<script>if(a<b && c>d){x('</div>')}</script>keep", "keep"),
        ("<style>p{color:red}</style>body", "body"),
        ("a<!-- hidden <b>bold</b> -->z", "az"),
        # block boundaries prevent word fusion; inline tags don't break
        ("<p>one</p><p>two</p>", "one\ntwo"),
        ("<h1>Title</h1><div>body <b>bold</b> text</div>", "Title\nbody bold text"),
        ("line<br>break<hr>rule", "line\nbreak\nrule"),
        # adjacent terminators (</li></ul>) leave a paragraph break
        ("<ul><li>a</li><li>b</li></ul>c", "a\nb\n\nc"),
        # entities unescape AFTER stripping: escaped markup stays text
        ("&lt;script&gt;alert(1)&lt;/script&gt;", "<script>alert(1)</script>"),
        ("Tom &amp; Jerry&nbsp;&quot;cat&#39;s&quot;", "Tom & Jerry \"cat's\""),
        # double-escape stays single-unescaped (&amp; handled last)
        ("&amp;lt;", "&lt;"),
        # whitespace canon: tabs/space runs, spaces around newlines, 3+
        ("  a\t\tb  \n   c\n\n\n\nd  ", "a b\nc\n\nd"),
        # attributes stripped with the tag
        ('<a href="http://x.y?q=1&amp;r=2" title="hi">link</a>', "link"),
        ("plain text untouched", "plain text untouched"),
        ("", ""),
        (None, None),
    ]
    docs = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(fixtures)], "i long, html string")
    got = {r["i"]: r["t"]
           for r in docs.select("i", html_to_text("html").alias("t")).collect()}
    for i, (h, want) in enumerate(fixtures):
        assert got[i] == want, (h, got[i], want)

    # full_entities (Arrow html.unescape): agrees on the named subset,
    # extends to exotic entities the JVM path passes through
    extra = spark.createDataFrame(
        [(0, "&copy; 2020 &mdash; caf&eacute;"), (1, "Tom &amp; J&nbsp;x")],
        "i long, html string")
    full = {r["i"]: r["t"] for r in extra.select(
        "i", html_to_text("html", full_entities=True).alias("t")).collect()}
    assert full[0] == "© 2020 — café"
    assert full[1] == "Tom & J x"

    # DuckDB twin: the same pipeline as RE2 regexp_replace chain —
    # cell-identical on every fixture (the exactness pin that would
    # back a future oracle promotion)
    con = duckdb.connect()
    con.execute("CREATE TABLE h(i BIGINT, html VARCHAR)")
    con.executemany("INSERT INTO h VALUES (?, ?)",
                    [(i, f[0]) for i, f in enumerate(fixtures)])
    twin = dict(con.execute(r"""
      WITH s AS (
        SELECT i, regexp_replace(regexp_replace(regexp_replace(html,
                 '<script\b.*?</script\s*>', '', 'gis'),
                 '<style\b.*?</style\s*>', '', 'gis'),
                 '<!--.*?-->', '', 'gs') AS x FROM h),
      b AS (
        SELECT i, regexp_replace(regexp_replace(x,
                 '<br\s*/?>|<hr\s*/?>|</p\s*>|</div\s*>|</li\s*>|</tr\s*>|</h[1-6]\s*>|</blockquote\s*>|</pre\s*>|</section\s*>|</article\s*>|</title\s*>|</ul\s*>|</ol\s*>|</table\s*>',
                 chr(10), 'gi'), '<[^>]*>', '', 'g') AS x FROM s),
      e AS (
        SELECT i, replace(replace(replace(replace(replace(replace(x,
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS x
        FROM b),
      w AS (
        SELECT i, trim(regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(x,
                 '[ \t\r\f\x0b]+', ' ', 'g'),
                 ' *\n *', chr(10), 'g'),
                 '\n{3,}', chr(10) || chr(10), 'g'),
                 '^\n+|\n+$', '', 'g')) AS x FROM e)
      SELECT i, x FROM w
    """).fetchall())
    for i, (h, want) in enumerate(fixtures):
        assert twin[i] == got[i], (h, twin[i], got[i])

    # registry entry: roundtrip over the documents table — the escaped
    # original text must come back out of the synthetic page
    import __spark_entry__ as m

    from tests.conftest import SF_SMALL

    reg = m.queries()["text_html_extract"](spark, SF_SMALL)
    assert set(reg.columns) == {"doc_id", "extracted", "text_bytes",
                                "roundtrip_ok"}
    rows = reg.collect()
    assert rows and all(r["roundtrip_ok"] for r in rows)


def test_html_to_text_adversarial_real_world_fragments(spark):
    """r15 (VERDICT #7): adversarial fragments from the real-web
    corner-case families — nested tables, attribute '>', CDATA,
    conditional comments, unclosed script/style, multi-line tags —
    with every output PINNED and each divergence from a DOM extractor
    documented inline as the regex-class limitation it is (jusText's
    preprocessing shares the same blind spots; README §limitations)."""
    from timesearch_spark.operators.textstats import html_to_text

    fixtures = [
        # tables: </tr>/</table> are block boundaries, </td> is NOT —
        # cells inside one row fuse ("ab"), a DOM extractor would
        # separate them; rows still break
        ("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td></tr>"
         "</table>end", "ab\nc\n\nend"),
        # NESTED table: the inner </table> newline survives; cell
        # nesting order flattens (regex has no tree)
        ("<table><tr><td>out<table><tr><td>in</td></tr></table></td>"
         "</tr></table>tail", "outin\n\ntail"),
        # literal '>' inside a quoted attribute truncates THAT tag at
        # the '>' — the rest of the attribute leaks as text (the
        # documented blind spot of every regex extractor; a DOM parser
        # would emit just 'link after')
        ('<a href="x>y" title="t">link</a> after',
         'y" title="t">link after'),
        # CDATA: the '<![CDATA[…<b' prefix dies in the tag-strip, the
        # ']]>' suffix has no '<' and leaks as text (DOM: raw text kept
        # verbatim, markers dropped)
        ("<![CDATA[raw <b>not bold</b>]]>tail", "not bold]]>tail"),
        # downlevel-hidden conditional comment: a real comment —
        # dropped wholesale, matching browsers outside IE
        ("<!--[if IE]>IE only<![endif]-->after", "after"),
        # downlevel-REVEALED variant: both comment halves drop, the
        # revealed payload stays — matches modern-browser rendering
        ("<!--[if !IE]><!-->both<!--<![endif]-->x", "bothx"),
        # unclosed script/style: the reluctant span never matches, so
        # only the open TAG is stripped and the code leaks as text
        # (a DOM parser would swallow to EOF; fail-open keeps content)
        ("<script>var a=1; no closer", "var a=1; no closer"),
        ("<style>p{x} no closer", "p{x} no closer"),
        # case-insensitive block handling
        ("<DIV>x</DIV>y", "x\ny"),
        # self-closing br spellings, with and without space
        ("a<br/>b<BR />c<br >d", "a\nb\nc\nd"),
        # numeric & unknown entities pass through on the JVM path
        # (full_entities=True is the exact-parity arm); &amp; single-
        # unescapes last
        ("&#65;bc &unknown; &amp;amp;", "&#65;bc &unknown; &amp;"),
        # <pre>: whitespace canon collapses runs and indentation that a
        # DOM extractor would preserve — documented formatting loss
        ("<pre>  spaced   code\n    indented</pre>tail",
         "spaced code\nindented\ntail"),
        # whitespace inside tags (open and close)
        ("<p >space in open tag</p >q", "space in open tag\nq"),
        # attributes spanning lines: '<[^>]*>' crosses \n fine
        ("<div\nclass='multi\nline'>body</div>z", "body\nz"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(fixtures)],
        "i long, html string")
    got = {r["i"]: r["t"] for r in
           df.select("i", html_to_text("html").alias("t")).collect()}
    for i, (h, want) in enumerate(fixtures):
        assert got[i] == want, (h, got[i], want)


def test_qclf_hash_family_has_one_spelling(spark):
    """The feature hash families are spelled as in dedup and corpus:
    "xxhash64" and "md5"; any other name raises."""
    for family in ("xxhash64", "md5"):
        tx._qclf_feature_idx("t", 16, hash_family=family)
    with pytest.raises(ValueError, match="unknown hash_family"):
        tx._qclf_feature_idx("t", 16, hash_family="xx64")
