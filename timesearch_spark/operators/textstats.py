"""Text analysis (engine extension: LLM-training-pipeline surface).

Language ID (stopword-hit heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting.  Everything is built-in expressions — JVM-side,
codegen'd, zero Python in the hot path — so at 100 TB these are pure
map-stage columns with no shuffle at all.

The reference computes only ``textlen`` (tsdb.py:424,485); the rest is
the training-pipeline extension mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from timesearch_spark.functions.sqlexpr import ident, lit
from timesearch_spark.operators.dedup import tokens


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- token counting -----------------------------------------------------------

def token_count_ws(col) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col)).cast("long")


#: BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
#: (the GPT-2 pattern family, simplified to RE2-compatible classes).
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe(col) -> Column:
    """Count of BPE-ish pre-tokens (letters runs, digit runs, symbols)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_REGEX), 0)).cast("long")


# --- quality scoring ------------------------------------------------------------

#: Tiny high-frequency stopword sets per language (language-ID heuristic
#: seeds; enough to discriminate, small enough to stay a literal array).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}


def stopword_hits(col, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(sw, t))).cast("long")


def punct_ratio(col) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = _c(col)
    total = F.length(c)
    clean = F.length(F.regexp_replace(c, r"[^A-Za-z0-9\s]", ""))
    return F.when(total > 0, (total - clean).cast("double") / total.cast("double"))


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    stopword presence + mean-word-length band.  Deterministic, documented
    weights — a filterable signal, not a model."""
    c = _c(col)
    n_tok = token_count_ws(c)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(c) <= 0.2, 1.0).otherwise(0.4)
    sw_ratio = F.when(n_tok > 0, stopword_hits(c, "en").cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    sw_ok = F.when(sw_ratio >= 0.02, 1.0).otherwise(0.5)
    mean_wl = F.when(n_tok > 0, F.length(F.regexp_replace(c, r"\s+", "")).cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    wl_ok = F.when((mean_wl >= 2.0) & (mean_wl <= 12.0), 1.0).otherwise(0.5)
    return (0.3 * len_ok + 0.2 * punct_ok + 0.3 * sw_ok + 0.2 * wl_ok).cast("double")


# --- language ID -----------------------------------------------------------------

def lang_id(col) -> Column:
    """Argmax language by stopword hits; ties broken by language code
    order; all-zero scores → 'und' (undetermined)."""
    t = tokens(col)
    best = None
    best_score = None
    for lang in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        score = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
        if best is None:
            best, best_score = F.lit(lang), score
        else:
            cond = score > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, score).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


# --- fingerprinting ---------------------------------------------------------------

def fingerprint_md5(col) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")
    return F.md5(norm)


def fingerprint_rolling(col, window: int = 8) -> Column:
    """Winnowing-style rolling fingerprint: min over the document of
    xxhash64 of each ``window``-token gram — a locality-sensitive scalar
    (equal for documents sharing their minimal gram); documents shorter
    than ``window`` hash their whole token join.

    Single ``aggregate`` traversal carrying (last window-1 tokens, best
    hash): the tokenizing split evaluates once and each step does O(w)
    work.  The natural transform(sequence, i -> slice(t, i, w)) form
    re-evaluates the split inside the interpreted lambda for every i —
    O(n²) splits per document (the text_profile lesson)."""
    t = tokens(col)
    init = F.struct(
        F.array().cast("array<string>").alias("buf"),
        F.lit(None).cast("long").alias("best"),
    )

    def step(acc, x):
        nb = F.concat(acc["buf"], F.array(x))
        full = F.size(nb) >= window
        h = F.xxhash64(F.array_join(nb, " "))
        best = F.when(
            full, F.least(F.coalesce(acc["best"], h), h)
        ).otherwise(acc["best"])
        buf = F.when(full, F.slice(nb, 2, window - 1)).otherwise(nb)
        return F.struct(buf.alias("buf"), best.alias("best"))

    res = F.aggregate(t, init, step)
    return F.coalesce(res["best"], F.xxhash64(F.array_join(t, " ")))


# --- one-pass profile table -------------------------------------------------------

def text_profile_table(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, n_ws, n_bpe, sw_hits, punct_ratio, stopword_ratio, lang_guess,
    fp): the full text-analysis profile in one narrow-relation pass.

    The column-level helpers above are higher-order-function expressions,
    which Spark interprets per array element — fine for one signal,
    wasteful for seven (each re-walks the token array outside codegen).
    This table form uses the same rewrite that carried minhash/simhash:
    explode tokens once, then ONE codegen'd hash-aggregate computes the
    token count and every language's stopword hits together (map-side
    partial agg collapses each doc's tokens before the shuffle, so only
    one narrow row per doc moves).  Per-document scalars that never look
    at tokens (BPE count, punct ratio, md5 fingerprint) stay a pure map
    stage and join back on the id — two narrow shuffles total, ~2× the
    throughput of the HOF form at any scale.

    Zero-token documents keep the HOF semantics: hits coalesce to 0 so
    ``lang_guess`` is 'und' and ``stopword_ratio`` is NULL (0/0).

    Repetition signals (the Gopher-rule family for repetitive /
    boilerplate text): ``dup_line_frac`` = 1 − distinct/total over
    non-blank lines (cheap HOF — line counts are tiny), and
    ``top_bigram_frac`` = occurrences of the most frequent word bigram
    over total bigrams (NULL below 2 tokens), folded into the same
    explode/aggregate pass as the token stats via a kind tag.
    """
    from timesearch_spark.tables import spread

    d = spread(df)
    if not isinstance(text_col, str):
        # the expr-string fast path below needs a column NAME; callers
        # passing a Column get it projected under an internal one
        d = d.withColumn("__prof_text", text_col)
        text_col = "__prof_text"
    langs = sorted(STOPWORDS)

    # r16 (guide §4 — the JVM boundary is for ROWS, but the DRIVER pays
    # it per Column op too): the Column-method form of this builder made
    # ~4,300 py4j round trips per construction (~1.2 s of driver wall
    # before any job, measured with a send_command counter), and the
    # bench pays that on every entry that embeds the profile (the
    # curate ladder's quality rung, text_profile, the clf gates).
    # Build the big expressions as SQL STRINGS instead — one py4j call
    # parses each whole expression JVM-side.  Every string mirrors the
    # previous Column tree function-for-function (same tokenizer regex,
    # same CASE/NULL semantics, same round/try_divide), so the resolved
    # plan — and the hash-oracled output — is unchanged.
    T = ident(text_col)
    I = ident(id_col)
    tok = rf"filter(split(lower(trim({T})), '\\s+'), x -> x != '')"

    # ONE explode feeds both the token stats and the bigram stats:
    # each document emits its tokens tagged 't' and its bigrams tagged
    # 'g' (bigrams built linearly — zip the token array against itself
    # shifted by one; the r3 form, transform(sequence(1, n-1),
    # i -> slice(t, i, 2)), re-evaluated the tokenizing split() inside
    # the lambda for EVERY i since interpreted HOFs don't CSE the
    # captured subtree, i.e. O(n²) splits per document).  Two hash
    # aggregates then produce everything: (id, kind, gram) counts —
    # map-side partially combined before the only wide shuffle — and a
    # per-id rollup with conditional aggs.  One join back to the scalar
    # map stage instead of r3's two.
    #
    # slice() rejects negative lengths, and unlike the filter-guarded r3
    # form this single-pass build evaluates for EVERY row — clamp so
    # zero/one-token (empty or whitespace-only) documents yield an empty
    # bigram array instead of crashing the stage.
    bg_len = f"greatest(size({tok}) - 1, 0)"
    tagged = d.selectExpr(
        f"{I} AS {I}",
        f"""explode(concat(
            transform({tok}, x -> struct('t' AS k, x AS g)),
            transform(
                zip_with(slice({tok}, 1, {bg_len}), slice({tok}, 2, {bg_len}),
                         (a, b) -> concat_ws(' ', a, b)),
                x -> struct('g' AS k, x AS g))
        )) AS e""",
    ).selectExpr(f"{I}", "e.k AS __k", "e.g AS __g")
    counts = tagged.groupBy(id_col, "__k", "__g").agg(F.count("*").alias("__c"))

    tstats = counts.groupBy(id_col).agg(
        F.expr("sum(CASE WHEN __k = 't' THEN __c END)").alias("n_ws"),
        *[
            F.expr(
                "sum(CASE WHEN __k = 't' AND __g IN "
                f"({', '.join(map(lit, STOPWORDS[lang]))}) "
                "THEN __c ELSE 0 END)"
            ).alias(f"__h_{lang}")
            for lang in langs
        ],
        F.expr(
            "round(CAST(max(CASE WHEN NOT (__k = 't') THEN __c END) AS DOUBLE)"
            " / CAST(sum(CASE WHEN NOT (__k = 't') THEN __c END) AS DOUBLE), 6)"
        ).alias("top_bigram_frac"),
    )

    lines = rf"filter(split({T}, '\n'), x -> trim(x) != '')"
    bpe_sql = BPE_REGEX.replace("\\", "\\\\").replace("'", "''")
    scal = d.selectExpr(
        f"{I} AS {I}",
        rf"CAST(size(regexp_extract_all({T}, "
        rf"'{bpe_sql}', 0)) AS BIGINT) AS n_bpe",
        rf"round(CASE WHEN length({T}) > 0 THEN "
        rf"CAST(length({T}) - length(regexp_replace({T}, '[^A-Za-z0-9\\s]', ''))"
        rf" AS DOUBLE) / CAST(length({T}) AS DOUBLE) END, 6) AS punct_ratio",
        rf"md5(regexp_replace(lower(trim({T})), '\\s+', ' ')) AS fp",
        f"CASE WHEN size({lines}) > 0 THEN "
        f"round(1.0D - CAST(size(array_distinct({lines})) AS DOUBLE)"
        f" / CAST(size({lines}) AS DOUBLE), 6) END AS dup_line_frac",
    )
    prof = scal.join(tstats, id_col, "left")
    hits = {lang: f"coalesce(__h_{lang}, 0)" for lang in langs}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    lang_expr = f"CASE WHEN {best} = 0 THEN 'und' " + " ".join(
        # ties: first language in code order wins
        f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return prof.selectExpr(
        f"{I}",
        "coalesce(n_ws, 0) AS n_ws",
        "n_bpe",
        f"{hits['en']} AS sw_hits",
        "punct_ratio",
        # try_divide, not `/`: ANSI mode raises DIVIDE_BY_ZERO on the
        # 0/0 of a zero-token document; the contract is NULL there
        f"round(try_divide(CAST({hits['en']} AS DOUBLE), "
        "CAST(coalesce(n_ws, 0) AS DOUBLE)), 6) AS stopword_ratio",
        f"{lang_expr} AS lang_guess",
        "fp",
        "dup_line_frac",
        "top_bigram_frac",
    )


# --- unigram-LM quality filter (CCNet-style perplexity bucketing) -------------
#
# Public-literature recipe (CCNet, Wenzek et al. 2020; the reference has
# nothing like it — pure training-pipeline extension): score every
# document by its per-token log-probability under a language model
# built from a trusted reference corpus, then bucket head/middle/tail
# by perplexity and keep the head.  CCNet uses a KenLM 5-gram; the
# distributed re-expression here is an add-alpha-smoothed UNIGRAM model
# — the rank ordering clean-vs-garbage is what the filter needs, and a
# unigram vocabulary is broadcastable state (top-V tokens), which keeps
# scoring a single map-side pass at any corpus size.

def unigram_lm(ref: "DataFrame", text_col: str = "text",
               vocab_size: int = 50_000, alpha: float = 1.0):
    """Build the model from a trusted reference corpus: returns
    ``(vocab, oov_logp)`` where ``vocab`` is a (token, logp) DataFrame
    of the ``vocab_size`` most frequent tokens and ``oov_logp`` the
    smoothed out-of-vocabulary log-probability.

    logp(t) = ln((c_t + α) / (N + α·(V+1))) with N = total reference
    token count (ALL tokens, in- and out-of-vocab) and V the realized
    vocabulary size — one explode + hash-agg over the reference, a
    global top-V on the (distinct-token-sized) count relation, two
    scalar aggregates.  Index-BUILD-time op, like similarity
    .train_codebook: run once, persist the vocab, broadcast at scoring.
    Vocabulary ties at equal count break on token ascending, so the
    model is deterministic for a fixed (corpus, vocab_size)."""
    import math

    # r15 (guide §1.2/§5): the totals row and the top-V collect are two
    # jobs over the SAME count relation — unpersisted, each re-ran the
    # full reference tokenize+explode+hash-agg.  Persist the aggregated
    # (token, count) rows across the two bounded jobs: the relation is
    # distinct-vocabulary-sized (far below corpus size, disk-spillable
    # at web scale), and the persist replaces an entire second pass
    # over the reference corpus.  Values are untouched — same counts,
    # same top-V, same libm logs (the oracle recipe).
    counts = (
        ref.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token").count()
    ).persist()
    try:
        tot = counts.agg(
            F.sum("count").alias("n"), F.count("*").alias("distinct")
        ).first()
        n_total = int(tot["n"] or 0)
        vocab_counts = (
            counts.orderBy(F.desc("count"), F.asc("token")).limit(vocab_size)
        )
        v = min(int(tot["distinct"] or 0), vocab_size)
        denom = n_total + alpha * (v + 1)
        # The logp values are computed DRIVER-side (libm log over the
        # collected top-V counts) rather than with F.log: the vocab is
        # bounded broadcast state by contract (vocab_size rows — the same
        # collect category as the IVF seed build), and JVM Math.log differs
        # from C libm by 1 ulp on some inputs, which after round-to-9 can
        # flip a boundary token and break exact cross-engine (DuckDB oracle)
        # reproducibility.  One libm `log` per DISTINCT count, not per
        # token — logp is a function of count only.
        top = vocab_counts.collect()
    finally:
        # unpersist on the error path too (ADVICE r15): a raising
        # consumer would otherwise leak the vocabulary-sized cache
        # entry for the session lifetime
        counts.unpersist()
    logp_of = {c: math.log((c + alpha) / denom)
               for c in {int(r["count"]) for r in top}}
    # through pandas, not a row list: Arrow-enabled sessions then scan
    # the model as a LocalTableScan instead of a PythonRDD (the scoring
    # plan stays Python-free — plan-pinned in test_plans)
    import pandas as pd

    vocab = ref.sparkSession.createDataFrame(pd.DataFrame({
        "token": pd.Series([r["token"] for r in top], dtype="object"),
        "logp": pd.Series([logp_of[int(r["count"])] for r in top],
                          dtype="float64"),
    }), "token string, logp double")
    return vocab, math.log(alpha / denom)


def lm_score(docs: "DataFrame", vocab: "DataFrame", oov_logp: float,
             text_col: str = "text", id_col: str = "doc_id") -> "DataFrame":
    """(id, n_tok, avg_logp, ppl): per-document mean token
    log-probability under the :func:`unigram_lm` model and its
    perplexity ``exp(-avg_logp)`` — lower ppl = more reference-like.

    Shape: explode tokens → broadcast-join the (bounded) vocab →
    hash-agg per document; the corpus is touched once and nothing
    driver-side scales with it.  Per-token logp is rounded to 9
    decimals and summed as decimal(28,9), so the aggregate is EXACT and
    order-independent — float summation order across partitions would
    otherwise make equal inputs hash differently run to run (the same
    determinism recipe the breakdown counters use).  Zero-token
    documents keep a row with n_tok=0 and null avg/ppl."""
    tok = docs.select(
        _c(id_col).alias(id_col),
        F.explode_outer(tokens(text_col)).alias("token"),
    )
    scored = tok.join(F.broadcast(vocab), "token", "left").select(
        id_col,
        "token",
        F.round(F.coalesce(F.col("logp"), F.lit(float(oov_logp))), 9)
        .cast("decimal(28,9)").alias("__lp"),
    )
    agg = scored.groupBy(id_col).agg(
        F.count("token").alias("n_tok"),
        F.sum(F.when(F.col("token").isNotNull(), F.col("__lp"))).alias("__sum"),
    )
    # Cast the EXACT decimal sum to double, THEN divide: one IEEE-754
    # division of identical operands is bit-reproducible across engines
    # (decimal-typed division would pick up each engine's own precision/
    # scale promotion rules), which lets a DuckDB oracle twin reproduce
    # avg_logp exactly.  ppl is derived from the 9-dp ROUNDED avg_logp
    # (not the raw quotient) so both engines feed exp() the identical
    # pinned double and any residual mismatch localizes to the ppl
    # column.  RESIDUAL RISK (documented, not eliminated): exp itself
    # is evaluated per-engine (JVM Math.exp vs libm exp can differ by
    # 1 ulp), so a value within 1 ulp of a .5e-6 rounding midpoint
    # could still flip the 6-dp ppl; the sf0.1 zero-mismatch probe
    # (tools/proto_lm_oracle.py) is the empirical gate — re-run it on
    # data changes.
    avg = F.col("__sum").cast("double") / F.col("n_tok")
    avg9 = F.round(avg, 9)
    return agg.select(
        id_col,
        F.col("n_tok").cast("long").alias("n_tok"),
        F.when(F.col("n_tok") > 0, avg9).alias("avg_logp"),
        F.when(F.col("n_tok") > 0, F.round(F.exp(-avg9), 6)).alias("ppl"),
    )


def lm_bucket(scored: "DataFrame", lo: float, hi: float) -> "DataFrame":
    """CCNet's head/middle/tail split at explicit perplexity thresholds
    (head = most reference-like).  Thresholds are corpus-level state the
    caller derives once — e.g. ``lm_thresholds`` — then applies as plain
    literals, so bucketing stays a map-side CASE with no shuffle; null
    ppl (zero-token docs) buckets as tail."""
    return scored.withColumn(
        "bucket",
        F.when(F.col("ppl") <= F.lit(lo), F.lit("head"))
        .when(F.col("ppl") <= F.lit(hi), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def lm_thresholds(scored: "DataFrame",
                  fractions=(1.0 / 3.0, 2.0 / 3.0)) -> tuple[float, float]:
    """(lo, hi) perplexity cut points at the given corpus fractions —
    one approx_percentile aggregate (t-digest, executor-side) over the
    already-narrow score relation."""
    row = scored.agg(
        F.percentile_approx("ppl", list(fractions), 10_000).alias("q")
    ).first()
    lo, hi = row["q"][0], row["q"][1]
    return float(lo), float(hi)


def bigram_lm(ref: "DataFrame", vocab_size: int = 50_000,
              bigram_size: int = 200_000):
    """Bigram model with stupid backoff (Brants et al. 2007 — the
    standard web-scale recipe: no normalized discounting, a fixed
    backoff penalty): returns ``(uni, bi, oov_logp)`` where ``uni`` is
    the :func:`unigram_lm` vocabulary, ``bi`` a (w1, w2, logp)
    DataFrame of the ``bigram_size`` most frequent bigrams with
    add-one-smoothed CONDITIONAL log-probs ln((c₁₂+1)/(c₁+V+1)), and
    ``oov_logp`` the unigram OOV floor.  Both tables are bounded
    broadcast state; ties break (count desc, w1 asc, w2 asc) so the
    model is deterministic.

    Why a caller wants this over the unigram filter: token-salad built
    FROM common words ("the the the the …") has excellent unigram
    probabilities — only transitions expose it.  Scoring backs off to
    λ·p_uni(w₂) (λ = 0.4) when a bigram is unseen, so the unigram
    model's behavior is the floor, never the whole story."""
    toks = ref.select(tokens("text").alias("__t"))
    # unigram counts feed both the top-V vocabulary and the c1 context
    # denominators, so derive everything from ONE tokenized relation.
    # r15 (guide §1.2/§5): persist the aggregated (token, count) rows —
    # the totals job, the top-V collect and the c1 broadcast below are
    # THREE bounded consumers, and unpersisted each re-ran the full
    # reference tokenize+explode+agg; the relation is vocabulary-sized,
    # the saved passes are corpus-sized.  Values untouched.
    counts = (
        toks.select(F.explode("__t").alias("token")).groupBy("token").count()
    ).persist()
    try:
        tot = counts.agg(
            F.sum("count").alias("n"), F.count("*").alias("distinct")
        ).first()
        n_total = int(tot["n"] or 0)
        v = min(int(tot["distinct"] or 0), vocab_size)
        import math

        denom = n_total + v + 1.0
        # Both logp tables are computed DRIVER-side with libm log (the
        # unigram_lm determinism recipe — JVM Math.log can differ from C
        # libm by 1 ulp, which after round-to-9 flips boundary values and
        # breaks exact cross-engine reproducibility).  Both are bounded
        # broadcast state by contract (vocab_size / bigram_size rows), so
        # each is collected outright in one job and rebuilt as a local
        # Arrow relation — the scoring plan scans them as LocalTableScan.
        import pandas as pd

        spark = ref.sparkSession
        top = counts.orderBy(F.desc("count"), F.asc("token")) \
            .limit(vocab_size).collect()
        logp_of = {c: math.log((c + 1.0) / denom)
                   for c in {int(r["count"]) for r in top}}
        uni = spark.createDataFrame(pd.DataFrame({
            "token": pd.Series([r["token"] for r in top], dtype="object"),
            "logp": pd.Series([logp_of[int(r["count"])] for r in top],
                              dtype="float64"),
        }), "token string, logp double")
        oov_logp = math.log(1.0 / denom)

        pairs = toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("__t", 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                    F.slice("__t", 2, F.greatest(F.size("__t") - 1, F.lit(0))),
                )
            ).alias("p")
        ).select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        bcounts = pairs.groupBy("w1", "w2").count()
        c1 = counts.select(
            F.col("token").alias("w1"), F.col("count").alias("c1"))
        bi_pdf = (
            bcounts.join(c1, "w1")
            .orderBy(F.desc("count"), F.asc("w1"), F.asc("w2"))
            .limit(bigram_size)
            .select("w1", "w2", "count", "c1")
            .toPandas()  # bounded broadcast state by contract, like the
            # top-V vocab above (bigram_size rows) — one Arrow-batched
            # job; a distinct-pairs collect + join-back was two passes
            # over the bigram relation, and row-at-a-time collect() pays
            # py4j Row deserialization per bigram
        )
    finally:
        # unpersist on the error path too (ADVICE r15): a raising
        # consumer (top-V collect or the bigram toPandas) would
        # otherwise leak the cache entry for the session lifetime
        counts.unpersist()
    denom2 = v + 1.0
    bi = spark.createDataFrame(pd.DataFrame({
        "w1": bi_pdf["w1"].astype("object"),
        "w2": bi_pdf["w2"].astype("object"),
        "logp2": pd.Series(
            [math.log((c + 1.0) / (cc + denom2))
             for c, cc in zip(bi_pdf["count"].astype("int64"),
                              bi_pdf["c1"].astype("int64"))],
            dtype="float64"),
    }), "w1 string, w2 string, logp2 double")
    return uni, bi, oov_logp


#: stupid-backoff penalty (Brants et al. 2007's fixed λ)
BACKOFF_LAMBDA = 0.4


def lm_score_bigram(docs: "DataFrame", uni: "DataFrame", bi: "DataFrame",
                    oov_logp: float) -> "DataFrame":
    """(id, n_tok, avg_logp, ppl) under the :func:`bigram_lm` model:
    the first token scores by unigram, token i>0 by the conditional
    bigram when (wᵢ₋₁, wᵢ) is in the table, else λ·p_uni(wᵢ).  Same
    scale shape and determinism contract as :func:`lm_score` — explode
    (token, prev) rows, two broadcast joins against the bounded
    tables, decimal(28,9) sums of 9-dp-rounded per-token logps."""
    import math

    # (token, prev) rows WITHOUT carrying the token array through the
    # Generate (per-element array copies are O(tokens²) per doc):
    # zip t against null-prepended t — element i is (t[i], t[i-1]),
    # element 0 gets a null prev, and the zip's padding yields one
    # trailing (null token, t[n-1]) row that the aggregate's
    # count(token)/sum-if-token filters already ignore.  Empty and null
    # docs keep exactly one all-null row → n_tok = 0.
    t = tokens("text")
    tok = docs.select(
        _c("doc_id").alias("doc_id"),
        F.explode_outer(
            F.arrays_zip(t, F.concat(F.array(F.lit(None).cast("string")), t))
        ).alias("__p"),
    ).select(
        "doc_id",
        F.col("__p.0").alias("token"),
        F.col("__p.1").alias("prev"),
    )
    uni2 = uni.select(F.col("token").alias("__ut"), F.col("logp"))
    bi2 = bi.select(F.col("w1").alias("__b1"), F.col("w2").alias("__b2"),
                    "logp2")
    j = (
        tok.join(F.broadcast(uni2), tok["token"] == uni2["__ut"], "left")
        .join(
            F.broadcast(bi2),
            (tok["prev"] == bi2["__b1"]) & (tok["token"] == bi2["__b2"]),
            "left",
        )
    )
    p_uni = F.coalesce(F.col("logp"), F.lit(float(oov_logp)))
    lp = F.when(F.col("logp2").isNotNull(), F.col("logp2")).otherwise(
        F.when(F.col("prev").isNotNull(),
               F.lit(math.log(BACKOFF_LAMBDA)) + p_uni).otherwise(p_uni)
    )
    scored = j.select(
        "doc_id", "token",
        F.round(lp, 9).cast("decimal(28,9)").alias("__lp"),
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("token").alias("n_tok"),
        F.sum(F.when(F.col("token").isNotNull(), F.col("__lp"))).alias("__sum"),
    )
    # Same determinism derivation as lm_score: avg from ONE IEEE
    # division of the exact decimal sum, ppl = exp of the 9-dp ROUNDED
    # avg so both engines feed exp identical doubles (residual 1-ulp
    # exp risk documented there).
    avg = F.col("__sum").cast("double") / F.col("n_tok")
    avg9 = F.round(avg, 9)
    return agg.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.when(F.col("n_tok") > 0, avg9).alias("avg_logp"),
        F.when(F.col("n_tok") > 0, F.round(F.exp(-avg9), 6)).alias("ppl"),
    )


# --- hashed linear quality classifier (fastText-style filter) ----------------
#
# The third standard curation filter (public recipe: fastText-style
# quality classifiers as used by CCNet/RefinedWeb-class pipelines, and
# GPT-3's WebText-vs-CommonCrawl logistic filter, Brown et al. 2020):
# a linear model over hashed bag-of-tokens features, trained from a
# small labeled sample (reference-quality docs vs rejects), scoring the
# full corpus map-side.  Neither pyspark.ml's HashingTF hash (MLlib's
# murmur variant has no Spark-SQL expression twin) nor any external lib
# is involved: the feature space is pmod(xxhash64('qclf', token), dim),
# identical — and verifiable — on the train and score paths.

#: feature-hash seed tag; scoring and training must agree on it
_QCLF_SEED = "qclf"

#: Feature-RECIPE version, stamped into every trained weights table as
#: a sentinel row (idx = _QCLF_VERSION_IDX, w = version) and checked by
#: quality_clf_score.  Bump whenever _qclf_feature_idx changes the
#: hashed feature space under the same (dim, seed) — r13 added word
#: bigrams, so a pre-r13 weights table scored with the r13 feature set
#: would silently hash bigram indices into trained unigram slots.
#: Document indices are pmod ≥ 0, so the sentinel can never match a
#: real feature in the scoring join.
QCLF_FEATURE_VERSION = 2
_QCLF_VERSION_IDX = -2


def _qclf_feature_idx(tok_col, dim: int, seed: str = _QCLF_SEED,
                      hash_family: str = "xxhash64"):
    """array<int> of hashed feature indices for one document's
    (already materialized) token array: one per token (unigram) plus
    one per ADJACENT TOKEN PAIR (word bigram, r13 — the fastText
    recipe's separation power is largely in the n-grams: a unigram bag
    passes scrambled-word documents that only transition features can
    catch), all in the same ``pmod(xxhash64) % dim`` space.  The pair
    hash feeds both tokens as separate xxhash64 arguments — no
    delimiter, no string concat, and unigram/bigram collisions are
    ordinary hashing-trick collisions.  ``seed`` namespaces the feature
    space per model family (classifier vs DSIR) so their dims can
    differ without silent index reuse.

    ``hash_family="md5"`` is the ORACLE-REPLAY variant (the
    dedup_minhash_lsh pattern): idx = first-15-hex-digits of
    md5('{seed}:{token}') mod dim, pairs joined with a single space —
    injective for these tokens (the tokenizer splits on whitespace, so
    no token contains one).  DuckDB replays it exactly
    (('0x' || substr(md5(s),1,15))::BIGINT % dim); xxhash64 stays the
    production default (one 8-byte hash vs a 128-bit string hash).

    ``tok_col`` must be a materialized array column, NOT a fresh
    ``tokens(text)`` expression: interpreted HOF lambdas re-evaluate
    captured subtrees per element (the shingles hot-path warning), so a
    captured split() would tokenize O(tokens) times per document."""
    t = _c(tok_col)

    if hash_family == "md5":
        def h(*cols):
            s = F.concat(F.lit(f"{seed}:"), cols[0]) if len(cols) == 1 \
                else F.concat(F.lit(f"{seed}:"), cols[0], F.lit(" "),
                              cols[1])
            return F.pmod(
                F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
                F.lit(dim),
            ).cast("int")
    elif hash_family == "xxhash64":
        def h(*cols):
            return F.pmod(F.xxhash64(F.lit(seed), *cols),
                          F.lit(dim)).cast("int")
    else:
        raise ValueError(
            f"_qclf_feature_idx: unknown hash_family {hash_family!r}")

    uni = F.transform(t, lambda x: h(x))
    n = F.size(t)
    big = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),  # guarded: sequence(1, 0) DESCENDS
            lambda i: h(F.element_at(t, i), F.element_at(t, i + 1)),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.concat(uni, big)


def _qclf_feature_rows(docs: "DataFrame", text_col: str, id_col: str,
                       dim: int) -> "DataFrame":
    """(id, idx, x) hashed-tf rows over :func:`_qclf_feature_idx`
    features: x = count(feature)/n_features per document
    (length-normalized, so score magnitude is length-invariant), plus
    one BIAS row (idx = -1, x = 1.0) per document — the bias is just
    another weight, which keeps every doc represented (zero-token docs
    still carry their bias row) and the gradient relation uniform.

    n_features is computed at TOKENIZE time (a doc with n tokens emits
    exactly 2n−1 features, r14) and carried through the explode, not
    recovered with a per-doc window afterwards — same value, one fewer
    Exchange+Sort over the feature relation."""
    tok = docs.select(
        _c(id_col).alias(id_col),
        tokens(text_col).alias("__tok"),
    ).select(
        id_col,
        F.explode(_qclf_feature_idx("__tok", dim)).alias("idx"),
        F.greatest(F.size("__tok") * 2 - 1, F.lit(0)).alias("__nf"),
    )
    counts = tok.groupBy(id_col, "idx").agg(
        F.count("*").alias("__c"), F.first("__nf").alias("__nf"))
    tf = counts.select(
        id_col, "idx",
        (F.col("__c").cast("double") / F.col("__nf")).alias("x"),
    )
    bias = docs.select(
        _c(id_col).alias(id_col),
        F.lit(-1).cast("int").alias("idx"),
        F.lit(1.0).alias("x"),
    )
    return tf.unionByName(bias)


def train_quality_classifier(
    pos: "DataFrame",
    neg: "DataFrame",
    text_col: str = "text",
    dim: int = 1 << 16,
    iters: int = 200,
    lr: float = 10.0,
    reg: float = 1e-6,
    max_driver_rows: int = 2_000_000,
):
    """Fit the logistic model; returns ``(weights, bias)`` where
    ``weights`` is a (idx, w) DataFrame of the NONZERO coordinates
    (bounded by ``dim`` — broadcast state, like the LM vocab) and
    ``bias`` a float.  Full-batch gradient descent with fixed
    (iters, lr, reg), so the fit is deterministic for fixed inputs.

    Two arms behind one contract, picked by a LIMIT probe on the
    feature-row count (the connected_components gate shape):

    - **driver arm** (feature rows <= ``max_driver_rows``, the normal
      case — quality classifiers train on samples of ~10^4..10^5 docs):
      collect the (ord, idx, x, y) numerics once and run the GD loop in
      numpy — zero per-iteration Spark jobs.  ~20 bytes/row bounds the
      transfer (2M rows ~= 40 MB).
    - **distributed arm** above the gate: the identical update computed
      relationally — per iteration, score docs via a broadcast join
      against the current weight table, then aggregate per-coordinate
      gradients and COLLECT them (bounded by ``dim``, never by docs);
      weights update driver-side between iterations.  2 shuffles/iter
      over the cached feature rows.

    Gradient float summation order differs between arms (and across
    partitionings), so weights agree only to float tolerance — model
    STATE is fit once and persisted, unlike scoring, which uses the
    decimal determinism recipe (:func:`quality_clf_score`)."""
    import numpy as np

    if iters < 1 or lr <= 0 or dim < 2 or reg < 0:
        raise ValueError("train_quality_classifier: bad hyperparameters")
    spark = pos.sparkSession
    labeled = pos.select(_c(text_col).alias("__text"), F.lit(1.0).alias("y")) \
        .unionByName(
            neg.select(_c(text_col).alias("__text"), F.lit(0.0).alias("y")))
    # dense doc ordinals: deterministic (text, y) ordering, one bounded
    # window — the training set is a labeled SAMPLE by contract
    docs = labeled.withColumn(
        "__ord",
        F.row_number().over(Window.orderBy("__text", "y")) - 1,
    )
    feats = _qclf_feature_rows(docs, "__text", "__ord", dim).join(
        docs.select("__ord", "y"), "__ord"
    ).select("__ord", "idx", "x", "y").persist()
    feats_d = None  # distributed-arm re-cache, set over the gate
    try:
        w = np.zeros(dim, dtype=np.float64)
        b = 0.0
        # ONE probe job (r14): pull up to max_driver_rows+1 feature rows
        # directly — the row-count gate and the driver arm's data come
        # from the same pass (the old LIMIT-count + separate toPandas
        # paid two jobs over the feature relation), and n_docs is
        # derivable driver-side because EVERY doc carries a bias row
        # and ordinals are dense (row_number).  Only the distributed
        # arm still needs a count job.
        pdf = feats.limit(max_driver_rows + 1).toPandas()
        if len(pdf) == 0:
            raise ValueError("train_quality_classifier: empty training set")
        if len(pdf) <= max_driver_rows:
            # a LIMIT collect's row order is not contractual: sort on
            # the unique (ord, idx) key so gradient accumulation order
            # — and therefore the fit — is bit-deterministic regardless
            # of partition arrival order.
            pdf = pdf.sort_values(["__ord", "idx"], ignore_index=True)
            n_docs = int(pdf["__ord"].max()) + 1
            ordv = pdf["__ord"].to_numpy(np.int64)
            idxv = pdf["idx"].to_numpy(np.int64)
            xv = pdf["x"].to_numpy(np.float64)
            # y per ordinal (rows repeat it; take any occurrence)
            yv = np.zeros(n_docs, dtype=np.float64)
            yv[ordv] = pdf["y"].to_numpy(np.float64)
            # r15: the bias mask and the masked index/value arrays are
            # loop-invariant — hoist them; and accumulate with
            # np.bincount(weights=...) instead of np.add.at.  Both are
            # sequential in-input-order float64 `+=` loops (bincount:
            # out[list[i]] += weights[i] for i ascending; ufunc.at is
            # the unbuffered equivalent), so the fit stays
            # BIT-IDENTICAL — verified by capturing the (idx, w, b)
            # output before/after at two SFs with
            # tools/capture_clf_weights.py — while bincount's tight C
            # loop replaces ufunc.at's per-element dispatch.
            nb = idxv >= 0  # non-bias feature rows
            ordv_nb = ordv[nb]
            idxv_nb = idxv[nb]
            xv_nb = xv[nb]
            for _ in range(iters):
                z = np.bincount(
                    ordv_nb, weights=xv_nb * w[idxv_nb], minlength=n_docs)
                z += b  # every doc has exactly one bias row with x=1
                p = 1.0 / (1.0 + np.exp(-z))
                diff = (p - yv) / n_docs
                g = np.bincount(
                    idxv_nb, weights=xv_nb * diff[ordv_nb], minlength=dim)
                w -= lr * (g + reg * w)
                b -= lr * float(diff.sum())
        else:
            del pdf  # over the gate: train relationally, never collect
            n_docs = docs.count()
            import pandas as pd

            # r16 (guide §2.4): every GD iteration groups by __ord, joins
            # scored back to feats on __ord, then groups by idx — with the
            # cache unpartitioned that is 4 Exchanges over the feature
            # relation PER ITERATION (groupBy(__ord,y), both join sides,
            # groupBy(idx)).  Re-cache the features hash-partitioned and
            # sorted by __ord once: the per-__ord aggregate then needs no
            # exchange (hash(__ord) satisfies clustering on (__ord, y)),
            # the join's feats side needs no exchange and no sort (cached
            # order rides through the broadcast weights join), and scored
            # inherits hash(__ord) from its aggregate — leaving ONE
            # exchange per iteration, the unavoidable idx aggregation.
            # Driver-arm plans are untouched (this cache exists only over
            # the gate), and the fit tolerance is unchanged: gradient
            # float-sum order already varies across partitionings by
            # documented contract.
            feats_d = (
                feats.repartition("__ord")
                .sortWithinPartitions("__ord")
                .persist()
            )
            feats_loop = feats_d
            for _ in range(iters):
                # current weights + the bias at its idx=-1 slot, via
                # pandas for the Arrow fast path (see _qclf_weights_df)
                nzi = np.nonzero(w)[0]
                wdf = spark.createDataFrame(pd.DataFrame({
                    "idx": pd.Series(
                        np.concatenate([nzi, np.array([-1])]), dtype="int32"),
                    "w": pd.Series(
                        np.concatenate([w[nzi], np.array([b])]),
                        dtype="float64"),
                }))
                scored = (
                    feats_loop.join(F.broadcast(wdf), "idx", "left")
                    .groupBy("__ord", "y")
                    .agg(F.sum(F.col("x") * F.coalesce("w", F.lit(0.0)))
                         .alias("z"))
                    .select(
                        "__ord",
                        ((F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))))
                         - F.col("y")).alias("__d"),
                    )
                )
                g_rows = (
                    feats_loop.join(scored, "__ord")
                    .groupBy("idx")
                    .agg((F.sum(F.col("x") * F.col("__d")) / F.lit(n_docs))
                         .alias("g"))
                    .collect()
                )
                g = np.zeros(dim, dtype=np.float64)
                gb = 0.0
                for r in g_rows:
                    if r["idx"] < 0:
                        gb = float(r["g"])
                    else:
                        g[r["idx"]] = float(r["g"])
                w -= lr * (g + reg * w)
                b -= lr * gb
    finally:
        if feats_d is not None:
            feats_d.unpersist()
        feats.unpersist()
    weights = _qclf_weights_df(spark, w)
    return weights, float(b)


def _qclf_weights_df(spark, w):
    """(idx, w) DataFrame of the nonzero coordinates plus the
    feature-recipe sentinel row (idx = _QCLF_VERSION_IDX,
    w = QCLF_FEATURE_VERSION — checked by quality_clf_score so a
    weights table persisted under an older recipe errors loudly instead
    of scoring silently wrong), built through pandas so Arrow-enabled
    sessions get a LocalTableScan instead of a Python-RDD scan (the
    model table is the only Python-origin relation in the scoring plan;
    this keeps even that JVM-friendly)."""
    import numpy as np
    import pandas as pd

    nz = np.nonzero(w)[0]
    pdf = pd.DataFrame({
        "idx": pd.Series(
            np.concatenate([np.array([_QCLF_VERSION_IDX]), nz]),
            dtype="int32"),
        "w": pd.Series(
            np.concatenate([np.array([float(QCLF_FEATURE_VERSION)]), w[nz]]),
            dtype="float64"),
    })
    return spark.createDataFrame(pdf)


def quality_clf_score(docs: "DataFrame", weights: "DataFrame", bias: float,
                      text_col: str = "text", id_col: str = "doc_id",
                      dim: int = 1 << 16,
                      hash_family: str = "xxhash64") -> "DataFrame":
    """(id, n_tok, z, score): P(quality) under the trained model —
    sigmoid(bias + Σ tf(f)·w[hash(f) % dim]) over the
    :func:`_qclf_feature_idx` feature set (unigrams + word bigrams,
    r13; tf normalizes by the document's total feature count).

    Shape: explode the per-document feature-index array →
    broadcast-join the (bounded) weight table → hash-agg per document —
    the lm_score plan, map-side at any corpus size.  Per-term
    contributions are rounded to 9 decimals and summed as
    decimal(28,9) (the lm_score determinism recipe), so equal inputs
    score identically run to run regardless of partitioning.  ``z`` is
    the PINNED pre-sigmoid logit — the exact decimal sum plus bias,
    rounded to 9 dp — and ``score`` derives from that pinned z (r15,
    the avg_logp→ppl pattern) so both engines of a cross-engine replay
    feed exp() the identical double; the residual 1-ulp exp risk is
    absorbed by score's 6-dp rounding (margin quantified in
    tools/ulp_margin.py).  ``n_tok`` stays the TOKEN count: a document
    with n tokens emits 2n−1 features, so n = (n_features + 1) div 2
    exactly.  Zero-token documents keep a row with n_tok=0 and score =
    sigmoid(round(bias, 9)).

    ``hash_family`` picks the feature hash (see
    :func:`_qclf_feature_idx`): "xxhash64" is the production default;
    "md5" is the ORACLE-REPLAY variant a DuckDB twin can reproduce
    digit-for-digit (the dedup_minhash_lsh pattern).

    The weights table must carry the :data:`QCLF_FEATURE_VERSION`
    sentinel row its trainer stamped — a table trained under a
    different feature recipe (or a pre-versioning one) raises, because
    its indices would silently collide into the wrong slots."""
    vrow = (
        weights.filter(F.col("idx") == F.lit(_QCLF_VERSION_IDX))
        .select("w").first()
    )
    ver = None if vrow is None else int(vrow["w"])
    if ver != QCLF_FEATURE_VERSION:
        raise ValueError(
            "quality_clf_score: weights table was trained under feature "
            f"recipe {ver if ver is not None else '<unversioned>'} but "
            f"this build scores recipe {QCLF_FEATURE_VERSION} "
            "(_qclf_feature_idx changed the hashed feature space) — "
            "indices would collide into wrong slots and score silently "
            "wrong; retrain with train_quality_classifier"
        )
    tok = docs.select(
        _c(id_col).alias(id_col),
        tokens(text_col).alias("__tok"),
    ).select(
        id_col,
        F.explode_outer(
            _qclf_feature_idx("__tok", dim, hash_family=hash_family)
        ).alias("idx"),
        # n_features at tokenize time (2n−1 exactly, r14): the per-doc
        # window this replaced was a full Exchange+Sort over the
        # corpus-sized counts relation — the one non-agg shuffle in the
        # scoring plan
        F.greatest(F.size("__tok") * 2 - 1, F.lit(0)).alias("__nf"),
    )
    counts = tok.groupBy(id_col, "idx").agg(
        F.count("idx").alias("__c"), F.first("__nf").alias("__nf"))
    contrib = (
        counts.join(F.broadcast(weights), "idx", "left")
        .select(
            id_col,
            "__c",
            # try_divide, not `/`: ANSI raises DIVIDE_BY_ZERO on the 0/0
            # of a zero-token document; the contract is a null term there
            F.round(
                F.try_divide(F.col("__c").cast("double"), F.col("__nf"))
                * F.coalesce("w", F.lit(0.0)),
                9,
            ).cast("decimal(28,9)").alias("__zc"),
        )
    )
    agg = contrib.groupBy(id_col).agg(
        F.sum("__c").alias("__nf"),
        F.sum("__zc").alias("__z"),
    )
    # score derives from the PINNED 9-dp z (not the raw sum+bias): both
    # engines of a cross-engine replay feed exp() the identical double,
    # and 6-dp score rounding absorbs exp's residual ulp disagreement
    z9 = F.round(
        F.coalesce(F.col("__z").cast("double"), F.lit(0.0))
        + F.lit(float(bias)),
        9,
    )
    return agg.select(
        id_col,
        F.floor((F.col("__nf") + F.lit(1)) / F.lit(2))
        .cast("long").alias("n_tok"),
        z9.alias("z"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z9)), 6).alias("score"),
    )


# --- HTML → text extraction (web-corpus ingestion stage) ----------------------
#
# The stage every web-scale training pipeline runs BEFORE quality
# filtering (public recipe: the regex-expressible core of
# jusText / trafilatura-class extractors — CCNet and RefinedWeb both
# start from an HTML-to-text pass).  The reference has nothing like it
# (it archives Reddit markdown); pure training-pipeline extension.

#: block-level boundaries that must become newlines BEFORE tags are
#: stripped, or words from adjacent blocks fuse ("…end.Next heading…")
_HTML_BLOCK_RE = (
    r"(?i)<br\s*/?>|<hr\s*/?>|</p\s*>|</div\s*>|</li\s*>|</tr\s*>"
    r"|</h[1-6]\s*>|</blockquote\s*>|</pre\s*>|</section\s*>"
    r"|</article\s*>|</title\s*>|</ul\s*>|</ol\s*>|</table\s*>"
)


def html_to_text(col, full_entities: bool = False) -> Column:
    """Markup → training text, the whole pipeline as JVM regexps (one
    whole-stage-codegen map pass, zero Python on the default path):

    1. non-content subtrees drop WHOLESALE — ``<script>…</script>``,
       ``<style>…</style>``, ``<!-- comments -->`` (dotall +
       case-insensitive; their text is code, not prose);
    2. block-level boundaries become newlines (``_HTML_BLOCK_RE``)
       before any tag is stripped;
    3. every remaining tag ``<…>`` is stripped.  Regex, not a DOM: a
       literal ``>`` inside a quoted attribute truncates that one tag —
       the documented limitation of every regex extractor (jusText's
       preprocessing has the same blind spot);
    4. entities unescape AFTER stripping, so ``&lt;script&gt;`` in the
       source stays literal text and can never become markup: the five
       named entities + ``&nbsp;``→space JVM-side;
       ``full_entities=True`` swaps in the Arrow ``html.unescape`` UDF
       (the exact-parity slow path, same contract as
       functions.html_unescape_full);
    5. whitespace canonicalizes: space/tab runs → one space, spaces
       around newlines trimmed, 3+ newlines → one blank line, ends
       trimmed.

    NULL flows through as NULL.  Scale shape: map-only — no shuffle, no
    state; at 100 TB this is scan-bound like any projection."""
    c = _c(col)
    # 1. non-content subtrees (reluctant spans, dotall)
    c = F.regexp_replace(c, r"(?is)<script\b.*?</script\s*>", "")
    c = F.regexp_replace(c, r"(?is)<style\b.*?</style\s*>", "")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", "")
    # 2. block boundaries → newline; 3. strip remaining tags
    c = F.regexp_replace(c, _HTML_BLOCK_RE, "\n")
    c = F.regexp_replace(c, r"<[^>]*>", "")
    # 4. entities (after stripping; &amp; LAST or double-unescape)
    if full_entities:
        from timesearch_spark import functions as tsf

        c = F.regexp_replace(c, r"&nbsp;", " ")
        c = tsf.html_unescape_full(c)
    else:
        for pat, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                         ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")):
            c = F.regexp_replace(c, pat, rep)
    # 5. whitespace canon (trim() strips spaces only — edge newlines
    # need the explicit anchor strip)
    c = F.regexp_replace(c, r"[ \t\r\f\x0b]+", " ")
    c = F.regexp_replace(c, r" *\n *", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.trim(F.regexp_replace(c, r"^\n+|\n+$", ""))
