"""Deduplication family (engine extension: LLM-training-pipeline surface).

The reference's only dedup is an in-memory id set across adjacent pages
(pushshift.py:119-145, mapped to ``dropDuplicates`` — G1).  A training-data
pipeline needs content dedup; this module implements the standard ladder:

- exact          — hash-groupBy on normalized text (one shuffle on a short
                   digest, never the full text).
- minhash + LSH  — shingle → minhash signature → banding → bucket join →
                   exact-Jaccard verify.  Signatures are built with nested
                   built-in higher-order functions (transform/array_min/
                   xxhash64): no explode, no UDF, no shuffle until the
                   band join — per-row cost only.
- simhash        — 64-bit sign-of-sums fingerprint; near-dups within
                   Hamming distance via pigeonhole band blocking.
- n-gram Jaccard — exact pairwise similarity inside coarse blocks.

Scale notes (100 TB): every stage shuffles at most (band/bucket key,
doc id) pairs — candidate generation never materializes the cross
product.  Verification re-joins text for candidates only.  Band keys are
xxhash64 of the minhash slice, so bucket skew tracks true duplicate mass
(AQE skew-join splits pathological buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timesearch_spark.tables import spread


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- tokenize / shingle -----------------------------------------------------

def tokens(col) -> Column:
    """Lowercased whitespace tokens, empties dropped."""
    return F.filter(F.split(F.lower(F.trim(_c(col))), r"\s+"), lambda x: x != "")


def shingles(col) -> Column:
    """k-word shingles as strings; documents shorter than k words yield
    their whole token join as the single shingle.

    HOT-PATH WARNING: applied straight to a TEXT column, the per-gram
    ``slice`` lambda captures the tokenizing ``split`` subtree, and
    interpreted HOF lambdas re-evaluate captured subtrees per element —
    the optimized plan carries split() once per gram, O(tokens × grams)
    per document.  Every scale path should materialize the token array
    in its own projection and build grams with :func:`shingles_from`
    (split pinned to once per document — 1.6× on the sf0.1 shingle
    explode, verified in the optimizedPlan by tests/test_plans.py)."""
    t = tokens(col)
    n = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.array_join(F.slice(t, i, 3), " "),
    )
    return F.when(n >= 3, grams).otherwise(F.array(F.array_join(t, " ")))


def shingles_from(tok_col, k: int = 3) -> Column:
    """:func:`shingles` over an ALREADY-MATERIALIZED token-array column
    (same output).  The lambda's captured reference is then a plain
    attribute — per-element re-evaluation costs an array pointer read,
    not a re-tokenization.  CollapseProject leaves the materializing
    projection alone because the alias is non-cheap and referenced more
    than once."""
    t = _c(tok_col)
    n = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(t, i, k), " "),
    )
    return F.when(n >= k, grams).otherwise(F.array(F.array_join(t, " ")))


def _shingle_rows(df, text_col, id_col, k: int,
                  tok_col: str | None = None) -> DataFrame:
    """(id, __s) exploded distinct-shingle rows, tokenizing once per
    document (see :func:`shingles_from`); ``spread`` first so the
    explode runs with full parallelism on under-split input.
    ``tok_col`` names an ALREADY-MATERIALIZED token-array column (e.g.
    a persisted rung of the curation ladder) — the tokenize step is
    then skipped entirely; ``shingles_from(tokens(text))`` and
    ``shingles_from(tok_col)`` are the same function of the same text,
    so the output is identical either way."""
    tok = tokens(text_col) if tok_col is None else _c(tok_col)
    return (
        spread(df)
        .select(_c(id_col).alias(id_col), tok.alias("__tok"))
        .select(
            id_col,
            F.explode(F.array_distinct(shingles_from("__tok", k))).alias("__s"),
        )
    )


def jaccard(a, b) -> Column:
    """|A∩B| / |A∪B| on array columns (set semantics)."""
    da, db = F.array_distinct(_c(a)), F.array_distinct(_c(b))
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = (F.size(da) + F.size(db)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(None))


# --- exact dedup -------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate groups by content hash: (content_hash, keeper_id, dup_count).
    The shuffle key is the 32-char md5, not the document text."""
    # coalesce: null text = empty text (engine-wide policy) — md5(NULL)
    # is NULL and a null hash never groups/joins, silently losing docs
    txt = F.coalesce(_c(text_col), F.lit(""))
    t = F.lower(F.trim(txt))
    return (
        df.select(F.md5(t).alias("content_hash"), _c(id_col).alias(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _whitespace_fp(col) -> Column:
    """md5 of whitespace-normalized lowercase text — the same content
    fingerprint as textstats.fingerprint_md5 (kept expression-identical;
    not imported to avoid a module cycle).  Null text fingerprints as
    empty text: a NULL fp would drop the doc from every inner join in
    the incremental-dedup path (neither appended nor indexed)."""
    return F.md5(
        F.regexp_replace(
            F.lower(F.trim(F.coalesce(_c(col), F.lit("")))), r"\s+", " "
        )
    )


def fingerprint_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fp, keeper): one row per distinct content fingerprint with the
    min-id document holding it.  This is the persisted artifact of
    incremental dedup: at 100 TB the corpus is never re-read — the index
    (32-byte key + long, ~a thousandth of the corpus width) is stored
    bucketed by fp and unioned/min-merged with each ingested batch's
    index."""
    return (
        df.select(_whitespace_fp(text_col).alias("fp"), _c(id_col).alias("keeper"))
        .groupBy("fp")
        .agg(F.min("keeper").alias("keeper"))
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Cross-run exact dedup: tag each batch document against an
    already-ingested corpus without re-processing the corpus — the
    realistic shape of dedup in a continuously-fed training pipeline
    (the reference's insert-only-new EXCEPT semantics, merge_db.py:56-80,
    lifted from ids to content fingerprints).

    Pass either the corpus rows (an index is built on the fly) or a
    pre-built ``fingerprint_index`` output.  Returns one row per batch
    document: (id, fp, is_new, dup_of) where ``is_new`` marks the
    documents to ingest (fingerprint unseen in the corpus AND first
    holder of that fingerprint within the batch, min id winning) and
    ``dup_of`` points at the corpus keeper or the earlier batch document
    it duplicates (NULL for keepers).

    Scale shape: everything shuffles on the 32-char fp, never the text;
    the batch-internal first-holder pass is a partial-aggregated
    groupBy; the corpus side is the narrow index relation, so the join
    cost tracks index size, not corpus size.  Identical-boilerplate hot
    fingerprints skew the join key — AQE's skew-join split handles the
    probe side, and the index side is already one row per fp by
    construction."""
    if (corpus is None) == (index is None):
        raise ValueError("pass exactly one of corpus= or index=")
    if index is None:
        index = fingerprint_index(corpus, "text", "doc_id")
    b = batch.select(_c("doc_id").alias("doc_id"), _whitespace_fp("text").alias("fp"))
    first = b.groupBy("fp").agg(F.min("doc_id").alias("__first"))
    return (
        b.join(index, on="fp", how="left")
        .join(first, on="fp")
        .select(
            "doc_id",
            "fp",
            (F.col("keeper").isNull() & (F.col("doc_id") == F.col("__first"))).alias(
                "is_new"
            ),
            F.coalesce(
                "keeper",
                F.when(F.col("doc_id") != F.col("__first"), F.col("__first")),
            ).alias("dup_of"),
        )
    )


# --- minhash + LSH ------------------------------------------------------------

def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    tok_col: str | None = None,
) -> DataFrame:
    """(id, mh0..mh{n-1}): explode distinct shingles, hash each once, then
    one codegen'd hash-aggregate with num_hashes MIN columns.

    This is the scale path: higher-order-function folds are interpreted
    per element, while the explode+agg runs inside whole-stage codegen
    with map-side partial aggregation — every doc's shingles sit in one
    input row, so partial agg collapses them to a single row per doc
    before any shuffle."""
    exploded = _shingle_rows(df, text_col, id_col, shingle_k,
                             tok_col=tok_col).select(
        id_col, F.xxhash64("__s").alias("__h")
    )
    # r16 (guide §4, driver side): the 64-column agg list built through
    # Column methods cost ~6 py4j round trips per column per build —
    # parse each whole aggregate as ONE expr string instead (same
    # IntegerType seed literal, verified hash-identical).
    aggs = [
        F.expr(f"min(xxhash64(__h, {i})) AS mh{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
    tok_col: str | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH banding table.  The xxhash64 family (the
    production default) derives it from the wide signature aggregate —
    one shingle explode into a num_hashes-column MIN agg, then the
    per-band fold (:func:`band_buckets_from_sig_table`); the md5 family
    keeps the long-relation form: explode (id, perm, hash) rows,
    MIN-aggregate per (id, perm), hash each band's ``rows`` mins
    (perm-ordered) into its bucket key.  Same collision semantics
    either way.  ``spread`` parallelizes under-split input
    (single-row-group files) before the explode; it is a no-op when the
    scan already splits.

    ``hash_family`` picks the permutation hashes.  ``"xxhash64"``
    (default) is the production path: one string hash per shingle, then
    num_hashes cheap long re-hashes.  ``"md5"`` derives permutation
    i = 4j+k as the 8-hex-char slice k of md5 of ``"{j}:{shingle}"``
    and takes string MINs — minhash only needs a consistent total order
    per independent permutation, md5's bits are independent across
    slices, and hex compares identically under Spark's and ANSI SQL's
    binary collation, so this family is reproducible by any engine with
    md5() + substring (the DuckDB oracle checks the full banding+verify
    pipeline through it) at a quarter of the digest calls.  Both
    families share every plan stage; md5 just pays string-width
    shuffles."""
    if bands < 1 or num_hashes % bands:
        # bands > num_hashes would make rows = 0 (banding degenerates to
        # a divide-by-zero: NaN/Infinity bands in non-ANSI, a crash in
        # ANSI); a non-divisor silently appends a short extra band and
        # skews the recall curve — both are config errors, not data
        raise ValueError(
            f"bands must divide num_hashes: got bands={bands}, "
            f"num_hashes={num_hashes}"
        )
    rows = num_hashes // bands
    if hash_family == "xxhash64":
        # r16 (guide §2.2): the long-relation form exploded num_hashes
        # permutation rows per DISTINCT SHINGLE — ~64× the shingle
        # relation through Generate, partial-agg and shuffle — purely
        # to keep per-expression analysis cheap.  With the signature
        # aggregate now built as parsed SQL strings, the wide form's
        # construction cost is gone, and ONE explode of the shingles
        # into a 64-column MIN aggregate plus the per-band fold is
        # measurably faster (0.98 vs 1.24 s at sf0.1) with
        # byte-identical (id, band, bucket) output — the same
        # derivation the incremental index has always used
        # (band_buckets_from_sig_table, bucket parity test-pinned).
        return band_buckets_from_sig_table(
            minhash_signature_table(
                df, text_col, id_col, num_hashes, shingle_k,
                tok_col=tok_col,
            ),
            id_col, num_hashes, bands,
        )
    base = _shingle_rows(df, text_col, id_col, shingle_k, tok_col=tok_col)
    # The md5 (oracle-replay) family keeps the long-relation shape: it
    # takes string MINs per permutation, which have no wide-aggregate
    # twin.  It derives FOUR permutation keys per digest — perm i is the
    # 8-hex-char slice k = i%4 of md5("{i//4}:{shingle}") — md5's bits
    # are independent, so the slices act as independent permutations
    # while paying a quarter of the digest calls; the digests are built
    # by one transform per shingle (index-first explode would copy the
    # ~50-byte shingle string through the Generate) and the slicing is
    # a codegen'd substring after a narrow 4× explode of the 32-char
    # digest.
    if hash_family == "md5":
        if num_hashes % 4:
            raise ValueError("md5 family requires num_hashes % 4 == 0")
        seqj = F.sequence(F.lit(0), F.lit(num_hashes // 4 - 1))
        perms = (
            base.select(
                id_col,
                F.posexplode(
                    F.transform(
                        seqj,
                        lambda j: F.md5(
                            F.concat(j.cast("string"), F.lit(":"), F.col("__s"))
                        ),
                    )
                ).alias("j", "d"),
            )
            .select(id_col, "j", "d", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"))
            .select(
                id_col,
                (F.col("j") * 4 + F.col("k")).alias("i"),
                F.substring(F.col("d"), F.col("k") * 8 + 1, F.lit(8)).alias("ph"),
            )
        )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    mins = perms.groupBy(id_col, "i").agg(F.min("ph").alias("mh"))
    banded = mins.withColumn("band", (F.col("i") / rows).cast("int"))
    grouped = banded.groupBy(id_col, "band").agg(
        F.array_sort(F.collect_list(F.struct("i", "mh"))).alias("arr")
    )
    bucket = F.md5(
        F.concat(
            F.col("band").cast("string"),
            F.lit("|"),
            F.array_join(F.transform("arr", lambda x: x["mh"]), "|"),
        )
    )
    return grouped.select(id_col, "band", bucket.alias("bucket"))


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "xxhash64",
    tok_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard) with exact-verified
    jaccard ≥ threshold, candidates from minhash-LSH banding.

    bands=16 × rows=4 at threshold 0.7 gives ~99.5% recall; precision is
    exact because every candidate is verified against the true shingle
    sets.  Only (band, bucket, id) triples and the candidate pairs ever
    shuffle — signatures and shingle sets stay inside their stages.
    ``hash_family`` as in :func:`minhash_band_buckets`.  ``tok_col``
    (see :func:`_shingle_rows`) lets a caller that already materialized
    the token arrays — the curation ladder's persisted exact rung —
    feed both the banding and the verify without re-tokenizing; output
    is identical by construction."""
    buckets = minhash_band_buckets(
        df, text_col, id_col, num_hashes, bands, 3, hash_family,
        tok_col=tok_col,
    )

    a = buckets.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("a"))
    b = buckets.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("b"))
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )

    # Exact verify on candidates only: join the (small) candidate set to
    # the text FIRST, then shingle — the gram arrays are derived only
    # for rows that survive the join, so the corpus is never shingled a
    # second time (the join-after-shingle form re-derived every doc's
    # shingle set whether or not it was a candidate).  Tokens are
    # materialized before the gram lambda (see shingles_from).  Spread
    # first so the per-doc work runs with full parallelism even when
    # the input is a handful of files.
    if tok_col is None:
        txt = spread(df).select(
            _c(id_col).alias(id_col), _c(text_col).alias("__txt")
        )
        toka, tokb = tokens("__txta"), tokens("__txtb")
    else:
        txt = spread(df).select(
            _c(id_col).alias(id_col), _c(tok_col).alias("__txt")
        )
        toka, tokb = F.col("__txta"), F.col("__txtb")
    pairs = (
        cand.join(txt.select(F.col(id_col).alias("a"),
                             F.col("__txt").alias("__txta")), on="a")
        .join(txt.select(F.col(id_col).alias("b"),
                         F.col("__txt").alias("__txtb")), on="b")
        .select("a", "b",
                toka.alias("__toka"),
                tokb.alias("__tokb"))
        .select("a", "b",
                shingles_from("__toka", 3).alias("sha"),
                shingles_from("__tokb", 3).alias("shb"))
    )
    # The threshold filter must NOT push through these projections into
    # the join condition: predicate pushdown substitutes the aliases, so
    # the condition would inline the whole token→gram derivation and
    # re-evaluate it per matched pair WITH the per-element lambda
    # capture (the optimized plan carried split() 40× — O(tokens×grams)
    # per pair, interpreted).  A seeded-rand no-op term marks the
    # jaccard projection nondeterministic, which pins the filter above
    # the Project: per pair the verify is then one O(tokens+grams)
    # column evaluation.  rand(0)*0.0 is exactly 0.0, so values are
    # unchanged (null jaccard stays null) — pinned by the exactness
    # tests and the md5-family oracle.
    jac = jaccard("sha", "shb") + F.rand(0) * F.lit(0.0)
    return (
        pairs.select("a", "b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_jaccard_prefix_filtered(
    df: DataFrame,
    block_col: str,
    text_col: str,
    id_col: str,
    threshold: float,
    n: int,
) -> DataFrame:
    """Exact blocked Jaccard ≥ threshold via prefix filtering (see
    ``ngram_jaccard_pairs``).  Shuffle ledger: df-count (block, gram),
    rank (id), candidate join (block, gram), pair dedup (a, b), then
    two verify joins at CANDIDATE cardinality against the per-doc
    gram-array relation — candidates never expand into posting rows
    (the r7 counting verify shuffled Σ min(|A|,|B|) probe rows per
    candidate — 140M rows at 10× sf0.1 — and was 70% of the wall;
    the array verify shuffles one ~|doc| long-array per candidate and
    computes |A∩B| with a codegen'd array_intersect instead of a
    posting join + hash aggregate + metadata join-back: measured
    26.9 s → 6.6 s at 10× data, sf0.1→sf1 ratio 17.4× → 3.5×).

    Nothing is persisted: every relation here is consumed exactly
    once, so the result carries no ``_pinned`` handles."""
    post, base = _jaccard_postings(df, block_col, text_col, id_col, n)
    pref = _jaccard_prefix_postings(post, id_col, threshold)
    return _jaccard_from_prefix(base, pref, id_col, threshold)


def _jaccard_postings(df, block_col, text_col, id_col, n):
    """(block, id, sz, gh) inverted-index postings with distinct grams
    hashed to longs; also returns the per-doc distinct-gram base."""
    tok = df.select(
        _c(block_col).alias("block"),
        _c(id_col).alias(id_col),
        tokens(text_col).alias("__tok"),
    )
    g = F.col("__tok") if n == 1 else shingles_from("__tok", n)
    base = tok.select(
        "block", id_col, F.array_distinct(g).alias("__g")
    ).withColumn("sz", F.size("__g"))
    post = base.select(
        "block", id_col, "sz", F.explode("__g").alias("__gram")
    ).select("block", id_col, "sz", F.xxhash64("__gram").alias("gh"))
    return post, base


def _jaccard_prefix_postings(post, id_col, threshold):
    """Keep each doc's (1−t)·sz+1 rarest grams (rarity = df within the
    block — any total order shared by both docs of a within-block pair
    is valid, and block-local df is the one that predicts join fan-out).

    ceil runs on (t*sz − eps): double multiplication can land a hair
    ABOVE the exact rational (e.g. 0.7*sz), inflating the ceil and
    silently dropping pairs whose Jaccard is exactly at the threshold —
    the epsilon keeps the filter a superset of the exact one."""
    from pyspark.sql import Window

    dfreq = post.groupBy("block", "gh").agg(F.count("*").alias("gdf"))
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    )
    ranked = post.join(dfreq, on=["block", "gh"]).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("gdf", "gh")
        ),
    )
    return ranked.filter(F.col("rn") <= prefix_len)


def _jaccard_from_prefix(base, pref, id_col, threshold):
    # Pin parallelism at the EXPANSION boundaries.  AQE coalesces
    # shuffle outputs by their byte size, and prefix postings are tiny
    # (fixed-width longs) relative to what they expand into: the
    # candidate self-join multiplies rows by per-gram posting frequency
    # (62k prefix rows → 5.5M candidate rows at sf0.1), which AQE
    # happily coalesced into ONE task (a serial 10 s stage on a 32-core
    # session; the same starvation scales to any cluster, since AQE
    # sizes on shuffle bytes, not downstream expansion).  An explicit
    # repartition-by-num is the one shuffle AQE never coalesces, so the
    # explosive stages keep full width at every scale.
    nparts = pref.sparkSession.sparkContext.defaultParallelism
    pref = pref.repartition(nparts, "block", "gh")
    a = pref.select(
        "block", "gh", F.col(id_col).alias("a"),
        F.col("sz").alias("na"), F.col("rn").alias("pa"),
    )
    b = pref.select(
        "block", "gh", F.col(id_col).alias("b"),
        F.col("sz").alias("nb"), F.col("rn").alias("pb"),
    )
    # Minimum intersection a qualifying pair must have:
    # J ≥ t ⇔ |A∩B| ≥ t/(1+t)·(|A|+|B|); epsilon guards the float ceil.
    req_inter = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("na") + F.col("nb")).cast("double")
        - F.lit(1e-9)
    )
    # PPJoin positional filter: rn is the gram's rank in the doc's
    # shared (block-df, gh) total order, so for the globally-FIRST
    # common gram of a pair, every other common gram ranks after it in
    # BOTH docs ⇒ |A∩B| ≤ 1 + min(na−pa, nb−pb).  Per-row pruning on
    # that bound is exact: a qualifying pair's first common gram sits
    # inside both prefixes (prefix-filter theorem) and its row always
    # passes (bound ≥ |A∩B| ≥ req); rows for LATER common grams may be
    # pruned, which only sheds duplicates the dropDuplicates would eat.
    # This is the filter that keeps candidates tracking output instead
    # of Σ per-gram posting² — the r6-measured 26×-at-10× superlinearity.
    pos_bound = F.lit(1) + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    cand = (
        a.join(b, on=["block", "gh"])
        .filter(
            (F.col("a") < F.col("b"))
            # size filter: J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|); the
            # epsilon guards the same FP-rounding edge as prefix_len so
            # boundary-Jaccard pairs are never dropped pre-verify.
            & (
                F.least("na", "nb").cast("double")
                >= F.lit(threshold) * F.greatest("na", "nb").cast("double")
                - F.lit(1e-9)
            )
            & (pos_bound >= req_inter)
        )
        .select("block", "a", "b", "na", "nb")
        .dropDuplicates(["a", "b"])
        # same AQE-starvation guard as above: deduped candidates are
        # narrow (~40 B) but each verify-join output row carries two
        # gram arrays and the per-row array_intersect work scales with
        # doc size, neither of which AQE's byte-based coalescing sees.
        .repartition(nparts, "a")
    )

    # Array verify: join each candidate (at candidate cardinality —
    # no expansion into posting rows) against the per-doc distinct
    # gram-hash arrays, built shuffle-free from the tokenize base, and
    # count the exact intersection with a codegen'd array_intersect.
    # The array relation is one row per document (~8·|grams| bytes),
    # orders of magnitude smaller than the corpus text — AQE broadcasts
    # it when it fits and falls back to a shuffle join at candidate
    # cardinality when it doesn't; both are linear.  All candidate
    # metadata (block/na/nb) stays on the row, so there is no
    # join-back and nothing to persist: the result carries no pins.
    arr = base.select(
        _c(id_col),
        F.transform("__g", lambda g: F.xxhash64(g)).alias("gs"),
    )
    ga = arr.select(F.col(id_col).alias("a"), F.col("gs").alias("gs_a"))
    gb = arr.select(F.col(id_col).alias("b"), F.col("gs").alias("gs_b"))
    inter = F.size(F.array_intersect("gs_a", "gs_b"))
    return (
        cand.join(ga, on="a")
        .join(gb, on="b")
        .withColumn("inter", inter)
        .select(
            "block", "a", "b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- simhash -------------------------------------------------------------------

def simhash64(col) -> Column:
    """64-bit SimHash: bit b is the sign of Σ_tokens (±1 by bit b of
    xxhash64(token)).  Weighted by token multiplicity (no dedup), matching
    the classic Charikar construction.

    The bit loop runs in Python (shift amounts must be int literals for
    the JVM shift builtins); token hashes are materialized once per row so
    the 64 per-bit folds reuse them.

    Null text ≡ empty text: both have zero tokens, every bit sum is 0,
    and the signature is -1 — without the coalesce a null text's
    aggregate would be NULL and the sig would silently come out 0,
    diverging from simhash_table's relation form."""
    hashes = F.transform(
        F.coalesce(tokens(col), F.array().cast("array<string>")),
        lambda tok: F.xxhash64(tok),
    )

    def bit_fold(b: int):
        # closure, not a default arg: pyspark counts lambda params to
        # decide the number of lambda variables.
        return lambda s, h: (
            s + F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1).cast("long")) * 2 - 1
        )

    sig = F.lit(0).cast("long")
    for b in range(64):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), bit_fold(b))
        sig = sig + F.when(
            bit_sum >= 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return sig


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) — the scale path for ``simhash64`` (same values).

    Long-relation formulation: explode (id, bit, ±1) rows and aggregate
    twice on narrow keys instead of one 64-column aggregate.  Every
    expression here is tiny, so Catalyst analysis is O(1) instead of
    O(64·depth) (the wide form spent seconds per run re-analyzing its
    64 aggregates + 64-deep signature fold), and every stage is a narrow
    codegen'd hash-agg with map-side combine.  Bit packing avoids
    column-valued shift amounts (JVM shifts take literals) by summing
    exact powers of two per 32-bit half (2^pos is exact in double for
    pos ≤ 52) and joining halves with one literal shift; the halves
    occupy disjoint bits so the final SUM is a carry-free OR even under
    ANSI overflow checks.  ``spread`` parallelizes under-split input
    before the 64× bit explode (no-op when the scan already splits).

    ``hash_family="xxhash64"`` (default, production) draws token bit b
    from bit b of one xxhash64 per token.  ``"md5"`` draws all 64 bits
    from ONE md5 per token — bit b is bit (b % 4) of hex digit (b // 4)
    — which any engine with md5() + substring can reproduce (the DuckDB
    oracle rebuilds the per-bit sign table and cross-checks pair
    Hamming distances; recall is exact because pigeonhole blocking
    can't miss a ≤ max_hamming pair, so the oracle needs no blocking of
    its own).  Same digest count as the production family — md5 is the
    parity twin, not the scale default."""
    # explode_OUTER: a zero-token doc keeps one null-token row instead of
    # vanishing from the relation — its null votes make every bit sum
    # null, which the bit-set rule below reads as "set" (matching
    # simhash64's -1 for empty docs) with NO completion join
    tok = spread(df).select(
        _c(id_col).alias(id_col), F.explode_outer(tokens(text_col)).alias("__t")
    )
    # Explode the bit index FIRST, then derive the ±1 vote in a
    # top-level projection: 64 × tokens hash/bit computations run inside
    # whole-stage codegen instead of as interpreted transform() lambdas
    # (the hot path — see minhash_band_buckets for the same rewrite).
    seq64 = F.sequence(F.lit(0), F.lit(63))
    if hash_family == "md5":
        # ONE digest per token: bit b is bit (b % 4) of hex digit
        # (b // 4) of md5(token) — md5's 128 bits are independent, so
        # drawing all 64 votes from one digest matches the statistics of
        # 64 per-bit digests at 1/64 the md5 calls, and any SQL engine
        # can rebuild it (substring + hex-digit decode + div/mod).
        hexd = F.conv(
            F.substring(
                F.col("__d"), (F.col("b") / 4).cast("int") + 1, F.lit(1)
            ),
            16,
            10,
        ).cast("int")
        bit = (
            F.floor(
                hexd / F.pow(F.lit(2.0), (F.col("b") % 4).cast("double"))
            ).cast("int")
            % 2
        )
        bits = (
            tok.select(id_col, F.md5("__t").alias("__d"))
            .select(id_col, "__d", F.explode(seq64).alias("b"))
            .select(id_col, "b", (bit * 2 - 1).alias("v"))
        )
    elif hash_family == "xxhash64":
        # null-guard the hash: xxhash64(NULL) returns the seed value, not
        # null — the null-token row must carry a NULL vote
        h = F.when(F.col("__t").isNotNull(), F.xxhash64("__t"))
        bits = (
            tok.select(id_col, h.alias("__h"))
            .select(id_col, "__h", F.explode(seq64).alias("b"))
            .select(
                id_col, "b", (F.bit_get("__h", F.col("b")) * 2 - 1).alias("v")
            )
        )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    per_bit = bits.groupBy(id_col, "b").agg(F.sum("v").alias("s"))
    half = (F.col("b") >= 32).cast("int")
    pos = F.col("b") - half * 32
    halves = per_bit.select(
        id_col,
        half.alias("half"),
        # s NULL = the doc's only row was the null-token explode_outer
        # row (zero tokens): treat as "bit set" (0 >= 0), which makes
        # every bit 1 → sig -1, exactly simhash64's empty-doc value
        F.when((F.col("s") >= 0) | F.col("s").isNull(), F.pow(F.lit(2.0), pos))
        .otherwise(F.lit(0.0))
        .alias("p"),
    ).groupBy(id_col, "half").agg(F.sum("p").cast("long").alias("hv"))
    return halves.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("half") == 1, F.shiftleft(F.col("hv"), 32)).otherwise(F.col("hv"))
        ).alias("sh")
    )


def hamming64(a, b) -> Column:
    return F.bit_count(_c(a).bitwiseXOR(_c(b)))


def _simhash_chunks(sh_col, max_hamming: int):
    """array<struct<chunk,val>> of the pigeonhole chunk keys for one
    signature: 64 bits split into max_hamming+1 equal slices.  The ONE
    chunking implementation — near-dup blocking, the persisted index,
    and the incremental probe all call it, because index and probe
    chunkings must be bit-identical or chunk keys don't line up and
    candidate generation silently returns nothing."""
    chunks = max_hamming + 1
    width = 64 // chunks
    return F.array(*[
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned(_c(sh_col), c * width)
            .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
            .alias("val"),
        )
        for c in range(chunks)
    ])


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming of their simhashes.

    Pigeonhole blocking: split 64 bits into max_hamming+1 chunks — any
    pair within distance d agrees exactly on ≥1 chunk, so candidates are
    same-chunk-value pairs (a shuffle on 16-bit chunk keys), then verified
    with bit_count.  No cross product.  ``hash_family`` as in
    :func:`simhash_table`."""
    h = simhash_table(df, "text", "doc_id", hash_family)
    exploded = h.select(
        "doc_id",
        "sh",
        F.explode(_simhash_chunks("sh", max_hamming)).alias("cv"),
    ).select("doc_id", "sh", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))

    a = exploded.select("chunk", "val", F.col("doc_id").alias("a"), F.col("sh").alias("sha"))
    b = exploded.select("chunk", "val", F.col("doc_id").alias("b"), F.col("sh").alias("shb"))
    return (
        a.join(b, on=["chunk", "val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming64("sha", "shb").alias("hamming"))
        .dropDuplicates(["a", "b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# --- n-gram Jaccard within blocks ----------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.1,
    n: int = 1,
    method: str = "auto",
) -> DataFrame:
    """Exact token-n-gram Jaccard for every pair inside a block (e.g. same
    source/lang).  Blocks bound the pair count; the LSH variants replace
    blocking when no natural key exists.

    100 TB caveat (measured, SCALING_r06.md): the OUTPUT — all pairs at
    or above threshold — is inherently O(group_size²) per duplicate
    group, so when group sizes grow with the corpus (boilerplate, page
    replication) ANY correct all-pairs operator goes superlinear
    because the answer does.  At scale, run exact dedup first so
    identical-text groups collapse to one representative (the curate
    ladder orders it this way), raise the threshold, or consume the
    clustered keeper form instead of the raw pair list.

    Inverted-index formulation: explode distinct grams, self-join on
    (block, gram) so only co-occurring pairs materialize, count shared
    grams per pair, then jaccard = inter / (|A| + |B| − inter).  Every
    stage is codegen'd; the candidate-generating shuffle keys are
    (block, gram hash) and (a, b) — never the gram arrays.  Hash the
    grams to fixed-width longs so wide shingles don't inflate the
    shuffle.

    Three methods, identical (exact) results:

    - ``method="auto"`` (default): cost-based pick between the two
      physical plans below — the same call an engine makes choosing
      broadcast vs shuffle join.  A scalar aggregate over the postings
      (Σ df² per (block, gram)) measures the count plan's co-occurrence
      volume; below 50M rows that plan is a non-event on any cluster and
      runs immediately.  Only above it is the same statistic computed
      over the prefix postings and the cheaper plan chosen.  The stats
      pass is linear in the postings either way, so it can never
      reintroduce the quadratic blowup it exists to dodge.
    - ``method="prefix"``: PPJoin-style prefix filtering — candidates
      must share a gram inside both docs' rarest-gram prefixes
      (epsilon-guarded so threshold-boundary pairs survive the float
      ceil), verified by a per-candidate array_intersect against the
      per-doc gram-hash arrays (two joins at candidate cardinality —
      candidates never expand into posting rows).  The
      100 TB-safe plan for natural text, where Zipfian stop-grams make
      raw co-occurrence quadratic in document frequency while the
      prefix join stays proportional to output size.  Degenerate case:
      a tiny vocabulary (every gram a stop-gram) leaves nothing to
      prune — prefixes still hold ~(1−t) of the postings and the
      candidate set approaches all co-occurring pairs, so the prefix
      machinery is pure overhead.
    - ``method="count"``: one hash aggregate over ALL co-occurrence
      rows, grouped on (block, a, b), doc sizes joined back afterwards.
      Cheapest exactly in that degenerate case (near-dup-heavy or
      template corpora where most co-occurring pairs are output
      anyway); quadratic in stop-gram df otherwise."""
    if method not in ("auto", "prefix", "count"):
        raise ValueError(f"unknown method: {method!r}")
    if method == "prefix":
        return _ngram_jaccard_prefix_filtered(
            df, block_col, text_col, id_col, threshold, n
        )
    # spread under-split input before the explode/self-join stages
    # (no-op when the scan already yields enough partitions)
    df = spread(df)
    post, base = _jaccard_postings(df, block_col, text_col, id_col, n)
    if method == "auto":
        # Probe gate: the Σdf² statistic costs one shuffled aggregate;
        # on provably-small input (parquet-footer row-count ceiling, no
        # job — tables.row_count_bound) even a fully-degenerate corpus
        # where every document shares its stop-grams keeps the count
        # plan's co-occurrence volume around ndocs² ≲ 4×10⁸ rows, i.e.
        # seconds of cluster work, so the probe can only cost more than
        # it saves.  Above the ceiling (or when no bound is readable)
        # the probe runs as before — it stays linear in the postings.
        from timesearch_spark.tables import row_count_bound

        ndocs = row_count_bound(df)
        if ndocs is not None and ndocs <= 20_000:
            q = None  # take the count plan below
        else:
            q = (
                post.groupBy("block", "gh")
                .agg(F.count("*").alias("c"))
                .agg(F.sum(F.col("c") * F.col("c")))
                .first()[0]
            )
        # Above ~50M co-occurrence rows, go prefix directly — no second
        # stat.  Prefix postings are a subset of the postings (per-gram
        # prefix-df ≤ df), so the prefix plan's candidate volume is
        # bounded by q, and since the r8 array verify its constant
        # overhead is two candidate-cardinality joins instead of a
        # posting expansion + aggregate + join-back — the break-even
        # against a ≥50M-row count aggregate sits far below any corpus
        # that reaches this branch.  (r7 ran a second Σdf² over the
        # prefix postings to pick; the stat paid the full df-rank
        # window — 2.5 s of a 12 s query at 10× sf0.1 — to distinguish
        # a case, degenerate tiny-vocabulary corpora, where the two
        # plans are within ~2× of each other anyway.)
        if q is not None and q >= 50_000_000:
            pref = _jaccard_prefix_postings(post, id_col, threshold)
            return _jaccard_from_prefix(base, pref, id_col, threshold)
    a = post.select("block", "gh", F.col(id_col).alias("a"))
    b = post.select("block", "gh", F.col(id_col).alias("b"))
    inter = (
        a.join(b, on=["block", "gh"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("block", "a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = base.select("block", F.col(id_col), F.col("sz"))
    na = sizes.select(F.col("block"), F.col(id_col).alias("a"), F.col("sz").alias("na"))
    nb = sizes.select(F.col("block"), F.col(id_col).alias("b"), F.col("sz").alias("nb"))
    return (
        inter.join(na, on=["block", "a"])
        .join(nb, on=["block", "b"])
        .select(
            "block", "a", "b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- near-dup clustering (connected components) --------------------------------

def connected_components(
    nodes: DataFrame | None,
    edges: DataFrame,
    id_col: str = "doc_id",
    small_graph_max_edges: int = 1_000_000,
    small_graph_max_bytes: int = 64 << 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component): connected components over an undirected pair list
    — component = min id reachable.  ``nodes = None`` (what every
    internal consumer passes) means "the edge endpoints": the node
    universe then derives from the CHECKPOINTED edge list, so the
    returned labels carry no trace of the (typically expensive)
    candidate pipeline that produced ``edges`` — consumers handle
    isolated ids themselves via a left join + coalesce.  An explicit
    ``nodes`` frame adds a row for every listed id (isolated ids label
    themselves); it must contain every edge endpoint, and its plan
    becomes part of the output's lineage.

    Two physical plans behind one contract, picked by a LIMIT probe on
    the materialized edge list (the same size-gate shape as the
    all-pairs similarity ops):

    - **small graph** (≤ ``small_graph_max_edges`` symmetric edges,
      the overwhelmingly common case — near-dup edges are a sliver of
      any curated corpus): union-find on the driver over the narrow
      (src, dst) pairs, labels re-broadcast as one map-side join.  The
      iterative plan below costs ~2 barrier jobs PER ROUND in driver
      round-trips alone; at the default gate the driver fold is
      microseconds and the whole step collapses to probe + one
      broadcast join.  The gate is TWO-dimensional (ADVICE r8): edge
      COUNT alone underestimates transfer when ids are long strings
      (50-200 byte doc ids × 1M edges is hundreds of driver MB), so a
      bounded aggregate first sums the stringified id bytes of the
      would-be collect and anything past ``small_graph_max_bytes``
      (default 64 MB) takes the distributed loop no matter how few
      edges it has.  The driver arm needs pandas/pyarrow (toPandas);
      the distributed arm is pure Spark.  Pass
      ``small_graph_max_edges=0`` to force the distributed loop.
    - **iterative hash-min label propagation** above the gate: each
      round every node takes the min of its own label and its
      neighbors' (one shuffle join + one partial-agg'd min per round);
      rounds needed = graph diameter.  Near-dup graphs are clique-like,
      so the loop converges in a handful of rounds; a 25-round cap guards
      pathological chains.  Labels are checkpointed per round to
      truncate the growing join lineage — ``localCheckpoint`` by
      default, or a RELIABLE checkpoint into ``checkpoint_dir`` (any
      path/URI Spark can write; see
      :func:`timesearch_spark.fs.checkpointer`), which is what a real
      cluster run should pass so an executor loss mid-loop recomputes
      instead of failing.  Convergence is a filter + LIMIT 1 over
      the checkpointed rows — no extra join, no full count.

    Scale: state is one (id, label) row per node and the edge list —
    both narrow; nothing quadratic materializes.  For graphs with large
    diameter (not the dedup case) the large-star/small-star variant
    converges in O(log n) rounds at the cost of rewriting edges; hash-min
    is the right trade for clustered duplicate graphs.
    """
    # Pin the edge list before ANY probe: ``edges`` is typically the
    # OUTPUT of an expensive candidate pipeline (minhash banding + exact
    # verify); the probe and every loop round read the pinned narrow
    # (src, dst) pairs, never the upstream plan.
    # One explode, not a self-union: a union would reference the edges
    # plan twice, and only its shuffle stages would be deduplicated by
    # ReusedExchange — the post-shuffle verify work would run twice
    # inside the checkpoint job.
    from timesearch_spark.fs import checkpointer

    ckpt = checkpointer(edges.sparkSession, checkpoint_dir)
    sym = ckpt(
        edges.select(
            F.explode(
                F.array(
                    F.struct(_c("a").alias("src"), _c("b").alias("dst")),
                    F.struct(_c("b").alias("src"), _c("a").alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
    )
    # nodes=None: the universe is the endpoints, derived from the
    # checkpoint — the output's lineage then starts at sym, never at
    # the caller's candidate pipeline
    node_ids = (
        sym.select(F.col("src").alias("id")).distinct()
        if nodes is None
        else nodes.select(_c(id_col).alias("id")).distinct()
    )
    if small_graph_max_edges and small_graph_max_edges > 0:
        # bounded probe BEFORE the collect: count and (stringified) id
        # bytes of at most max+1 checkpointed rows — the driver never
        # pulls a row until both ceilings clear, so long string doc_ids
        # can't balloon driver memory past small_graph_max_bytes
        # octet_length, not length: the gate measures DRIVER TRANSFER,
        # and multi-byte UTF-8 ids undercount by up to 4× on character
        # count; each endpoint null-coalesces separately so a null src
        # or dst still contributes its non-null side to the byte sum
        # instead of nulling the whole row's term out of it (ADVICE r9)
        probe = (
            sym.limit(small_graph_max_edges + 1)
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.coalesce(
                        F.octet_length(F.col("src").cast("string")), F.lit(0)
                    )
                    + F.coalesce(
                        F.octet_length(F.col("dst").cast("string")), F.lit(0)
                    )
                ).alias("b"),
            )
            .first()
        )
        if (
            probe["n"] <= small_graph_max_edges
            and int(probe["b"] or 0) <= small_graph_max_bytes
        ):
            pdf = sym.limit(small_graph_max_edges + 1).toPandas()
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for u, v in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[rv] = ru
            comp_min: dict = {}
            for x in parent:
                r = find(x)
                if r not in comp_min or x < comp_min[r]:
                    comp_min[r] = x
            rows = [(x, comp_min[find(x)]) for x in parent]
            id_type = sym.schema["src"].dataType
            from pyspark.sql import types as T

            label_map = edges.sparkSession.createDataFrame(
                rows,
                T.StructType(
                    [
                        T.StructField("id", id_type),
                        T.StructField("__cc", id_type),
                    ]
                ),
            )
            if nodes is None:
                # the driver map already covers every endpoint — emit it
                # directly (a LocalTableScan: no join, no caller lineage)
                return label_map.select(
                    F.col("id").alias(id_col), F.col("__cc").alias("component")
                )
            return node_ids.join(F.broadcast(label_map), "id", "left").select(
                F.col("id").alias(id_col),
                F.coalesce("__cc", "id").alias("component"),
            )
    lbl = ckpt(node_ids.withColumn("label", F.col("id")))
    for _ in range(25):
        nb = (
            sym.join(lbl.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbmin"))
            .withColumnRenamed("src", "id")
        )
        # Carry the per-row changed flag THROUGH the checkpoint: the
        # convergence probe then filters the already-materialized
        # narrow rows (no job re-runs the join — an earlier form
        # re-joined new against lbl on id, paying one extra shuffle
        # join per round just to ask "did anything move").
        new = ckpt(
            lbl.join(nb, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nbmin", "label")).alias("label"),
                (F.col("nbmin") < F.col("label")).alias("__chg"),
            )
        )
        changed = new.filter(F.col("__chg")).limit(1).count()
        lbl = new.drop("__chg")
        if changed == 0:
            break
    return lbl.select(F.col("id").alias(id_col), F.col("label").alias("component"))


def dedup_cluster_assignments(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.5,
    n: int = 1,
) -> DataFrame:
    """(id, cluster_id, is_keeper): end-to-end near-dup clustering — the
    top rung of the dedup ladder.  Pairs from blocked exact n-gram
    Jaccard, components via hash-min propagation, keeper = the min id of
    each cluster (deterministic).  Filtering to ``is_keeper`` yields the
    deduplicated corpus with exactly one representative per near-dup
    cluster, transitively closed (a~b, b~c keeps one of {a,b,c} even when
    a!~c directly — pair-wise dedup alone cannot decide that case)."""
    raw_pairs = ngram_jaccard_pairs(
        df, block_col=block_col, text_col="text", id_col="doc_id",
        threshold=threshold, n=n,
    )
    pairs = raw_pairs.select("a", "b")
    # label ONLY the edge-touching subgraph (nodes=None): an isolated
    # node's hash-min label is trivially its own id, so propagating
    # labels over the (at scale, vastly larger) untouched corpus buys
    # nothing — join the subgraph's labels back and default the rest
    comp = connected_components(
        None, pairs
    )
    labeled = df.select(_c("doc_id").alias("doc_id")).join(comp, "doc_id", "left")
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    out = labeled.select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_keeper"),
    )
    out._pinned = list(getattr(raw_pairs, "_pinned", []))
    return out


# --- paragraph-level boilerplate removal -------------------------------------

def remove_repeated_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 2,
    min_chars: int = 20,
) -> DataFrame:
    """Cross-corpus boilerplate removal (the CCNet/RefinedWeb paragraph
    rung): drop every paragraph whose normalized fingerprint occurs in
    MORE than ``max_df`` documents — nav bars, cookie banners, license
    footers — and reassemble each document's remaining paragraphs in
    their original order.  Paragraphs shorter than ``min_chars`` are
    never dropped (greetings/headings legitimately repeat).

    Output: (id, text) with the same id set as the input — a document
    whose every paragraph was boilerplate comes back with empty text for
    the caller's quality gate to drop, so this operator never changes
    row count (composable inside curate_corpus without re-keying).

    Scale shape: paragraphs explode once; the document-frequency
    aggregate shuffles 16-byte fingerprints with map-side partial
    distinct; the frequent-fp set probes back as a left-anti join whose
    build side AQE converts to broadcast at runtime when it is small
    (boilerplate usually is — but its size is data-dependent, so the
    plan must not FORCE a broadcast of an unbounded set); the only
    shuffle that carries paragraph TEXT is the per-document reassembly,
    keyed by id — the same width as rewriting the corpus, which any
    text-transforming pass pays.
    """
    paras = spread(df).select(
        _c(id_col).alias(id_col),
        F.posexplode(F.split(_c(text_col), r"\n\s*\n+")).alias("pos", "para"),
    )
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("para"))), r"\s+", " "))
    sized = paras.withColumn("__fp", fp).withColumn(
        "__long", F.length(F.trim(F.col("para"))) >= min_chars
    )
    frequent = (
        sized.filter(F.col("__long"))
        .groupBy("__fp")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("__fp")
    )
    bad = frequent.withColumnRenamed("__fp", "__bad")
    # anti join conditioned on __long: a short paragraph never matches,
    # so it survives even when its fingerprint is frequent
    kept = sized.join(
        bad, (sized["__fp"] == bad["__bad"]) & sized["__long"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias("__text")
    )
    return df.select(_c(id_col).alias(id_col)).join(rebuilt, id_col, "left").select(
        id_col, F.coalesce(F.col("__text"), F.lit("")).alias(text_col)
    )


#: Line-count bound above which remove_repeated_lines_within routes a
#: document to the explode + first-occurrence-window arm: the in-line
#: expression is O(lines × distinct-lines) per document, so one
#: pathological 100k-line doc (scraped logs) would be ~10¹⁰ JVM string
#: compares in a single straggler task with no guard.
DEFAULT_MAX_INLINE_LINES = 10_000


def remove_repeated_lines_within(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_lines: int | None = DEFAULT_MAX_INLINE_LINES,
) -> DataFrame:
    """WITHIN-document repeated-line removal (the Gopher-family
    repetition REWRITE that complements the `dup_line_frac` FILTER in
    text_profile_table): inside each document independently, every
    exact-duplicate non-blank line after its first occurrence is
    dropped, and the survivors are rejoined in their original order.
    Blank / whitespace-only lines are never dropped — they carry the
    paragraph structure.  Duplicate means exact string equality, the
    same relation `dup_line_frac` counts, so a document this pass
    rewrites is exactly one that signal flagged.

    Distinct from the two corpus-level rungs: `remove_repeated_paragraphs`
    drops text that repeats ACROSS documents; this drops text that
    repeats INSIDE one document (scraped comment sections, pagination
    artifacts, chat logs echoing a banner every screen).

    Output: (id, text, n_removed_lines) with the input's exact id set —
    row-preserving and map-side, so it composes anywhere in a ladder
    without re-keying.

    Scale shape: for documents at or under ``max_lines`` — the entire
    corpus in the Gopher-style use case — ZERO shuffle: one whole-row
    expression per document (`filter` with an index lambda over the
    split lines; a line is kept iff it is blank or `array_position`
    finds its first occurrence at its own index).  That expression is
    O(lines × distinct-lines) string comparisons per document inside
    the JVM, so a document OVER ``max_lines`` (a 100k-line scraped log
    would be ~10¹⁰ compares in one straggler task) routes instead to an
    explode + first-occurrence-window rebuild — one shuffle carrying
    ONLY the over-bound documents' lines, linearithmic per document,
    byte-identical output (fuzz-pinned across the seam).  The routing
    predicate is evaluated per branch, so the default plan reads the
    text column twice; a corpus KNOWN line-bounded can pass
    ``max_lines=None`` to keep the single map-side pass (zero extra
    scan, zero Exchange — the r12 plan, still plan-pinned).
    """
    lines = F.split(_c(text_col), "\n")

    def _inline(src: DataFrame) -> DataFrame:
        kept = F.filter(
            lines,
            lambda x, i: (F.trim(x) == "")
            | (F.array_position(lines, x) == i + F.lit(1)),
        )
        # Two-step select: the output text column reuses the INPUT's
        # name, and Spark's lateral column alias resolution would
        # otherwise bind any later same-select reference to the
        # rewritten alias instead of the source column (silently wrong
        # n_removed_lines).
        staged = src.select(
            _c(id_col).alias(id_col),
            F.size(lines).alias("__n_in"),
            kept.alias("__kept"),
        )
        return staged.select(
            id_col,
            F.array_join("__kept", "\n").alias(text_col),
            (F.col("__n_in") - F.size("__kept")).cast("int")
            .alias("n_removed_lines"),
        )

    if max_lines is None:
        return _inline(df)

    from pyspark.sql import Window

    # Null-safe routing: under ANSI mode F.size(split(NULL)) is NULL,
    # which satisfies NEITHER branch predicate — a null-text row would
    # silently vanish from the union, breaking the row-preserving
    # contract. Coalesce to -1 so null-text docs ride the inline arm,
    # which passes them through as null exactly like max_lines=None.
    n_lines = F.coalesce(F.size(lines), F.lit(-1))
    small = _inline(df.filter(n_lines <= max_lines))
    big_src = df.filter(n_lines > max_lines)
    ex = big_src.select(
        _c(id_col).alias(id_col),
        F.posexplode(lines).alias("__i", "__ln"),
    )
    w = Window.partitionBy(id_col, "__ln").orderBy("__i")
    keep = ex.withColumn("__rn", F.row_number().over(w)).filter(
        (F.trim("__ln") == "") | (F.col("__rn") == 1)
    )
    rebuilt = keep.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__i", "__ln"))),
                lambda s: s["__ln"],
            ),
            "\n",
        ).alias("__text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    big = (
        big_src.select(
            _c(id_col).alias(id_col), F.size(lines).alias("__n_in")
        )
        .join(rebuilt, id_col)  # over-bound docs always keep ≥1 line
        .select(
            id_col,
            F.col("__text").alias(text_col),
            (F.col("__n_in") - F.col("__n_kept")).cast("int")
            .alias("n_removed_lines"),
        )
    )
    return small.unionByName(big)


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    stride: int | None = None,
) -> DataFrame:
    """Repeated-span removal at token-window granularity — the
    practical Spark approximation of exact-substring dedup ("one in
    every epoch" duplication, Lee et al. 2021): any ``n``-token window
    whose normalized fingerprint occurs 2+ times in
    the corpus is removed from every occurrence EXCEPT one winner (the
    lowest (doc, position) — content survives exactly once), and each
    document's remaining tokens are reassembled in order.

    This is window-fingerprint granularity, not a suffix array: windows
    start every ``stride`` tokens (default ``n`` — non-overlapping
    tiles), so duplicated runs shorter than ``n`` or misaligned by less
    than a stride survive.  That is the standard cost of making the
    operator one explode + one hash aggregate instead of a distributed
    suffix-array build; pick ``stride < n`` for more recall at
    proportionally more window rows.  Winner token ranges are PROTECTED
    in the surgery pass, so the surviving copy stays intact at every
    stride — with overlapping windows a dropped span may cover a
    winner's tokens, and only its non-protected tokens are removed.
    The dual consequence: a duplicate occurrence overlapping a
    different fingerprint's winner can retain the overlapped tokens
    (over-retention, never winner mutilation).  Distinct from
    :func:`remove_repeated_paragraphs`: that rung needs paragraph
    boundaries and drops EVERY occurrence of frequent boilerplate,
    this one is structure-free and keeps one copy.

    Output: (id, text, n_removed_tokens) with the input's exact id set
    (row-preserving, composable like the paragraph rung).  Documents
    with no removed span keep their text byte-identical; a modified
    document keeps each surviving token's ORIGINAL trailing whitespace
    (leading/trailing document whitespace is trimmed), so line
    structure — and downstream signals like dup_line_frac — survive
    the surgery.

    Scale shape: ~len/stride window rows per doc, each an (id, start,
    16-byte md5) triple — text never rides the window explode; the
    frequency pass is one partial-agg'd groupBy on the fingerprint; the
    drop set joins back on the fingerprint and reduces to (id, start)
    pairs; the rebuild is an expression-only interval sweep keyed by id
    — O(tokens + spans log spans) per doc, so a pathological document
    that is mostly duplicated spans costs linear work, not tokens².
    md5 (not xxhash64) so the fingerprints are reproducible by any
    engine with md5 + substring (same choice as the paragraph rung).
    """
    stride = n if stride is None else stride
    if n < 1 or stride < 1:
        raise ValueError(f"n and stride must be >= 1: n={n} stride={stride}")
    # regex trim, NOT F.trim: trim() strips only 0x20 spaces, and a
    # leading tab/newline would put a separator at index 0 of __seps,
    # shifting every token's trailing-separator lookup by one
    trimmed = F.regexp_replace(
        F.coalesce(_c(text_col), F.lit("")), r"^\s+|\s+$", ""
    )
    # tokens + the separator FOLLOWING each token, extracted from the
    # same trimmed text: the rebuild re-emits each kept token with its
    # original trailing whitespace, preserving newlines/indentation for
    # the surviving regions (token-level surgery must not flatten line
    # structure — dup_line_frac downstream depends on it)
    base = spread(df).select(
        _c(id_col).alias(id_col),
        _c(text_col).alias("__orig"),
        F.regexp_extract_all(trimmed, F.lit(r"\S+"), 0).alias("__toks"),
        F.regexp_extract_all(trimmed, F.lit(r"\s+"), 0).alias("__seps"),
    )
    n_win = F.floor((F.size("__toks") - n) / stride).cast("int") + 1
    # sequence(0, -1) DESCENDS in Spark — a doc shorter than n tokens
    # must yield an empty window list, not phantom negative starts
    win_idx = F.when(
        n_win > 0, F.sequence(F.lit(0), n_win - 1)
    ).otherwise(F.array().cast("array<int>"))
    win_fps = F.transform(
        win_idx,
        lambda w: F.md5(
            F.lower(F.array_join(F.slice("__toks", w * stride + 1, n), " "))
        ),
    )
    # base feeds the window explode AND the rebuild; occ feeds the
    # winner aggregate AND the drop probe — persist both so one action
    # evaluates the tokenize/md5 map stage once, not 3× (same pattern
    # as minhash_index; handles ride on the result as _pinned for
    # release_pins by loop callers)
    base = base.persist()
    occ = (
        base.select(id_col, F.posexplode(win_fps).alias("__w", "__fp"))
        .select(id_col, (F.col("__w") * stride).alias("__start"), "__fp")
        .persist()
    )
    winners = (
        occ.groupBy("__fp")
        .agg(
            F.count("*").alias("__n_occ"),
            F.min(F.struct(id_col, "__start")).alias("__win"),
        )
        .filter(F.col("__n_occ") >= 2)
        .select("__fp", "__win")
    )
    # One pass splits each repeated occurrence into dropped spans and
    # winner spans per doc.  Winner spans PROTECT their token range in
    # the surgery below: with overlapping windows (stride < n) a
    # different dropped span can cover a winner's tokens, and without
    # protection the "one surviving copy" would be silently mutilated
    # (r6 item 8).  Docs whose only occurrences are winners drop out
    # via the size filter, keeping their bytes untouched.
    is_win = (F.col(id_col) == F.col(f"__win.{id_col}")) & (
        F.col("__start") == F.col("__win.__start")
    )
    drop = (
        occ.join(winners, "__fp")
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.when(~is_win, F.col("__start"))
            ).alias("__spans"),
            F.collect_list(
                F.when(is_win, F.col("__start"))
            ).alias("__wins"),
        )
        .filter(F.size("__spans") > 0)
    )
    # The surgery is an interval sweep, O(tokens + spans log spans) per
    # doc — NOT a per-token F.exists over the span arrays (the r8 form,
    # O(tokens × spans): a pathological mostly-duplicated document did
    # ~tokens²/stride work).  Every span is n tokens long, so dropped
    # and winner spans become ±1 boundary events; one ordered aggregate
    # over the sorted events emits the disjoint REMOVED intervals
    # (drop-covered AND winner-free regions — winner protection is the
    # `w == 0` term); the kept complement then reassembles the text as
    # one slice+join per kept interval.
    events = F.array_sort(
        F.concat(
            F.transform("__spans", lambda s: F.struct(
                s.cast("int").alias("pos"),
                F.lit(1).alias("d"), F.lit(0).alias("w"))),
            F.transform("__spans", lambda s: F.struct(
                (s + n).cast("int").alias("pos"),
                F.lit(-1).alias("d"), F.lit(0).alias("w"))),
            F.transform("__wins", lambda s: F.struct(
                s.cast("int").alias("pos"),
                F.lit(0).alias("d"), F.lit(1).alias("w"))),
            F.transform("__wins", lambda s: F.struct(
                (s + n).cast("int").alias("pos"),
                F.lit(0).alias("d"), F.lit(-1).alias("w"))),
        )
    )
    swept = F.aggregate(
        events,
        F.struct(
            F.lit(0).alias("prev"), F.lit(0).alias("d"),
            F.lit(0).alias("w"),
            F.array().cast("array<struct<a:int,b:int>>").alias("iv"),
        ),
        # between consecutive event positions the counters are constant:
        # a gap with drops active and no winner is a removed interval
        # (adjacent intervals need no merging — the kept complement
        # filters zero-length gaps)
        lambda acc, e: F.struct(
            e["pos"].alias("prev"),
            (acc["d"] + e["d"]).alias("d"),
            (acc["w"] + e["w"]).alias("w"),
            F.when(
                (acc["d"] > 0) & (acc["w"] == 0) & (e["pos"] > acc["prev"]),
                F.concat(acc["iv"], F.array(F.struct(
                    acc["prev"].alias("a"), e["pos"].alias("b")))),
            ).otherwise(acc["iv"]).alias("iv"),
        ),
    )
    # __iv is multi-use and not `isCheap`, so CollapseProject keeps it a
    # materialized column (one sweep per row) instead of inlining one
    # sweep per consumer; for untouched docs the arrays are null and
    # the sweep short-circuits to null
    joined = base.join(drop, id_col, "left").withColumn("__iv", swept["iv"])
    kept = F.filter(
        F.zip_with(
            F.concat(F.array(F.lit(0)), F.transform("__iv", lambda x: x["b"])),
            F.concat(
                F.transform("__iv", lambda x: x["a"]),
                F.array(F.size("__toks").cast("int")),
            ),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
        lambda k: k["b"] > k["a"],
    )
    # kept token i re-emits with its original trailing separator
    # (element i+1 of the 1-indexed seps array; the last token has
    # none); the separator that preceded a removed run is the one
    # carried by the previous kept token — interior newlines survive
    # wherever their token does
    tokseps = F.transform(
        "__toks",
        lambda x, i: F.concat(
            x,
            F.coalesce(
                F.try_element_at("__seps", (i + 1).cast("int")), F.lit("")
            ),
        ),
    )
    # tokseps rides in the aggregate's INITIAL accumulator, which Spark
    # evaluates once per row — a plain column reference would be inlined
    # by CollapseProject into the merge lambda and re-derived once per
    # kept interval (O(intervals × tokens), the very shape this sweep
    # exists to kill); the merge step only re-wraps the array reference
    rebuilt = F.aggregate(
        kept,
        F.struct(F.lit("").alias("s"), tokseps.alias("ts")),
        lambda acc, k: F.struct(
            F.concat(
                acc["s"],
                F.array_join(
                    F.slice(acc["ts"], k["a"] + 1, k["b"] - k["a"]), ""
                ),
            ).alias("s"),
            acc["ts"].alias("ts"),
        ),
        lambda acc: acc["s"],
    )
    n_removed = F.aggregate(
        F.col("__iv"), F.lit(0), lambda acc, x: acc + (x["b"] - x["a"])
    )
    out = joined.select(
        id_col,
        F.when(F.col("__spans").isNull(), F.col("__orig"))
        # regex rstrip (rtrim strips only 0x20): the last kept token's
        # dangling separator may be a tab/newline when the removed run
        # sat at the end of the document
        .otherwise(F.regexp_replace(rebuilt, r"\s+$", ""))
        .alias(text_col),
        F.when(F.col("__spans").isNull(), F.lit(0))
        .otherwise(n_removed)
        .cast("long")
        .alias("n_removed_tokens"),
    )
    out._pinned = [base, occ]
    return out


# --- incremental near-dup dedup (batch vs persisted minhash index) ------------

def release_pins(*dfs) -> None:
    """Unpersist every cached sub-plan a result DataFrame carries in
    ``_pinned`` (idempotent, missing attribute is a no-op).  Operators
    that persist a shared sub-plan (minhash_index,
    incremental_minhash_dedup, pipeline.curate_corpus) attach the
    handles here; call this once the result has been fully consumed —
    loop callers that skip it leak one CacheManager entry per call for
    the session lifetime."""
    for df in dfs:
        for pin in getattr(df, "_pinned", []):
            pin.unpersist()


def band_buckets_from_sig_table(
    sig_tbl: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bucket) derived from an already-computed wide
    signature table — byte-identical bucket values to the xxhash64
    family of :func:`minhash_band_buckets` (same per-permutation mins,
    same perm-ordered ``xxhash64`` fold seeded with the band index), so
    the two constructions inter-operate against the same stored index.

    Use this when the signature table is needed ANYWAY (the incremental
    index/probe paths): one shingle explode + one wide min-aggregate
    feeds both artifacts, instead of paying the banding path's separate
    num_hashes× row explode over the same text."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"bands must divide num_hashes: got bands={bands}, "
            f"num_hashes={num_hashes}"
        )
    rows = num_hashes // bands
    # one parsed expression instead of a num_hashes-wide Column build
    # (r16, guide §4 driver side — py4j round trips per Column op); the
    # SQL mirrors the previous tree exactly: same band seed cast, same
    # left fold
    sig = "array(" + ", ".join(f"mh{i}" for i in range(num_hashes)) + ")"
    per_band = (
        f"transform(sequence(0, {bands - 1}), "
        f"b -> aggregate(slice({sig}, b * {rows} + 1, {rows}), "
        "CAST(b AS BIGINT), (acc, x) -> xxhash64(acc, x)))"
    )
    return sig_tbl.selectExpr(
        f"`{id_col}`",
        f"posexplode({per_band}) AS (band, bucket)",
    )


def minhash_index(
    df: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The persisted artifacts of incremental NEAR-dup dedup, the minhash
    analog of ``fingerprint_index``: ``(buckets, sigs)`` where buckets =
    (band, bucket, keeper) — store partitioned/bucketed by (band, bucket)
    so probes are co-located — and sigs = (keeper, sig array<long>).
    Together 80 longs (16 bands + 64 hashes, 3-word shingles) per corpus
    doc: the corpus text is never re-read by later batches.  The batch
    side (:func:`incremental_minhash_dedup`) uses the same fixed
    constants, so an index always matches its probes.

    Both artifacts derive from ONE materialized signature pass (the
    wide min-aggregate) — the banding fold reuses the pinned mins
    instead of re-exploding the corpus text, and the bucket values are
    identical to ``minhash_band_buckets(..., "xxhash64")``
    (test-pinned).  The shared pass is persist()ed; because CacheManager
    entries live until unpersist, BOTH returned DataFrames carry the
    handle in ``_pinned`` — loop callers (CorpusStore.ingest_batch)
    must ``release_pins`` after consuming them or the per-batch caches
    accumulate for the session lifetime."""
    sig_tbl = minhash_signature_table(
        df, "text", "doc_id", 64, 3
    ).persist()
    buckets = band_buckets_from_sig_table(
        sig_tbl, "doc_id", 64, 16
    ).select("band", "bucket", F.col("doc_id").alias("keeper"))
    sigs = sig_tbl.selectExpr(
        "`doc_id` AS keeper",
        "array(" + ", ".join(f"mh{i}" for i in range(64))
        + ") AS sig",
    )
    buckets._pinned = [sig_tbl]
    sigs._pinned = [sig_tbl]
    return buckets, sigs


def incremental_minhash_dedup(
    batch: DataFrame,
    index_buckets: DataFrame,
    index_sigs: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Tag each batch document against an already-ingested corpus's
    minhash index WITHOUT re-reading the corpus — cross-run near-dup
    dedup, the fuzzy analog of ``incremental_dedup``.

    Returns one row per batch document: (id, is_new, dup_of, est_jaccard)
    — ``dup_of`` = the min corpus keeper whose banding collided AND whose
    signature-estimated Jaccard (mean of equal minhash components, the
    standard unbiased estimator) reaches ``threshold``; NULL with
    ``is_new`` true otherwise.  Estimate-based verification is the point:
    exact verification would need corpus text, which the index exists to
    avoid; at 64 hashes the estimator's σ ≈ 0.06, so thresholds are
    honored to a few points.

    Scale shape: batch signatures are one codegen'd explode+agg; the
    candidate join touches only colliding (band, bucket) groups of the
    stored index (partition-pruned when the index is written bucketed);
    signatures join in for CANDIDATES only, and the final pick is one
    partial-agg'd min per batch doc.  Cost tracks index size and
    collision count, never corpus size."""
    # one signature pass over the batch feeds both probe artifacts: the
    # banding fold derives from the persisted wide mins
    # (band_buckets_from_sig_table — bucket values identical to the
    # minhash_band_buckets xxhash64 family), instead of re-exploding the
    # batch text a second time.  The result carries the handle in
    # ``_pinned``: loop callers release_pins after consuming
    sig_tbl = minhash_signature_table(
        batch, "text", "doc_id", 64, 3
    ).persist()
    b_buckets = band_buckets_from_sig_table(
        sig_tbl, "doc_id", 64, 16
    ).select("band", "bucket", F.col("doc_id").alias("__bid"))
    b_sigs = sig_tbl.selectExpr(
        "`doc_id` AS __bid",
        "array(" + ", ".join(f"mh{i}" for i in range(64))
        + ") AS __bsig",
    )
    cand = (
        b_buckets.join(index_buckets, on=["band", "bucket"])
        .select("__bid", "keeper")
        .dropDuplicates(["__bid", "keeper"])
    )
    est = F.expr(
        "CAST(aggregate(zip_with(__bsig, sig, "
        "(a, b) -> CASE WHEN a = b THEN 1 ELSE 0 END), 0, "
        "(acc, x) -> acc + x) AS DOUBLE) / 64"
    )
    verified = (
        cand.join(b_sigs, on="__bid")
        .join(index_sigs, on="keeper")
        .select("__bid", "keeper", est.alias("__est"))
        .filter(F.col("__est") >= threshold)
    )
    best = verified.groupBy("__bid").agg(
        F.min_by(F.struct("keeper", "__est"), F.col("keeper")).alias("__w")
    )
    out = (
        batch.select(_c("doc_id").alias("doc_id"))
        .join(best.withColumnRenamed("__bid", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("__w").isNull().alias("is_new"),
            F.col("__w.keeper").alias("dup_of"),
            F.round(F.col("__w.__est"), 6).alias("est_jaccard"),
        )
    )
    out._pinned = [sig_tbl]
    return out


def simhash_index(
    df: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """The persisted SimHash artifact for incremental near-dup tagging:
    (chunk, val, keeper, sh) — one row per pigeonhole chunk per corpus
    doc (max_hamming+1 rows/doc), stored partitioned by (chunk, val) so
    batch probes prune.  Carries the full 64-bit signature so Hamming
    verification needs no second relation."""
    h = simhash_table(df, "text", "doc_id", "xxhash64")
    return h.select(
        F.col("doc_id").alias("keeper"),
        F.col("sh"),
        F.explode(_simhash_chunks("sh", max_hamming)).alias("cv"),
    ).select(
        F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"),
        "keeper", "sh",
    )


def incremental_simhash_dedup(
    batch: DataFrame,
    index: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Tag a batch against a persisted ``simhash_index`` without
    re-reading the corpus — the Hamming-distance sibling of
    ``incremental_minhash_dedup`` (simhash favors short/structured text
    where minhash's shingle sets get thin).

    Returns (id, is_new, dup_of, hamming): ``dup_of`` = min corpus
    keeper within ``max_hamming`` of the doc's signature; recall is
    EXACT (pigeonhole: a pair within distance d agrees on ≥1 of d+1
    chunks, so the blocked probe cannot miss).  Candidates shuffle on
    narrow (chunk, val) keys; verification is one bit_count per
    candidate.  ``max_hamming`` is part of the INDEX LAYOUT: the probe's
    chunking must equal the value the index was built with, or chunk
    keys don't line up and nothing matches."""
    bh = simhash_table(batch, "text", "doc_id", "xxhash64")
    probes = bh.select(
        F.col("doc_id").alias("__bid"),
        F.col("sh").alias("__bsh"),
        F.explode(_simhash_chunks("sh", max_hamming)).alias("cv"),
    ).select("__bid", "__bsh", F.col("cv.chunk").alias("chunk"),
             F.col("cv.val").alias("val"))
    cand = (
        probes.join(index, on=["chunk", "val"])
        .select("__bid", "__bsh", "keeper", "sh")
        .dropDuplicates(["__bid", "keeper"])
        .withColumn("hamming", hamming64("__bsh", "sh"))
        .filter(F.col("hamming") <= max_hamming)
    )
    best = cand.groupBy("__bid").agg(
        F.min_by(F.struct("keeper", "hamming"), F.col("keeper")).alias("__w")
    )
    return (
        batch.select(_c("doc_id").alias("doc_id"))
        .join(best.withColumnRenamed("__bid", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("__w").isNull().alias("is_new"),
            F.col("__w.keeper").alias("dup_of"),
            F.col("__w.hamming").alias("hamming"),
        )
    )
