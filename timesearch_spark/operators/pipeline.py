"""Training-data pipeline operators (engine extension: LLM-pipeline surface).

The reference engine stops at archiving (scan → merge → render); a corpus
destined for model training additionally needs deterministic splitting,
sequence packing, benchmark decontamination, stratified sampling, and PII
redaction.  Everything here is built-in-expression PySpark — JVM-side,
codegen'd, no Python in any hot path — and every operator is registered in
the query registry with a DuckDB oracle.

Scale notes (100 TB):

- ``train_val_test_split`` / ``redact_pii`` are pure map stages: zero
  shuffle, trivially linear.
- ``pack_sequences`` windows per block (source/domain): blocks pack in
  parallel, one shuffle on the block key.  A single pathological block
  serializes its own window only; if one block dominates the corpus,
  pre-split it with a coarse range key and stitch chunk ids with the
  classic two-phase prefix sum (per-range totals are tiny).
- ``decontaminate`` broadcasts the benchmark's gram set — benchmarks are
  MBs, corpora are TBs, so the document grams are probed map-side and
  only matching (doc, gram) pairs ever shuffle.
- ``quota_sample`` shuffles once on the stratum key; the md5 order key
  makes the sample deterministic and uniformly spread regardless of
  input order or partitioning.
"""

from __future__ import annotations

import hashlib
import inspect
import warnings
from types import SimpleNamespace
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from timesearch_spark import fs as fsmod
from timesearch_spark.operators.dedup import shingles_from, tokens


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- deterministic train/val/test split -------------------------------------

HEX_SPACE = 16 ** 8  # buckets = first 8 hex chars of md5 → 2^32 of them


def _hex_cut(frac: float) -> str:
    """Cumulative fraction → 8-hex-digit threshold string.

    Fixed-width lowercase hex compares lexicographically exactly as the
    integer it encodes, and md5 hex is identical in Spark and DuckDB —
    so the split is portable WITHOUT a hex→int conversion (DuckDB has
    TO_BASE but no FROM_BASE)."""
    return format(min(int(frac * HEX_SPACE), HEX_SPACE - 1), "08x")


def split_column(
    id_col, train: float = 0.9, val: float = 0.05
) -> Column:
    """'train' / 'val' / 'test' assignment from the md5 of the id.

    Hash-based, not random: stable under reruns, re-partitioning, and
    incremental appends (a new document never flips an old one's split —
    the property `randomSplit` cannot give an evolving corpus)."""
    if not (0 < train < 1 and 0 <= val < 1 and train + val <= 1):
        raise ValueError(f"bad split fractions: train={train} val={val}")
    h = F.substring(F.md5(_c(id_col).cast("string")), 1, 8)
    return (
        F.when(h < _hex_cut(train), "train")
        .when(h < _hex_cut(train + val), "val")
        .otherwise("test")
    )


def train_val_test_split(
    df: DataFrame, id_col: str = "doc_id",
    train: float = 0.9, val: float = 0.05,
) -> DataFrame:
    """Add a deterministic ``split`` column (see ``split_column``)."""
    return df.withColumn("split", split_column(id_col, train, val))


# --- sequence packing --------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    block_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
) -> DataFrame:
    """Assign documents to fixed-token-budget training chunks.

    Contiguous greedy packing: within a block documents are laid out in
    ``order_col`` order and a chunk boundary falls wherever the running
    token total crosses ``budget`` — i.e. ``chunk_id = floor(tokens
    before this doc / budget)``.  A document that straddles a boundary
    belongs to the chunk it starts in (its chunk overflows rather than
    splitting the document).  Deterministic: depends only on the data,
    never on partitioning.

    Returns (block, order_col, n_tokens, chunk_id, chunk_pos).
    """
    w = Window.partitionBy("block").orderBy(order_col)
    n_tok = F.size(tokens(text_col)).cast("long")
    out = (
        df.select(
            _c(block_col).alias("block"),
            _c(order_col).alias(order_col),
            n_tok.alias("n_tokens"),
        )
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("n_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "chunk_id", F.floor(F.col("cum_before") / F.lit(budget)).cast("long")
        )
        .withColumn("chunk_pos", F.row_number().over(w).cast("long"))
    )
    return out.drop("cum_before")


# --- benchmark decontamination ----------------------------------------------

def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
    min_frac: float | None = None,
    max_broadcast_grams: int | None = 5_000_000,
) -> DataFrame:
    """Flag corpus documents whose word-``n``-grams overlap a
    benchmark/eval set (the standard contamination check run before
    training): absolute count (``min_shared``) and, when ``min_frac`` is
    given, the overlap FRACTION of the document's own distinct grams —
    the form real decontamination uses, since one incidental shared gram
    in a long document is noise while 30% overlap is a leaked example.

    Plan shape: the benchmark's distinct grams (small — benchmarks are
    MBs) are broadcast; each document's grams probe the broadcast hash
    map map-side, so nothing shuffles except the matching (doc, gram)
    pairs feeding the per-doc distinct count; the document's own total
    (``n_total``) is a per-row expression carried through the explode.
    The "benchmarks are small" assumption is enforced, not assumed: a
    bounded ``limit(max+1)`` probe counts the gram set first, and past
    ``max_broadcast_grams`` the broadcast hint is DROPPED so the join
    degrades to a shuffle join (same rows, no executor-memory blowup)
    instead of forcing an oversized broadcast.  ``None`` skips the
    probe and always broadcasts (the caller vouches for the size).
    Returns (``id_col``, n_shared, n_total) — integer-only, so the
    fraction never enters a cross-engine float comparison; the
    ``min_frac`` gate is the exact integer inequality
    n_shared * 10^6 >= round(min_frac * 10^6) * n_total.
    """
    # tokens then grams materialized in their own projections: shingling
    # straight off the text re-runs the tokenizing split inside the
    # per-gram lambda (see dedup.shingles_from)
    doc_grams = (
        docs.select(_c(id_col).alias(id_col), tokens(text_col).alias("__tok"))
        .select(id_col,
                F.array_distinct(shingles_from("__tok", n)).alias("__ga"))
        .select(
            id_col,
            F.size("__ga").alias("__n_total"),
            F.explode("__ga").alias("gram"),
        )
    )
    bench_grams = (
        benchmark.select(tokens(text_col).alias("__tok"))
        .select(F.explode(
            F.array_distinct(shingles_from("__tok", n))).alias("gram"))
        .distinct()
    )
    bench_side = F.broadcast(bench_grams)
    if max_broadcast_grams is not None:
        # Footer ceiling first (no job): distinct word-n-grams can't
        # outnumber the benchmark's words, and words can't outnumber
        # its encoded-uncompressed text bytes (byte_size_bound) under
        # Spark's default string encodings; the 4× margin covers
        # prefix-compressing encoders other writers may use.  This is a
        # gate ORDERING optimization, not the guard itself — anything
        # the ceiling can't clear still pays the bounded probe job, so
        # a pathological encoder costs one small job, never an
        # oversized broadcast.
        from timesearch_spark.tables import byte_size_bound

        bb = byte_size_bound(benchmark)
        if bb is None or bb * 4 > max_broadcast_grams:
            # bounded probe: counts at most max+1 rows, never
            # materializes the gram set — one small benchmark-only job
            if (
                bench_grams.limit(max_broadcast_grams + 1).count()
                > max_broadcast_grams
            ):
                bench_side = bench_grams
    out = (
        doc_grams.join(bench_side, on="gram")
        .groupBy(id_col)
        .agg(
            F.count_distinct("gram").alias("n_shared"),
            F.first("__n_total").alias("n_total"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )
    if min_frac is not None:
        frac_micros = round(min_frac * 1_000_000)
        out = out.filter(
            F.col("n_shared") * 1_000_000 >= frac_micros * F.col("n_total")
        )
    return out.select(id_col, "n_shared", "n_total")


# --- stratified quota sampling ----------------------------------------------

def quota_sample(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, picked by md5(id)
    order — a deterministic uniform sample (domain mixing / quota
    balancing).  The md5 sort key makes membership a pure function of
    the id: stable across runs, input order, and partitioning; the id
    tiebreak covers (astronomically unlikely) prefix collisions."""
    h = F.substring(F.md5(_c(id_col).cast("string")), 1, 16)
    w = Window.partitionBy(strata_col).orderBy(h, _c(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cluster_balanced_sample(
    emb: DataFrame,
    per_cluster: int,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Topic-balanced sampling: assign every row to its nearest-centroid
    cluster, then keep a deterministic ``min(per_cluster, |cluster|)``
    quota per cluster — the diversity-balancing step that stops one
    dominant topic/domain from flooding a training mix, run on the
    embedding column instead of a metadata stratum.

    ``centroids`` is any ``[(cell_id, vector), ...]`` codebook —
    ``similarity.train_codebook`` (k-means||) for production balance, or
    the deterministic ``centroid_seeds`` default here.  Composition of
    two existing scale-shaped pieces: ``assign_cells`` is a pure per-row
    expression against the broadcast codebook (rides the scan, no
    shuffle), and ``quota_sample`` shuffles once on the cluster id with
    an md5-deterministic per-cluster order.  Output: the sampled rows +
    their ``cell`` assignment."""
    from timesearch_spark.operators.similarity import (
        assign_cells,
        centroid_seeds,
    )

    if centroids is None:
        centroids = centroid_seeds(emb, n_clusters, id_col, vec_col)
    assigned = assign_cells(emb, centroids, vec_col)
    return quota_sample(
        assigned, strata_col="cell", id_col=id_col, k=per_cluster
    )


# --- PII redaction ------------------------------------------------------------

#: Deliberately RE2-compatible (no lookaround/backrefs) so the same
#: pattern runs identically under Java regex (Spark) and RE2 (DuckDB).
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"(\+?\d{1,2}[ -])?\(?\d{3}\)?[ -]\d{3}[ -]\d{4}", "[PHONE]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def redact_pii(col) -> Column:
    """Replace emails, NANP-style phone numbers, and IPv4 addresses with
    typed placeholders.  Order matters: emails first (their local part
    may contain digits), then phones, then bare IPs."""
    c = _c(col)
    for pat, rep in PII_PATTERNS:
        c = F.regexp_replace(c, pat, rep)
    return c


# --- corpus n-gram statistics -------------------------------------------------

def ngram_top(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` corpus ``n``-grams by document frequency (each document
    counts a gram once), ties broken by gram text — the corpus-statistics
    probe used for boilerplate spotting and stop-gram lists.  Map-side
    partial aggregation collapses each partition's counts before the
    single shuffle; TakeOrderedAndProject keeps the top-k selection
    driver-light."""
    g = F.explode(F.array_distinct(shingles_from("__tok", n))).alias("gram")
    return (
        df.select(tokens(text_col).alias("__tok"))
        .select(g)
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("gram"))
        .limit(k)
    )


# --- document chunking --------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """(id, chunk_id, chunk_text, n_tokens): fixed-budget token chunks
    with ``overlap`` tokens of context between consecutive chunks — the
    standard pre-embedding / pre-tokenization split for long documents.

    Chunk c covers token positions [c·stride, c·stride + max_tokens)
    with stride = max_tokens − overlap.  Built from ONE posexplode of
    the token array: each token computes the (≤ ⌈max/stride⌉, here ≤ 2)
    chunk ids covering it, explodes to (id, chunk, pos, token) and one
    hash aggregate reassembles chunks via position-sorted collect_list.
    No slice-per-chunk expressions — the transform(sequence, i ->
    slice(...)) form re-evaluates the tokenizing split per chunk
    (the text_profile O(n²) lesson) and its Generate would copy the
    whole document per chunk.  Degenerate tail chunks (length ≤ overlap,
    fully contained in their predecessor) are dropped; documents shorter
    than max_tokens yield exactly one chunk; empty documents yield none.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    from timesearch_spark.tables import spread

    tok = spread(df).select(
        _c(id_col).alias(id_col),
        F.posexplode(tokens(text_col)).alias("__pos", "__t"),
    )
    first_chunk = F.greatest(
        F.lit(0),
        F.ceil((F.col("__pos") - max_tokens + 1) / F.lit(float(stride))).cast("int"),
    )
    last_chunk = F.floor(F.col("__pos") / stride).cast("int")
    exploded = tok.select(
        id_col, "__pos", "__t",
        F.explode(F.sequence(first_chunk, last_chunk)).alias("chunk_id"),
    )
    return (
        exploded.groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__t"))),
                    lambda x: x["__t"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count("*").alias("n_tokens"),
        )
        .filter((F.col("chunk_id") == 0) | (F.col("n_tokens") > overlap))
    )


# --- BM25 corpus ranking ------------------------------------------------------

def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, score): Okapi BM25 relevance of every document to a bag of
    query terms — the canonical corpus-curation ranker (pull the
    documents most relevant to a benchmark/topic, or inversely, inspect
    what a contamination query would retrieve).

    idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5));
    score  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Scale shape: ONE explode of the corpus feeds both the per-doc
    length and the per-(doc, term) counts for the query terms only
    (the filter runs before the count shuffle, so the wide aggregate is
    proportional to query-term hits, not corpus tokens).  N and avgdl
    are 1-row aggregates cross-joined in (no driver collect); the
    per-term document frequencies are a |terms|-row relation, broadcast
    into the scoring join.  Zero-hit documents score 0.0 and are kept —
    filter or rank downstream.
    """
    terms = [t.lower() for t in query_terms]
    tok = df.select(_c(id_col).alias(id_col), F.explode(tokens(text_col)).alias("__t"))
    dl = tok.groupBy(id_col).agg(F.count("*").alias("__dl"))
    hits = tok.filter(F.col("__t").isin(*terms))
    tf = hits.groupBy(id_col, "__t").agg(F.count("*").alias("__tf"))
    dfreq = (
        hits.select(id_col, "__t").distinct()
        .groupBy("__t").agg(F.count("*").alias("__df"))
    )
    globals_ = dl.agg(
        F.count("*").alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    contrib = (
        tf.join(F.broadcast(dfreq), on="__t")
        .join(F.broadcast(globals_))
        .join(dl, on=id_col)
        .select(
            id_col,
            (
                idf
                * (F.col("__tf") * (k1 + 1))
                / (
                    F.col("__tf")
                    + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
                )
            ).alias("__c"),
        )
    )
    scored = contrib.groupBy(id_col).agg(F.sum("__c").alias("score"))
    return (
        df.select(_c(id_col).alias(id_col))
        .join(scored, on=id_col, how="left")
        .select(id_col, F.coalesce("score", F.lit(0.0)).alias("score"))
    )


# --- deterministic global shuffle / sharding ----------------------------------

def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "0",
    num_shards: int = 16,
) -> DataFrame:
    """(id, shard, pos): seeded deterministic permutation + sharding — the
    "global shuffle" a training loader needs for i.i.d.-looking batches.

    The order key is md5('{seed}:{id}'): uniform, reproducible across
    engines and reruns, and changing the seed is a fresh permutation
    without touching the data.  ``shard`` is the key's first hex nibble
    taken modulo ``num_shards`` (uniform because md5 is), ``pos`` ranks
    within the shard by (key, id) — a per-shard window, so shards
    sort in parallel and NO global single-partition ordering exists
    anywhere in the plan.  A training loader that walks shards
    round-robin by pos reads the full deterministic permutation.

    Scale: one shuffle on the shard key + a per-shard sort; shard count
    bounds sort width, so at 100 TB raise ``num_shards`` to
    corpus_bytes / desired_shard_bytes.  Skew-free by construction —
    which is WHY ``num_shards`` must be a power of two ≤ 256: the shard
    is nibble(s) mod num_shards, and a non-divisor of the 16/256 nibble
    space would give low residues twice the mass of high ones (2× shard
    skew, and a round-robin loader's tail degenerates to the fat
    shards).  Values above 16 use two nibbles (256-way).
    """
    if not 1 <= num_shards <= 256 or (
        (16 if num_shards <= 16 else 256) % num_shards
    ):
        raise ValueError(
            "num_shards must be a power of two in [1, 256] (a non-divisor "
            f"of the nibble space skews shards 2x): {num_shards}"
        )
    width = 1 if num_shards <= 16 else 2
    key = F.md5(F.concat(F.lit(f"{seed}:"), _c(id_col).cast("string")))
    keyed = df.select(_c(id_col).alias(id_col), key.alias("key"))
    # nibble(s) → int without a hex→int builtin (portable to the oracle):
    # position of each hex char in the alphabet, big-endian
    nib = "(locate(substring(key, {i}, 1), '0123456789abcdef') - 1)"
    expr = nib.format(i=1)
    if width == 2:
        expr = f"{expr} * 16 + {nib.format(i=2)}"
    shard = F.pmod(F.expr(expr), F.lit(num_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("key", id_col)
    return (
        keyed.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


# --- end-to-end corpus curation ----------------------------------------------

def rung_counts(metrics: dict) -> dict[str, int]:
    """Row count per recorded curate rung, as ONE Spark job (a union of
    per-rung count aggregates).  After a one-shot run, call it AFTER
    consuming the result and BEFORE ``release_pins``: every boundary but
    ``input`` is pinned while an audit dict is passed, so those counts
    are cache-local scans; ``input`` re-runs the scan plus any surgery
    (persisting the full corpus just to count it would cost more than
    the recount at every scale).  A staged run's boundaries are its
    committed rung parquets.

    (An earlier design observed the counts inside the main action with
    :class:`pyspark.sql.Observation`; observed nodes BELOW a persist
    boundary get their metrics swallowed by the cache-materialization
    execution — Spark hands back an empty row — so the post-hoc count
    over the pinned rungs is the reliable shape.)"""
    from functools import reduce

    if not metrics:
        return {}
    parts = [
        df.agg(F.count(F.lit(1)).alias("rows")).select(
            F.lit(k).alias("rung"), "rows"
        )
        for k, df in metrics.items()
    ]
    one = reduce(lambda a, b: a.unionByName(b), parts)
    return {r["rung"]: int(r["rows"]) for r in one.collect()}


# --- the curation ladder: one definition, two executors ------------------------
# _LADDER lists the rungs in order, each with a build function from the
# previous boundary to its own.  _walk runs the enabled rungs on _Pin
# (curate_corpus: one plan, boundaries persisted in memory) or _Commit
# (curate_corpus_staged: each boundary committed to parquet and read
# back), so "row-identical output" is structural.

def _surgery(docs, p, ex):
    """Optional text surgery BEFORE the profile: quality signals and
    dedup fingerprints must see the text that would actually train.
    HTML extraction runs first, so every later step sees prose, not
    markup; within-document duplicate lines are the finest grain."""
    from timesearch_spark.operators.dedup import (
        remove_repeated_lines_within,
        remove_repeated_paragraphs,
        remove_repeated_spans,
    )

    if p.html:
        from timesearch_spark.operators.textstats import html_to_text

        docs = docs.withColumn(p.text_col, html_to_text(p.text_col))
    if p.line_dedup:
        docs = remove_repeated_lines_within(
            docs, p.text_col, p.id_col
        ).drop("n_removed_lines")
    if p.paragraph_max_df is not None:
        docs = remove_repeated_paragraphs(
            docs, p.text_col, p.id_col, max_df=p.paragraph_max_df
        )
    if p.span_n is not None:
        spanned = remove_repeated_spans(
            docs, p.text_col, p.id_col, n=p.span_n, stride=p.span_stride
        )
        docs = spanned.drop("n_removed_tokens")
        # .drop() discards the span rung's persisted sub-plans; they ride
        # on the boundary for the executor to release
        docs._pinned = spanned._pinned
    return docs


def _quality_gate(docs, p, ex):
    """Documents passing the language / length / repetition gate, with
    their (lang_guess, n_ws) — one profile pass, filtered, joined back."""
    from timesearch_spark.operators.textstats import text_profile_table

    prof = text_profile_table(docs, text_col=p.text_col, id_col=p.id_col)
    keep = prof.filter(
        F.col("lang_guess").isin(*p.langs)
        & (F.col("n_ws") >= p.min_tokens)
        & (F.coalesce(F.col("dup_line_frac"), F.lit(0.0))
           <= p.max_dup_line_frac)
        & (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
           <= p.max_top_bigram_frac)
    ).select(p.id_col, "lang_guess", "n_ws")
    return docs.join(keep, p.id_col)


def _lm_gate(gated, p, ex):
    """CCNet-style perplexity gate.  The vocab is bounded broadcast
    state, so this is one explode + broadcast-join + hash-agg pass — no
    corpus-sized shuffle — and it runs BEFORE dedup for the same reason
    the quality gate does (dedup's shuffles only carry keepers)."""
    from timesearch_spark.operators.textstats import lm_score, unigram_lm

    vocab, oov = unigram_lm(p.lm_ref, p.text_col, vocab_size=p.lm_vocab_size)
    keep = (
        lm_score(gated, vocab, oov, p.text_col, p.id_col)
        .filter((F.col("n_tok") > 0) & (F.col("ppl") <= p.lm_ppl_max))
        .select(p.id_col)
    )
    return gated.join(keep, p.id_col, "left_semi")


def _clf_gate(gated, p, ex):
    """Trained-classifier gate: fit once from the bounded labeled
    sample, then one map-side scoring pass over the survivors (the
    weight table is broadcast state, like the LM vocab)."""
    from timesearch_spark.operators.textstats import (
        quality_clf_score, train_quality_classifier,
    )

    Wc, bc = train_quality_classifier(
        p.clf_pos, p.clf_neg, p.text_col, dim=p.clf_dim
    )
    keep = (
        quality_clf_score(gated, Wc, bc, p.text_col, p.id_col, dim=p.clf_dim)
        .filter(F.col("score") >= p.clf_min_score)
        .select(p.id_col)
    )
    return gated.join(keep, p.id_col, "left_semi")


def _exact(gated, p, ex):
    """Exact dedup: one keeper id (the lowest) per identical-text group."""
    from timesearch_spark.operators.dedup import exact_dedup_groups

    keepers = exact_dedup_groups(gated, p.text_col, p.id_col).select(
        F.col("keeper_id").alias(p.id_col)
    )
    return gated.join(keepers, p.id_col)


def _neardup(exact, p, ex):
    """Near-dup removal, transitively closed: minhash-LSH pairs →
    hash-min components over edge-touching nodes only (untouched docs
    are their own keepers) → all but each component's min id dropped.
    The pairs are consumed once, into the components' checkpoint (the
    executor's ``checkpoint_dir``), so they are not persisted."""
    from timesearch_spark.operators.dedup import (
        connected_components,
        minhash_near_dups,
    )

    pairs = minhash_near_dups(
        exact, p.text_col, p.id_col, threshold=p.neardup_threshold,
        hash_family="xxhash64", tok_col=ex.tok_col,
    ).select("a", "b")
    comp = connected_components(None, pairs, id_col=p.id_col,
                                checkpoint_dir=ex.checkpoint_dir)
    drop = comp.filter(F.col("component") != F.col(p.id_col)).select(p.id_col)
    out = exact.join(drop, p.id_col, "left_anti")
    return out.drop(ex.tok_col) if ex.tok_col else out


def _decontaminate(surviving, p, ex):
    """Benchmark decontamination after dedup: the broadcast probe runs
    over the smallest surviving set, and near-dups of a leaked doc are
    already gone."""
    hits = decontaminate(
        surviving, p.benchmark, p.text_col, p.id_col,
        n=p.decontam_n, min_frac=p.decontam_min_frac,
    ).select(p.id_col)
    return surviving.join(hits, p.id_col, "left_anti")


def _dsir(surviving, p, ex):
    """DSIR selection LAST, so the pool is never diluted by rows later
    rungs would drop.  dsir_resample collects its bucket models EAGERLY,
    so the pool is pinned first: the fit materializes the ladder once
    and the selection join reuses it."""
    surviving = ex.reuse(surviving)
    keep = dsir_resample(
        surviving, p.dsir_target, p.dsir_k, p.text_col, p.id_col,
        dim=p.dsir_dim,
    ).select(p.id_col)
    return surviving.join(F.broadcast(keep), p.id_col, "left_semi")


def _split(surviving, p, ex):
    """The output: survivors with their deterministic split."""
    return train_val_test_split(surviving, p.id_col, p.train, p.val).select(
        p.id_col, p.text_col, "lang_guess", "n_ws", "split"
    )


class _Rung(NamedTuple):
    """``manifest`` gives the keys a rung adds to curation.json; those of
    the optional lm/clf/dsir rungs and the line_dedup/html flags are
    present only when ON, so manifests written before those knobs
    existed stay resumable by runs that leave them off, while mixing on
    and off runs over one store is the loud params error.  ``pin`` is
    the one-shot persistence, see :meth:`_Pin.step`."""

    name: str
    build: Callable  # (previous boundary, knobs, executor) -> boundary
    pin: str
    enabled: Callable = lambda p: True  # knobs -> bool
    manifest: Callable = lambda p: {}  # knobs -> dict


_LADDER = (
    _Rung(
        "input", _surgery, "never",
        lambda p: (p.paragraph_max_df is not None or p.span_n is not None
                   or p.line_dedup or p.html),
        lambda p: {"paragraph_max_df": p.paragraph_max_df,
                   "span_n": p.span_n, "span_stride": p.span_stride,
                   **({"line_dedup": True} if p.line_dedup else {}),
                   **({"html": True} if p.html else {})},
    ),
    _Rung(
        "gated", _quality_gate, "always",
        manifest=lambda p: {
            "text_col": p.text_col, "id_col": p.id_col,
            "langs": list(p.langs), "min_tokens": p.min_tokens,
            "max_dup_line_frac": p.max_dup_line_frac,
            "max_top_bigram_frac": p.max_top_bigram_frac},
    ),
    _Rung(
        "lm_gated", _lm_gate, "always", lambda p: p.lm_ref is not None,
        lambda p: {"lm_ppl_max": p.lm_ppl_max,
                   "lm_vocab_size": p.lm_vocab_size,
                   "has_lm_ref": True} if p.lm_ref is not None else {},
    ),
    _Rung(
        "clf_gated", _clf_gate, "always", lambda p: p.clf_pos is not None,
        lambda p: {"clf_min_score": p.clf_min_score, "clf_dim": p.clf_dim,
                   "has_clf_ref": True} if p.clf_pos is not None else {},
    ),
    _Rung("exact", _exact, "tokens"),
    _Rung("neardup", _neardup, "audit",
          manifest=lambda p: {"neardup_threshold": p.neardup_threshold}),
    _Rung(
        "decontaminated", _decontaminate, "audit",
        lambda p: p.benchmark is not None,
        lambda p: {"has_benchmark": p.benchmark is not None,
                   "decontam_n": p.decontam_n,
                   "decontam_min_frac": p.decontam_min_frac},
    ),
    _Rung(
        "dsir", _dsir, "audit", lambda p: p.dsir_target is not None,
        lambda p: {"dsir_k": p.dsir_k, "dsir_dim": p.dsir_dim,
                   "has_dsir_target": True}
        if p.dsir_target is not None else {},
    ),
    _Rung("final", _split, "output",
          manifest=lambda p: {"train": p.train, "val": p.val}),
)

#: Rung order; under a staged store root each is a parquet dir, complete
#: once it holds Spark's _SUCCESS marker.
STAGED_RUNGS = tuple(r.name for r in _LADDER)

#: Knob groups that configure one optional rung together or not at all.
_TOGETHER = (("lm_ref", "lm_ppl_max"), ("clf_pos", "clf_neg", "clf_min_score"),
             ("dsir_target", "dsir_k"))

#: The DataFrame inputs whose file identity a staged manifest pins.
_INPUTS = ("docs", "benchmark", "lm_ref", "clf_pos", "clf_neg", "dsir_target")


def _params(kw: dict) -> SimpleNamespace:
    """An entry point's arguments as the ladder's knobs, validated once,
    before any plan is built: each _TOGETHER group comes complete or not
    at all, and ``stop_after`` names a rung this run has."""
    p = SimpleNamespace(**{"metrics": None, "stop_after": None, **kw})
    for group in _TOGETHER:
        given = [getattr(p, k) is not None for k in group]
        if any(given) and not all(given):
            raise ValueError(
                f"{', '.join(group[:-1])} and {group[-1]} come together — "
                "a partially-configured rung would silently gate nothing"
            )
    rungs = [r.name for r in _LADDER if r.enabled(p)]
    if p.stop_after is not None and p.stop_after not in rungs:
        raise ValueError(
            f"stop_after={p.stop_after!r} is not a rung of this run, which "
            f"has {rungs} — a rung whose knobs are unset does not exist"
        )
    return p


def _walk(ex) -> DataFrame:
    """Run the enabled rungs in order on ``ex``, through ``stop_after``."""
    cur = ex.p.docs
    for rung in _LADDER:
        if rung.enabled(ex.p):
            cur = ex.step(rung, cur)
            if rung.name == ex.p.stop_after:
                break
    return cur


class _Pin:
    """The one-shot executor: the whole ladder is ONE lazy plan.

    Each gate boundary is consumed by 2-3 downstream branches (gated →
    exact agg + join; exact → minhash twice + the left_anti).  Without
    persist() the whole upstream ladder — profile explode+agg, dedup
    joins, minhash banding — re-executes once PER BRANCH inside the one
    final action (measured 3× wall-clock at sf0.1).  persist is lazy and
    the pinned rungs are the pruned survivor sets, not the raw corpus.
    The exact boundary also caches its token arrays: the near-dup rung
    consumes tokens twice (banding + verify), so tokenizing once into
    the cache trades ~text-sized extra cache for zero re-splits.  The
    handles ride on the result as ``_pinned``."""

    tok_col = "__tok"

    def __init__(self, p):
        self.p = p
        self.checkpoint_dir = p.checkpoint_dir
        self.pins: list = []

    def reuse(self, df):
        """Pin the boundary an eager build is about to scan, if unpinned."""
        if not df.storageLevel.useMemory:
            df = df.persist()
            self.pins.append(df)
        return df

    def step(self, rung: _Rung, cur):
        """Build the rung and apply its ``pin``: "always" persists,
        "tokens" persists with the token column cached, "audit" persists
        only while a metrics dict is filled, "never" only records, and
        "output" (the returned plan) neither persists nor records."""
        df = rung.build(cur, self.p, self)
        # vars(): DataFrame.__getattr__ would look a missing name up in
        # the schema, one JVM round trip per rung
        self.pins.extend(vars(df).get("_pinned", []))
        if rung.pin == "output":
            return df
        metrics = self.p.metrics
        if rung.pin == "tokens":
            df = df.withColumn(self.tok_col, tokens(self.p.text_col))
        if rung.pin in ("always", "tokens") or (
                rung.pin == "audit" and metrics is not None):
            # audit pins keep rung_counts cache-local instead of
            # re-running the component/decontamination passes
            df = df.persist()
            self.pins.append(df)
        if metrics is not None:
            # the recorded exact boundary is token-free: a plain Project
            # over the cached plan, so its count stays cache-local
            metrics[rung.name] = (df.drop(self.tok_col)
                                  if rung.pin == "tokens" else df)
        return df

    def run(self) -> DataFrame:
        if self.p.metrics is not None:
            # the audit counts rows in even when no surgery rung runs
            self.p.metrics["input"] = self.p.docs
        out = _walk(self)
        out._pinned = self.pins
        return out


def _input_identity(df) -> str | None:
    """sha256 over a DataFrame's sorted ``inputFiles`` (paths, which for
    immutable parquet layouts identify the bytes); None for in-memory /
    non-file plans, which cannot be identified."""
    if df is None:
        return None
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files:
        return None
    return hashlib.sha256("\n".join(files).encode("utf-8")).hexdigest()


class _Commit:
    """The staged executor (contract: :func:`curate_corpus_staged`).  A
    committed rung is read back instead of rebuilt, so its eager model
    fits (vocab, classifier, DSIR buckets) never rerun on resume."""

    tok_col = None

    def __init__(self, p):
        self.p = p
        self.spark = p.docs.sparkSession
        self.fs = fsmod.get_fs(self.spark, p.store_dir)
        self.root = p.store_dir.rstrip("/")
        # a scheme:// store means cluster storage: the hash-min loop
        # checkpoints durably next to the rungs
        self.checkpoint_dir = fsmod.derive_checkpoint_dir(self.root)

    def reuse(self, df):
        return df  # already a committed parquet read

    def step(self, rung: _Rung, cur):
        fs, final = self.fs, f"{self.root}/{rung.name}"
        if not fs.exists(f"{final}/_SUCCESS"):
            df = rung.build(cur, self.p, self)
            tmp = f"{self.root}/_tmp_{rung.name}"
            fs.delete(tmp)
            df.write.mode("overwrite").parquet(tmp)
            fs.delete(final)  # a crashed write without _SUCCESS
            fs.rename(tmp, final)
            for h in vars(df).get("_pinned", []):
                h.unpersist()  # the committed parquet is the pin now
        out = self.spark.read.parquet(final)
        if self.p.metrics is not None:
            self.p.metrics[rung.name] = out
        return out

    def run(self) -> DataFrame:
        p, fs, root = self.p, self.fs, self.root
        fs.mkdirs(root)
        params: dict = {}
        for rung in _LADDER:
            params.update(rung.manifest(p))
        inputs = {k: _input_identity(getattr(p, k)) for k in _INPUTS}
        with fsmod.WriterLease.maybe(fs, root, p.lease_timeout_sec):
            manifest_path = f"{root}/curation.json"
            prev = fsmod.read_json(fs, manifest_path, default={})
            if not p.resume or not prev:
                for rung in STAGED_RUNGS:
                    fs.delete(f"{root}/{rung}")
                    fs.delete(f"{root}/_tmp_{rung}")
                fsmod.write_json_atomic(
                    fs, manifest_path, {"params": params, "inputs": inputs}
                )
            else:
                self._check_resume(manifest_path, prev, params, inputs)
            return _walk(self)

    def _check_resume(self, manifest_path, prev, params, inputs) -> None:
        """Different parameters or input files are a loud error: the
        committed rungs came from the old ones."""
        old, old_inputs = prev.get("params", {}), prev.get("inputs", {})
        # union of key sets: an lm-on manifest resumed by an lm-off run
        # differs only by keys ABSENT from the new params
        changed = sorted(k for k in set(params) | set(old)
                         if old.get(k) != params.get(k))
        drifted = sorted(
            k for k in inputs
            if None not in (inputs[k], old_inputs.get(k))
            and inputs[k] != old_inputs[k]
        )
        for what, keys in (("parameters", changed), ("input data", drifted)):
            if keys:
                raise ValueError(
                    f"curate_corpus_staged: resuming with different {what} "
                    f"than the manifest at {manifest_path} (changed: "
                    f"{keys}); pass resume=False to discard the stored "
                    "rungs and rerun"
                )
        unverifiable = sorted(
            k for k in inputs
            if getattr(self.p, k) is not None
            and None in (inputs[k], old_inputs.get(k))
        )
        if unverifiable:
            warnings.warn(
                "curate_corpus_staged: cannot verify input identity for "
                f"{unverifiable} (in-memory input or pre-r9 manifest) — "
                "the resume assumes the same inputs as the committed rungs",
                UserWarning,
                stacklevel=4,
            )


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 5,
    max_dup_line_frac: float = 0.5,
    max_top_bigram_frac: float = 0.5,
    neardup_threshold: float = 0.7,
    paragraph_max_df: int | None = None,
    span_n: int | None = None,
    span_stride: int | None = None,
    line_dedup: bool = False,
    html: bool = False,
    benchmark: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_min_frac: float | None = 0.1,
    train: float = 0.9,
    val: float = 0.05,
    metrics: dict | None = None,
    checkpoint_dir: str | None = None,
    lm_ref: DataFrame | None = None,
    lm_ppl_max: float | None = None,
    lm_vocab_size: int = 50_000,
    clf_pos: DataFrame | None = None,
    clf_neg: DataFrame | None = None,
    clf_min_score: float | None = None,
    clf_dim: int = 1 << 16,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_dim: int = 1 << 14,
) -> DataFrame:
    """The full curation ladder a pretraining pipeline runs, as ONE
    composed plan: optional HTML→text extraction (``html``, pure map) →
    optional within-document duplicate-line removal (``line_dedup``,
    pure map) → optional paragraph-boilerplate removal
    (``paragraph_max_df``) → optional repeated-span removal (``span_n``
    — the windowed exact-substring rung, one surviving winner per span)
    → quality signals → language/quality gate → optional unigram-LM
    perplexity gate (``lm_ref`` + ``lm_ppl_max``: CCNet-style, drop
    documents whose ppl under the reference-corpus model exceeds the
    bound) → optional trained-classifier gate (``clf_pos`` + ``clf_neg``
    + ``clf_min_score``: fastText-style hashed-linear filter) → exact
    dedup → minhash near-dup removal (transitively closed) → optional
    benchmark decontamination (``benchmark``, fraction-gated) → optional
    DSIR importance resampling (``dsir_target`` + ``dsir_k``: keep the k
    survivors most like the target distribution, :func:`dsir_resample`)
    → deterministic split.  Output: the surviving docs with
    (lang_guess, n_ws, split).

    Every rung reuses the scale-shaped operator it names — the profile's
    single explode+agg pass, fingerprint groupBy (8-byte digests, never
    text), LSH banding with candidate-only verification, hash-min
    components, md5 split — so the composition inherits each rung's
    100 TB story; Catalyst pipelines the gates into the scans.  Order
    matters for cost: the quality gate runs FIRST so dedup's shuffles
    only carry documents that could survive.

    Every gate boundary (and exact) is persisted: a caller running the
    ladder in a loop should ``dedup.release_pins(result)`` after
    consuming it, or the cache entries live for the session.

    ``metrics``: pass an empty dict and each rung-boundary DataFrame is
    recorded under its name (``input``, ``gated``, ``lm_gated`` /
    ``clf_gated`` when those rungs are on, ``exact``, ``neardup``,
    ``decontaminated``, ``dsir`` when selected) — the
    audit a production curation run logs.  After consuming the result (and before
    ``release_pins``), :func:`rung_counts` turns the dict into row
    counts with one cache-local job over the pinned boundaries.
    """
    return _Pin(_params(locals())).run()


def curate_corpus_staged(
    docs: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 5,
    max_dup_line_frac: float = 0.5,
    max_top_bigram_frac: float = 0.5,
    neardup_threshold: float = 0.7,
    paragraph_max_df: int | None = None,
    span_n: int | None = None,
    span_stride: int | None = None,
    line_dedup: bool = False,
    html: bool = False,
    benchmark: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_min_frac: float | None = 0.1,
    train: float = 0.9,
    val: float = 0.05,
    resume: bool = True,
    lease_timeout_sec: float | None = None,
    stop_after: str | None = None,
    lm_ref: DataFrame | None = None,
    lm_ppl_max: float | None = None,
    lm_vocab_size: int = 50_000,
    clf_pos: DataFrame | None = None,
    clf_neg: DataFrame | None = None,
    clf_min_score: float | None = None,
    clf_dim: int = 1 << 16,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_dim: int = 1 << 14,
) -> DataFrame:
    """:func:`curate_corpus` with each rung boundary CHECKPOINTED to
    ``store_dir``: a run killed at rung 4 restarts from rung 4, not rung
    0.  The same ladder runs, so the final table is row-identical to the
    one-shot one (test-pinned).

    Each enabled rung of :data:`STAGED_RUNGS` is written to
    ``<store_dir>/_tmp_<rung>``, renamed into place and read back; a
    rung with its ``_SUCCESS`` marker is read, never recomputed.
    ``input`` is committed only when surgery is configured (otherwise it
    would copy the source corpus); ``final`` is the split output.  A
    ``curation.json`` manifest pins the parameters and the input
    identity (a digest of each input's sorted parquet ``inputFiles``):
    resuming with different parameters or input files is a loud error;
    in-memory inputs cannot be identified and resume with a
    ``UserWarning``.  ``resume=False`` wipes the store and recomputes;
    ``lease_timeout_sec`` serializes concurrent runners via
    :class:`~timesearch_spark.fs.WriterLease`; ``stop_after`` (a rung
    this run has) ends the run once that rung commits — the ops hook
    for staged scheduling and the resume tests' crash point.

    Every boundary pays a parquet write+read instead of an in-memory
    pin: pure overhead at benchmark scale, and at 100 TB the difference
    between re-running a day of shuffles and reading yesterday's
    survivors back.  Nothing stays persisted; there is no release
    contract.
    """
    return _Commit(_params(locals())).run()


def _executor(docs, store_dir, metrics, resume=True, lease_timeout_sec=None,
              **knobs):
    """A validated ladder run, nothing built yet: committed under
    ``store_dir``, or pinned without one.  ``metrics`` collects either
    run's boundaries, so one :func:`rung_counts` reports both."""
    if store_dir is None:
        call = inspect.signature(curate_corpus).bind(docs, **knobs)
    else:
        call = inspect.signature(curate_corpus_staged).bind(
            docs, store_dir, resume=resume,
            lease_timeout_sec=lease_timeout_sec, **knobs)
    call.apply_defaults()
    p = _params({**call.arguments, "metrics": metrics})
    return _Pin(p) if store_dir is None else _Commit(p)


# --- corpus mixing: weighted resampling + token budgets ----------------------

def weighted_resample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    seed: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum resampling at arbitrary rates — the
    data-mixing step that turns raw source proportions into a training
    mix (temperature sampling, up/down-weighting).  ``rates[s] = 0.25``
    keeps ~25% of stratum s; ``rates[s] = 2.3`` emits every doc 2 times
    plus a third copy for ~30% of them.

    Membership and copy count are pure functions of (seed, id): stable
    under reruns, repartitioning, and appends — never `rand()`.  Output
    adds ``copy`` (0-based) so downstream shuffles can treat copies as
    distinct rows.  Plan: one generate (posexplode over a per-row copy
    count), no shuffle, no driver state beyond the broadcast rate map.
    """
    if not all(r >= 0 for r in rates.values()) or default_rate < 0:
        raise ValueError("rates must be >= 0")
    rate = F.lit(default_rate)
    for s, r in sorted(rates.items()):
        rate = F.when(_c(stratum_col) == s, F.lit(float(r))).otherwise(rate)
    # hash-fraction in [0, 1): first 13 hex chars (52 bits — exact in the
    # double mantissa) of md5(seed:id)
    frac = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), _c(id_col).cast("string"))), 1, 13),
        16, 10,
    ).cast("double") / float(16 ** 13)
    n_copies = (F.floor(rate) + F.when(frac < rate - F.floor(rate), 1).otherwise(0)).cast("int")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .select("*", F.posexplode(F.array_repeat(F.lit(0), F.col("__n"))).alias("copy", "__z"))
        .drop("__n", "__z")
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1 << 14,
    alpha: float = 1.0,
    seed: str = "dsir",
    hash_family: str = "xx64",
) -> DataFrame:
    """(id, n_feat, logw): per-document log importance weight
    ln p_target(x) − ln p_raw(x) under hashed n-gram bag models — the
    DSIR recipe (Data Selection via Importance Resampling, Xie et al.
    2023, public): fit two add-α multinomials over hashed unigram +
    word-bigram buckets, one from the TARGET distribution you want the
    training mix to look like, one from the RAW pool itself, then score
    every raw document by its log-likelihood ratio.  Positive logw =
    more target-like than pool-average.

    Models are BOUNDED state: bucket counts aggregate to at most
    ``dim`` rows per corpus (one explode + hash-agg each), are
    collected once, and the per-bucket log-ratio is computed
    DRIVER-side with libm log (the unigram_lm determinism recipe —
    1-ulp JVM/libm drift would leak into rounded sums) and broadcast
    back.  Scoring is the lm_score plan: explode the document's feature
    indices (textstats._qclf_feature_idx with the ``seed`` namespace) →
    broadcast-join the log-ratio table → per-doc decimal(28,9) sum of
    9-dp-rounded terms — map-side at any corpus size, exact and
    partial-sum-order-independent.  Buckets unseen in BOTH corpora get
    the constant smoothed ratio ln(α/(N_t+α·dim)) − ln(α/(N_r+α·dim)).

    Zero-token documents keep a row with n_feat=0 and logw=0 (an empty
    product under both models — no evidence either way).

    ``hash_family="md5"`` swaps the feature hash for the DuckDB-
    replayable md5 family (textstats._qclf_feature_idx — the
    dedup_minhash_lsh oracle-replay pattern); xx64 stays the
    production default."""
    import math

    import pandas as pd

    from timesearch_spark.operators.textstats import _qclf_feature_idx

    if dim < 2 or alpha <= 0:
        raise ValueError("dsir_weights: bad hyperparameters")
    spark = docs.sparkSession

    def bucket_counts(df: DataFrame) -> tuple[dict, int]:
        rows = (
            df.select(tokens(text_col).alias("__tok"))
            .select(F.explode(
                _qclf_feature_idx("__tok", dim, seed, hash_family))
                .alias("idx"))
            .groupBy("idx").agg(F.count(F.lit(1)).alias("c"))
            .collect()  # bounded by dim — broadcast-state build
        )
        counts = {int(r["idx"]): int(r["c"]) for r in rows}
        return counts, sum(counts.values())

    tc, tn = bucket_counts(target)
    rc, rn = bucket_counts(docs)
    t_denom = tn + alpha * dim
    r_denom = rn + alpha * dim
    seen = sorted(set(tc) | set(rc))
    llr_of = [
        math.log((tc.get(i, 0) + alpha) / t_denom)
        - math.log((rc.get(i, 0) + alpha) / r_denom)
        for i in seen
    ]
    default_llr = math.log(alpha / t_denom) - math.log(alpha / r_denom)
    llr = spark.createDataFrame(pd.DataFrame({
        "idx": pd.Series(seen, dtype="int32"),
        "llr": pd.Series(llr_of, dtype="float64"),
    }), "idx int, llr double")

    feats = docs.select(
        _c(id_col).alias(id_col),
        tokens(text_col).alias("__tok"),
    ).select(
        id_col,
        F.explode_outer(
            _qclf_feature_idx("__tok", dim, seed, hash_family)).alias("idx"),
    )
    counts = feats.groupBy(id_col, "idx").agg(F.count("idx").alias("__c"))
    contrib = counts.join(F.broadcast(llr), "idx", "left").select(
        id_col,
        "__c",
        F.round(
            F.col("__c").cast("double")
            * F.coalesce("llr", F.lit(float(default_llr))),
            9,
        ).cast("decimal(28,9)").alias("__w"),
    )
    agg = contrib.groupBy(id_col).agg(
        F.sum("__c").alias("n_feat"),
        F.sum(F.when(F.col("__c") > 0, F.col("__w"))).alias("__lw"),
    )
    return agg.select(
        id_col,
        F.col("n_feat").cast("long").alias("n_feat"),
        F.round(F.coalesce(F.col("__lw").cast("double"), F.lit(0.0)), 9)
        .alias("logw"),
    )


def dsir_resample(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1 << 14,
    alpha: float = 1.0,
    seed: str = "dsir",
    hash_family: str = "xx64",
) -> DataFrame:
    """Top-``k`` Gumbel importance resample of ``docs`` toward the
    ``target`` distribution (DSIR's selection step, Xie et al. 2023):
    draw key = logw + Gumbel noise per document and keep the k largest
    — equivalent to sampling k documents WITHOUT replacement with
    probability ∝ p_target/p_raw, but embarrassingly parallel (no
    sequential sampler state).

    The noise is DETERMINISTIC: u = (h + 0.5) / 2⁶⁰ with h the first 15
    hex digits of md5('{seed}:{id}') — uniform, reproducible across
    reruns/partitionings/engines (never ``rand()``, the
    deterministic_shuffle rule), g = −ln(−ln u).  Selection is one
    TakeOrdered of the narrow (id, key) relation — k bounded by
    contract, nothing corpus-sized leaves the executors.  Output:
    (id, n_feat, logw, key), key desc = selection order."""
    if k < 1:
        raise ValueError("dsir_resample: k must be >= 1")
    w = dsir_weights(docs, target, text_col, id_col, dim, alpha, seed,
                     hash_family)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"),
                               _c(id_col).cast("string"))), 1, 15),
            16, 10,
        ).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    g = -F.log(-F.log(u))
    key = F.round(F.col("logw") + g, 9)
    return (
        w.withColumn("key", key)
        .orderBy(F.desc("key"), F.asc(id_col))
        .limit(int(k))
    )


def budget_sample(
    df: DataFrame,
    token_budget: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "budget",
) -> DataFrame:
    """Select documents per stratum, in deterministic hash order, until
    each stratum's cumulative whitespace-token count reaches
    ``token_budget`` — the fill-the-mix-to-N-tokens selection a training
    run actually performs (doc counts are the wrong unit; budgets are
    tokens).

    The first document that CROSSES the budget is still included (budgets
    are lower bounds), everything after it is not.  One shuffle on the
    stratum; the running sum is an ordered window over (hash, id) so
    membership is a pure function of the data and the seed.  Output:
    (id, stratum, n_tokens, cum_tokens)."""
    key = F.md5(F.concat(F.lit(f"{seed}:"), _c(id_col).cast("string")))
    d = df.select(
        _c(id_col).alias(id_col),
        _c(stratum_col).alias(stratum_col),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
        key.alias("__k"),
    )
    w = Window.partitionBy(stratum_col).orderBy("__k", id_col)
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        d.withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") - F.col("n_tokens") < token_budget)
        .select(id_col, stratum_col, "n_tokens", "cum_tokens")
    )
