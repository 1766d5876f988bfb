"""Training-data pipeline operators: split / pack / decontaminate /
sample / redact / ngram stats (operators/pipeline.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from timesearch_spark.operators import pipeline as pl


@pytest.fixture()
def docs(spark):
    rows = [
        (i, "src_a" if i % 2 == 0 else "src_b", f"doc {i} " + "tok " * (i % 7 + 3))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_split_deterministic_and_stable_under_append(spark, docs):
    s1 = {r["doc_id"]: r["split"] for r in pl.train_val_test_split(docs).collect()}
    # rerun on a shuffled, repartitioned frame: identical assignment
    s2 = {
        r["doc_id"]: r["split"]
        for r in pl.train_val_test_split(
            docs.orderBy(F.rand(7)).repartition(5)
        ).collect()
    }
    assert s1 == s2
    # appending new docs never flips an old assignment
    more = spark.createDataFrame(
        [(1000 + i, "src_c", f"new {i}") for i in range(20)],
        "doc_id long, source string, text string",
    )
    s3 = {
        r["doc_id"]: r["split"]
        for r in pl.train_val_test_split(docs.unionByName(more)).collect()
    }
    assert {k: v for k, v in s3.items() if k in s1} == s1
    assert set(s1.values()) <= {"train", "val", "test"}


def test_split_fraction_validation(docs):
    with pytest.raises(ValueError):
        pl.train_val_test_split(docs, train=1.5)


def test_pack_sequences_matches_sequential_walk(spark, docs):
    budget = 10
    out = pl.pack_sequences(docs, budget=budget).collect()
    by_block: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["block"], r["doc_id"])):
        by_block.setdefault(r["block"], []).append(r)
    for rows in by_block.values():
        cum = 0
        for pos, r in enumerate(rows, 1):
            assert r["chunk_id"] == cum // budget
            assert r["chunk_pos"] == pos
            cum += r["n_tokens"]
    # chunk ids are dense enough: consecutive docs differ by ≤ a few chunks
    # and never decrease in walk order
    for rows in by_block.values():
        ids = [r["chunk_id"] for r in rows]
        assert ids == sorted(ids)


def test_decontaminate_finds_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx alpha beta gamma delta epsilon zeta eta theta yy"),  # hit
            (2, "totally different words with no overlap at all here"),  # clean
            (3, "alpha beta gamma delta epsilon zeta eta NOPE tail tail"),  # 7<8
        ],
        "doc_id long, text string",
    )
    flagged = {r["doc_id"] for r in pl.decontaminate(corpus, bench, n=8).collect()}
    assert flagged == {1}


def test_decontaminate_broadcast_guard_fallback(spark):
    """Past max_broadcast_grams the broadcast hint is dropped and the
    join degrades to a shuffle join — identical rows, no executor-memory
    blowup (and max_broadcast_grams=None skips the probe entirely)."""
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx alpha beta gamma delta epsilon zeta eta theta yy"),
            (2, "totally different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = lambda df: {(r["doc_id"], r["n_shared"], r["n_total"])
                       for r in df.collect()}
    base = rows(pl.decontaminate(corpus, bench, n=8))
    assert rows(pl.decontaminate(corpus, bench, n=8, max_broadcast_grams=1)) == base
    assert rows(pl.decontaminate(corpus, bench, n=8, max_broadcast_grams=None)) == base


def test_quota_sample_exact_and_deterministic(spark, docs):
    out = pl.quota_sample(docs, k=5).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], set()).add(r["doc_id"])
    assert all(len(v) == 5 for v in per.values())
    out2 = pl.quota_sample(docs.repartition(7), k=5).collect()
    per2 = {}
    for r in out2:
        per2.setdefault(r["source"], set()).add(r["doc_id"])
    assert per == per2
    # k larger than the stratum → whole stratum, no padding
    assert pl.quota_sample(docs, k=1000).count() == docs.count()


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call +1 555-123-4567 or (555) 123-4567"),
            (3, "host 10.0.0.1 responded"),
            (4, "clean text stays clean"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["red"] for r in df.select(
        "id", pl.redact_pii("text").alias("red")
    ).collect()}
    assert got[1] == "mail [EMAIL] now"
    assert got[2] == "call [PHONE] or [PHONE]"
    assert got[3] == "host [IP] responded"
    assert got[4] == "clean text stays clean"


def test_ngram_top(spark):
    df = spark.createDataFrame(
        [(i, "the quick brown fox " + f"u{i} v{i}") for i in range(10)]
        + [(100, "the quick brown cat")],
        "doc_id long, text string",
    )
    top = pl.ngram_top(df, n=3, k=2).collect()
    assert top[0]["gram"] == "the quick brown"
    assert top[0]["df"] == 11
    assert top[1]["gram"] == "quick brown fox"
    assert top[1]["df"] == 10


def test_deterministic_shuffle_is_a_permutation(spark):
    from timesearch_spark.operators.pipeline import deterministic_shuffle

    d = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    out = deterministic_shuffle(d, seed="s1", num_shards=8).collect()
    assert len(out) == 300
    assert len({r["doc_id"] for r in out}) == 300
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(8)) and len(by_shard) == 8
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense rank
    # deterministic across reruns
    again = deterministic_shuffle(d, seed="s1", num_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a different seed is a different permutation
    other = deterministic_shuffle(d, seed="s2", num_shards=8).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_deterministic_shuffle_two_nibble_shards(spark):
    from timesearch_spark.operators.pipeline import deterministic_shuffle

    d = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = deterministic_shuffle(d, seed="s", num_shards=64).collect()
    shards = {r["shard"] for r in out}
    assert shards == set(range(64))  # two-nibble path reaches every shard


def test_bm25_matches_hand_computation(spark):
    import math

    from timesearch_spark.operators import pipeline as pl

    docs = [
        (1, "spark merge batch merge"),       # merge tf=2, batch tf=1, dl=4
        (2, "window stream window window x"), # window tf=3, stream tf=1, dl=5
        (3, "nothing relevant here at all"),  # zero hits, dl=5
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in pl.bm25_scores(df, ["merge", "window"]).collect()
    }

    n, avgdl, k1, b = 3, 14 / 3, 1.2, 0.75

    def idf(dfreq):
        return math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))

    def term(tf, dl):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert got[1] == pytest.approx(idf(1) * term(2, 4))
    assert got[2] == pytest.approx(idf(1) * term(3, 5))
    assert got[3] == 0.0  # zero-hit docs kept at score 0

    # ranking sanity on the real table: relevant docs outrank irrelevant
    assert got[1] > got[3] and got[2] > got[3]


def test_chunk_documents_reconstruction_and_overlap(spark):
    from timesearch_spark.operators import pipeline as pl

    long_text = " ".join(f"t{i}" for i in range(150))
    docs = spark.createDataFrame(
        [(1, long_text), (2, "just a few tokens"), (3, "")],
        "doc_id long, text string",
    )
    out = pl.chunk_documents(docs, max_tokens=64, overlap=16)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
         for r in out.collect())
    )
    by_doc = {}
    for d, c, t, n in rows:
        by_doc.setdefault(d, []).append((c, t.split(" "), n))

    # doc 1: chunks start every stride=48 tokens, each 64 long (tail short)
    chunks = by_doc[1]
    assert [c for c, _, _ in chunks] == [0, 1, 2]
    assert chunks[0][1] == [f"t{i}" for i in range(64)]
    assert chunks[1][1] == [f"t{i}" for i in range(48, 112)]
    assert chunks[2][1] == [f"t{i}" for i in range(96, 150)]
    # consecutive chunks share exactly the overlap window
    assert chunks[0][1][-16:] == chunks[1][1][:16]
    # de-overlapped concatenation reconstructs the document
    recon = chunks[0][1] + chunks[1][1][16:] + chunks[2][1][16:]
    assert recon == [f"t{i}" for i in range(150)]

    # short doc: one whole chunk; empty doc: no chunks
    assert by_doc[2] == [(0, ["just", "a", "few", "tokens"], 4)]
    assert 3 not in by_doc

    # degenerate tail (150 -> positions 144..149 would be chunk 3 of
    # length 6 <= overlap with stride 48... ensure no such chunk exists)
    assert all(n > 16 or c == 0 for c, _, n in chunks)


def test_curate_corpus_ladder(spark):
    """Each curation rung drops exactly the planted offenders: non-target
    language, too-short, repetitive, exact dup (lowest id kept), near-dup
    (transitively closed), and survivors get a stable split."""
    from timesearch_spark.operators.pipeline import curate_corpus

    rows = [
        (1, "the cat sat on the mat and it is a fine day for cats to sit"),
        (2, "THE CAT SAT ON THE MAT AND IT IS A FINE DAY FOR CATS TO SIT"),
        (3, "the cat sat on the mat and it is a fine day for cats to nap"),
        (4, "le chat et la table de les chats en un salon du jour que oui"),
        (5, ""),
        (6, "spam spam\nspam spam\nspam spam\nspam spam"),
        (7, "a completely different english document with the many words"
            " of it and more then"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           curate_corpus(docs, min_tokens=5, neardup_threshold=0.5).collect()}
    assert sorted(out) == [1, 7]   # 2 exact-dup, 3 near-dup, 4 lang, 5 short, 6 repetitive
    assert out[1]["lang_guess"] == "en" and out[1]["split"] in ("train", "val", "test")
    # determinism: same input → same rows and same split assignment
    again = {r["doc_id"]: r["split"] for r in
             curate_corpus(docs, min_tokens=5, neardup_threshold=0.5).collect()}
    assert again == {k: v["split"] for k, v in out.items()}


def test_curate_corpus_lm_rung(spark):
    """The optional CCNet-style perplexity rung: a token-soup document
    that sails through the heuristic gate (English stopwords present,
    long enough, not repetitive) is dropped by the LM gate; survivors
    and their splits are identical to the no-LM ladder minus the
    dropped ids; the rung shows up in metrics; mismatched params
    raise."""
    import pytest

    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import curate_corpus

    clean = ("the cat sat on the mat and it is a fine day for cats to "
             "sit %s")
    rows = [(i, clean % i) for i in range(1, 5)] + [
        # heuristic-proof garbage: sprinkles stopwords among soup so
        # lang/stopword/length gates pass, but LM ppl explodes
        (9, "the xqj of zvv and kpl is wmt the rrq of bbn and qpw is ooz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame(
        [(100 + i, clean % "extra") for i in range(10)],
        "doc_id long, text string")

    base = {r["doc_id"]: r["split"] for r in
            curate_corpus(docs, min_tokens=5).collect()}
    assert 9 in base  # heuristics alone keep the soup

    m: dict = {}
    out = curate_corpus(docs, min_tokens=5, lm_ref=ref, lm_ppl_max=25.0,
                        metrics=m)
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert 9 not in got
    assert got == {k: v for k, v in base.items() if k != 9}
    assert "lm_gated" in m
    # r13 (ADVICE): the lm_gated boundary is persisted like every other
    # gate rung — rung_counts must be a cache-local scan, not a re-run
    # of the vocab build + scoring pass — and rebinding `gated` must not
    # leak the heuristic boundary's cache entry past release_pins.
    assert m["lm_gated"].storageLevel.useMemory
    assert m["gated"].storageLevel.useMemory
    release_pins(out)
    assert not m["lm_gated"].storageLevel.useMemory
    assert not m["gated"].storageLevel.useMemory

    with pytest.raises(ValueError, match="lm_ref and lm_ppl_max"):
        curate_corpus(docs, lm_ref=ref)
    with pytest.raises(ValueError, match="lm_ref and lm_ppl_max"):
        curate_corpus(docs, lm_ppl_max=100.0)


def test_curate_corpus_metrics_rung_counts(spark):
    """metrics={} records each rung boundary; rung_counts turns them
    into row counts in one cache-local job — values must equal what
    the rungs actually kept (checked against the known ladder
    fixture)."""
    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import curate_corpus, rung_counts

    rows = [
        (1, "the cat sat on the mat and it is a fine day for cats to sit"),
        (2, "THE CAT SAT ON THE MAT AND IT IS A FINE DAY FOR CATS TO SIT"),
        (3, "the cat sat on the mat and it is a fine day for cats to nap"),
        (4, "le chat et la table de les chats en un salon du jour que oui"),
        (5, ""),
        (6, "spam spam\nspam spam\nspam spam\nspam spam"),
        (7, "a completely different english document with the many words"
            " of it and more then"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    metrics: dict = {}
    out = curate_corpus(
        docs, min_tokens=5, neardup_threshold=0.5, metrics=metrics
    )
    survivors = sorted(r["doc_id"] for r in out.collect())
    release_pins(out)
    assert survivors == [1, 7]
    got = rung_counts(metrics)
    # 7 in; 4 pass the gate (4=lang, 5=short, 6=repetitive dropped);
    # exact dedup removes 2; near-dup removes 3
    assert got == {"input": 7, "gated": 4, "exact": 3, "neardup": 2}

def test_curate_corpus_paragraph_rung(spark):
    """With paragraph_max_df set, boilerplate is stripped BEFORE the
    quality gate and dedup fingerprints, so two docs that differ only by
    shared boilerplate become exact duplicates (one keeper survives)."""
    from timesearch_spark.operators.pipeline import curate_corpus

    boiler = "subscribe to the newsletter for all of the latest updates here"
    body = "the cat sat on the mat and it is a fine day for cats to sit"
    rows = [
        (1, f"{boiler}\n\n{body}"),
        (2, f"{body}\n\n{boiler}"),   # same body, boilerplate elsewhere
        (3, f"{boiler}\n\nthe dog ran far away over the green hill today and sat"),
        (4, "an unrelated english document with plenty of the usual words in it"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curate_corpus(
        docs, min_tokens=5, neardup_threshold=0.9, paragraph_max_df=2,
    ).collect()}
    assert sorted(out) == [1, 3, 4]   # 2 became an exact dup of 1 post-strip
    assert out[1]["text"] == body     # boilerplate gone from the output text


def test_decontaminate_min_frac_gate(spark):
    """Fractional gate: a long doc with one incidental shared gram passes;
    a mostly-leaked doc is flagged.  The comparison is integer-only."""
    bench_text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                  "lambda mu nu xi omicron pi")
    corpus = spark.createDataFrame(
        [
            # doc 1: the benchmark text plus one extra word -> high overlap
            (1, bench_text + " extra"),
            # doc 2: one benchmark 8-gram buried in a long unrelated doc
            (2, "alpha beta gamma delta epsilon zeta eta theta " +
                " ".join(f"w{i}" for i in range(60))),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    loose = {r["doc_id"]: r for r in
             pl.decontaminate(corpus, bench, n=8).collect()}
    assert set(loose) == {1, 2}
    assert loose[1]["n_shared"] <= loose[1]["n_total"]
    strict = {r["doc_id"] for r in
              pl.decontaminate(corpus, bench, n=8, min_frac=0.5).collect()}
    assert strict == {1}


def test_curate_corpus_decontamination_rung(spark):
    from timesearch_spark.operators.pipeline import curate_corpus

    bench_text = ("the quick brown fox jumps over the lazy dog near the "
                  "old red barn while the farmer watches at dawn")
    rows = [
        (1, bench_text),  # leaked benchmark doc
        (2, "a completely separate english document with the plenty of "
            "common words in it and more of them here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(9, bench_text)], "doc_id long, text string")
    out = {r["doc_id"] for r in curate_corpus(
        docs, min_tokens=5, benchmark=bench).collect()}
    assert out == {2}


def test_dsir_weights_match_pure_python_twin(spark):
    """r13 DSIR: the hashed-n-gram log-likelihood-ratio weights
    reproduce an independent pure-Python model EXACTLY at the 9-dp
    decimal contract (idx mapping fetched from the engine's own hash —
    xxhash64 has no pure-Python twin here; the model math, smoothing,
    rounding and aggregation semantics are what this pins)."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from timesearch_spark.operators.pipeline import dsir_weights

    dim = 1 << 10
    raw_rows = [
        (1, "the cat sat on the mat"),
        (2, "xqj zvv kpl wmt"),
        (3, "the dog sat on a log"),
        (4, ""),
        (5, "the the the cat cat"),
    ]
    target_rows = [(100 + i, "the cat sat on a mat and a dog %d" % i)
                   for i in range(6)]
    docs = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_feat"], r["logw"])
           for r in dsir_weights(docs, target, dim=dim).collect()}

    # engine-derived feature->idx maps (unigrams + adjacent pairs,
    # 'dsir' seed namespace)
    def feats_of(text):
        tl = text.lower().strip().split()
        tl = [t for t in tl if t]
        return tl, [(tl[i], tl[i + 1]) for i in range(len(tl) - 1)]

    all_rows = raw_rows + target_rows
    toks = sorted({t for _, tx in all_rows for t in feats_of(tx)[0]})
    pairs = sorted({p for _, tx in all_rows for p in feats_of(tx)[1]})
    idx_of = {r["t"]: r["idx"] for r in spark.createDataFrame(
        [(t,) for t in toks], "t string").select(
        "t", F.pmod(F.xxhash64(F.lit("dsir"), F.col("t")), F.lit(dim))
        .cast("int").alias("idx")).collect()}
    idx_of_pair = {(r["a"], r["b"]): r["idx"] for r in spark.createDataFrame(
        list(pairs), "a string, b string").select(
        "a", "b", F.pmod(F.xxhash64(F.lit("dsir"), F.col("a"), F.col("b")),
                         F.lit(dim)).cast("int").alias("idx")).collect()}

    def doc_feats(text):
        tl, ps = feats_of(text)
        return [idx_of[t] for t in tl] + [idx_of_pair[p] for p in ps]

    tc = Counter(i for _, tx in target_rows for i in doc_feats(tx))
    rc = Counter(i for _, tx in raw_rows for i in doc_feats(tx))
    t_denom = sum(tc.values()) + 1.0 * dim
    r_denom = sum(rc.values()) + 1.0 * dim

    def llr(i):
        return (math.log((tc.get(i, 0) + 1.0) / t_denom)
                - math.log((rc.get(i, 0) + 1.0) / r_denom))

    def r9(x):
        return Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)

    for did, tx in raw_rows:
        fs = doc_feats(tx)
        cnt = Counter(fs)
        s = sum(r9(c * llr(i)) for i, c in cnt.items())
        n, lw = got[did]
        assert n == len(fs), (did, n, len(fs))
        expect = float(r9(float(s))) if fs else 0.0
        assert abs(lw - expect) < 1e-9, (did, lw, expect)
    assert got[4] == (0, 0.0)  # empty doc: no evidence either way

    # target-like raw docs must outweigh soup
    assert got[1][1] > got[2][1]
    assert got[3][1] > got[2][1]


def test_dsir_resample_is_deterministic_and_selects_target_like(spark):
    """r13 DSIR selection: Gumbel top-k is a pure function of
    (data, seed) — two runs identical, a different seed is a different
    draw — and with a clean-vs-soup pool it keeps the target-like docs;
    k < 1 raises; the registry entry runs end-to-end."""
    import pytest

    from timesearch_spark.operators.pipeline import dsir_resample

    clean = ["the cat sat on the mat and it is a fine day %d" % i
             for i in range(10)]
    soup = ["xqj zvv kpl wmt rrq bbn qpw ooz %d" % i for i in range(10)]
    docs = spark.createDataFrame(
        list(enumerate(clean + soup)), "doc_id long, text string")
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(clean)],
        "doc_id long, text string")

    a = dsir_resample(docs, target, k=8, dim=1 << 11).collect()
    b = dsir_resample(docs, target, k=8, dim=1 << 11).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    picked = {r["doc_id"] for r in a}
    # clean docs are ids 0..9; at least 7 of the 8 picks must be clean
    assert len(picked & set(range(10))) >= 7, picked

    c = dsir_resample(docs, target, k=8, dim=1 << 11, seed="other")
    assert {r["doc_id"] for r in c.collect()} != set()  # runs; fresh draw

    with pytest.raises(ValueError, match="k must be"):
        dsir_resample(docs, target, k=0)
    with pytest.raises(ValueError, match="hyperparameters"):
        dsir_resample(docs, target, k=1, dim=1)

    import __spark_entry__ as m

    reg = m.queries()["pipeline_dsir"](spark, "/root/testdata/sf0.001")
    rows = reg.collect()
    assert len(rows) == 100
    assert set(reg.columns) == {"doc_id", "n_feat", "logw", "key"}
    keys = [r["key"] for r in rows]
    assert keys == sorted(keys, reverse=True)  # selection order


def test_curate_corpus_dsir_rung(spark, tmp_path):
    """r13 DSIR ladder rung: with (dsir_target, dsir_k) the one-shot
    ladder keeps exactly k survivors, biased to the target distribution;
    the boundary lands in metrics and its pin releases; the staged twin
    is row-identical, commits a 'dsir' rung parquet, never refits on
    resume (dsir_resample monkeypatched to raise), and mixing dsir-on /
    dsir-off over one store raises both ways; half-specified params
    raise everywhere."""
    import pytest

    from timesearch_spark.operators import pipeline as pl
    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import (
        curate_corpus, curate_corpus_staged,
    )

    clean = ("the cat sat on the mat and it is a fine day for cats to "
             "sit %s")
    soup = ("the xqj of zvv and kpl is wmt the rrq of bbn and qpw "
            "is ooz %s")
    # 6 clean + 6 heuristic-proof soup docs, all gate-surviving
    rows = [(i, clean % i) for i in range(6)] + \
           [(10 + i, soup % i) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100 + i, clean % "t") for i in range(8)],
        "doc_id long, text string")

    m: dict = {}
    # neardup_threshold ~1: the template fixtures are mutual near-dups
    # and this test exercises the DSIR rung, not near-dup removal
    out = curate_corpus(docs, min_tokens=5, neardup_threshold=0.99,
                        dsir_target=target, dsir_k=6, metrics=m)
    got = sorted(r["doc_id"] for r in out.collect())
    assert len(got) == 6
    # selection is target-biased: at least 5 of 6 picks are clean docs
    assert len([d for d in got if d < 10]) >= 5, got
    assert "dsir" in m and m["dsir"].storageLevel.useMemory
    release_pins(out)
    assert not m["dsir"].storageLevel.useMemory

    with pytest.raises(ValueError, match="dsir_target and dsir_k"):
        curate_corpus(docs, dsir_target=target)
    with pytest.raises(ValueError, match="dsir_target and dsir_k"):
        curate_corpus(docs, dsir_k=3)

    # staged twin: row-identical, rung committed
    store = str(tmp_path / "store")
    staged = curate_corpus_staged(docs, store, min_tokens=5,
                                  neardup_threshold=0.99,
                                  dsir_target=target, dsir_k=6)
    assert sorted(r["doc_id"] for r in staged.collect()) == got
    assert (tmp_path / "store" / "dsir" / "_SUCCESS").exists()

    # resume never refits: a raising dsir_resample is never reached
    orig = pl.dsir_resample

    def boom(*a, **kw):
        raise AssertionError("dsir model refit on resume")

    pl.dsir_resample = boom
    try:
        again = curate_corpus_staged(docs, store, min_tokens=5,
                                     neardup_threshold=0.99,
                                     dsir_target=target, dsir_k=6)
        assert sorted(r["doc_id"] for r in again.collect()) == got
    finally:
        pl.dsir_resample = orig

    # mixing on/off over one store is the loud params error both ways
    with pytest.raises(ValueError, match="different parameters"):
        curate_corpus_staged(docs, store, min_tokens=5,
                             neardup_threshold=0.99)
    store2 = str(tmp_path / "store2")
    curate_corpus_staged(docs, store2, min_tokens=5,
                         neardup_threshold=0.99)
    with pytest.raises(ValueError, match="different parameters"):
        curate_corpus_staged(docs, store2, min_tokens=5,
                             neardup_threshold=0.99,
                             dsir_target=target, dsir_k=6)
    with pytest.raises(ValueError, match="stop_after='dsir'"):
        curate_corpus_staged(docs, str(tmp_path / "s3"), min_tokens=5,
                             stop_after="dsir")


def test_weighted_resample_rates_and_copies(spark):
    from timesearch_spark.operators.pipeline import weighted_resample

    docs = spark.createDataFrame(
        [(i, "a" if i < 400 else "b", "text") for i in range(500)],
        "doc_id long, source string, text string",
    )
    out = weighted_resample(docs, {"a": 0.25, "b": 2.5}).collect()
    a = [r for r in out if r["source"] == "a"]
    b = [r for r in out if r["source"] == "b"]
    # a: ~25% of 400 kept, one copy each
    assert 60 <= len(a) <= 140 and all(r["copy"] == 0 for r in a)
    # b: every doc at least twice, ~50% a third time
    b_ids = {}
    for r in b:
        b_ids.setdefault(r["doc_id"], []).append(r["copy"])
    assert set(b_ids) == {i for i in range(400, 500)}
    assert all(sorted(v) in ([0, 1], [0, 1, 2]) for v in b_ids.values())
    assert 200 <= len(b) <= 300
    # determinism
    again = weighted_resample(docs, {"a": 0.25, "b": 2.5}).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_budget_sample_fills_to_token_budget(spark):
    from timesearch_spark.operators.pipeline import budget_sample

    docs = spark.createDataFrame(
        [(i, "s", "w " * 10) for i in range(100)],  # 10 tokens each
        "doc_id long, source string, text string",
    )
    out = budget_sample(docs, token_budget=55).collect()
    # 10-token docs: 6 docs = 60 >= 55, the crossing doc included
    assert len(out) == 6
    assert max(r["cum_tokens"] for r in out) == 60
    # stable under rerun
    again = budget_sample(docs, token_budget=55).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in out)


def test_curate_span_rung_composes(spark):
    """curate_corpus(span_n=...) runs the repeated-span rung before the
    profile: a doc whose only quality problem was a giant duplicated
    span can pass the gate once the span is stripped, and the surviving
    docs' text is the de-spanned text."""
    from timesearch_spark.operators.pipeline import curate_corpus

    filler = " ".join(f"w{i}" for i in range(6))
    spam = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"the and is of {filler} {spam}"),
            (2, f"the of and to {filler.upper()} unique tail {spam}"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in curate_corpus(
            docs, min_tokens=3, neardup_threshold=0.99, span_n=8, span_stride=1,
        ).collect()
    }
    assert set(out) == {1, 2}
    assert spam in out[1]          # winner keeps the span
    assert spam not in out[2]      # duplicate occurrence stripped


@pytest.mark.slow
def test_curate_span_rung_pins_propagate(spark):
    """The span rung's persisted sub-plans must survive the
    .drop("n_removed_tokens") and ride the result's _pinned list, so one
    release_pins(result) call unpersists the WHOLE ladder (the drop()
    previously orphaned the span pins in the CacheManager)."""
    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import curate_corpus

    spam = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, f"the and is of {spam}"), (2, f"the of and to tail {spam}")],
        "doc_id long, text string",
    )
    no_span = curate_corpus(docs, min_tokens=3, neardup_threshold=0.99)
    base_pins = len(getattr(no_span, "_pinned", []))
    no_span.collect()
    release_pins(no_span)
    spanned = curate_corpus(
        docs, min_tokens=3, neardup_threshold=0.99, span_n=8, span_stride=1,
    )
    pins = getattr(spanned, "_pinned", [])
    assert len(pins) > base_pins          # span rung's pins are carried
    spanned.collect()
    assert any(p.storageLevel.useMemory for p in pins)
    release_pins(spanned)
    assert all(not p.storageLevel.useMemory for p in pins)


@pytest.mark.slow
def test_cluster_balanced_sample(spark):
    """Per-cluster quotas hold exactly, assignment is centroid-nearest,
    and the sample is deterministic across runs (md5 order, no rand)."""
    from tests.conftest import SF_SMALL
    from timesearch_spark.operators.pipeline import cluster_balanced_sample
    from timesearch_spark.operators.similarity import assign_cells, centroid_seeds
    from timesearch_spark.tables import load

    emb = load(spark, SF_SMALL, "embeddings")
    out = cluster_balanced_sample(emb, per_cluster=7, n_clusters=4)
    rows = out.collect()
    # quotas: min(7, cluster size) per cell, computed from the full
    # assignment with the same codebook
    seeds = centroid_seeds(emb, 4)
    full = assign_cells(emb, seeds).groupBy("cell").count().collect()
    expected = sum(min(7, r["count"]) for r in full)
    assert len(rows) == expected
    per_cell = {}
    for r in rows:
        per_cell[r["cell"]] = per_cell.get(r["cell"], 0) + 1
    assert all(v <= 7 for v in per_cell.values())
    assert len(per_cell) == len(full)  # every non-empty cluster represented
    # deterministic
    again = {(r["vec_id"], r["cell"]) for r in
             cluster_balanced_sample(emb, per_cluster=7, n_clusters=4).collect()}
    assert again == {(r["vec_id"], r["cell"]) for r in rows}
    # a trained codebook slots in unchanged
    from timesearch_spark.operators.similarity import train_codebook

    trained = cluster_balanced_sample(
        emb, per_cluster=7, n_clusters=4,
        centroids=train_codebook(emb, 4),
    )
    assert trained.count() > 0


# --- rung-checkpointed (resumable) curation ------------------------------------

_LADDER_ROWS = [
    (1, "the cat sat on the mat and it is a fine day for cats to sit"),
    (2, "THE CAT SAT ON THE MAT AND IT IS A FINE DAY FOR CATS TO SIT"),
    (3, "the cat sat on the mat and it is a fine day for cats to nap"),
    (4, "le chat et la table de les chats en un salon du jour que oui"),
    (5, ""),
    (6, "spam spam\nspam spam\nspam spam\nspam spam"),
    (7, "a completely different english document with the many words"
        " of it and more then"),
]


# Golden pins for the ladder definition, written out by hand rather than
# derived from pipeline code: the rung order a staged store is laid out
# in, which rungs each knob set switches on, and the curation.json
# params a store records.
_GOLDEN_STAGED_RUNGS = ("input", "gated", "lm_gated", "clf_gated", "exact",
                        "neardup", "decontaminated", "dsir", "final")
_X = object()  # any non-None DataFrame knob
_GOLDEN_ENABLED = [
    ({}, ["gated", "exact", "neardup", "final"]),
    ({"paragraph_max_df": 2},
     ["input", "gated", "exact", "neardup", "final"]),
    ({"span_n": 8}, ["input", "gated", "exact", "neardup", "final"]),
    ({"line_dedup": True}, ["input", "gated", "exact", "neardup", "final"]),
    ({"html": True}, ["input", "gated", "exact", "neardup", "final"]),
    ({"lm_ref": _X, "lm_ppl_max": 25.0},
     ["gated", "lm_gated", "exact", "neardup", "final"]),
    ({"clf_pos": _X, "clf_neg": _X, "clf_min_score": 0.5},
     ["gated", "clf_gated", "exact", "neardup", "final"]),
    ({"benchmark": _X},
     ["gated", "exact", "neardup", "decontaminated", "final"]),
    ({"dsir_target": _X, "dsir_k": 3},
     ["gated", "exact", "neardup", "dsir", "final"]),
    ({"span_n": 8, "benchmark": _X, "lm_ref": _X, "lm_ppl_max": 25.0,
      "clf_pos": _X, "clf_neg": _X, "clf_min_score": 0.5,
      "dsir_target": _X, "dsir_k": 3}, list(_GOLDEN_STAGED_RUNGS)),
]
_GOLDEN_DEFAULT_PARAMS = {
    "text_col": "text", "id_col": "doc_id", "langs": ["en"],
    "min_tokens": 5, "max_dup_line_frac": 0.5, "max_top_bigram_frac": 0.5,
    "neardup_threshold": 0.7, "paragraph_max_df": None, "span_n": None,
    "span_stride": None, "has_benchmark": False, "decontam_n": 8,
    "decontam_min_frac": 0.1, "train": 0.9, "val": 0.05,
}
_GOLDEN_LM_CLF_DSIR_PARAMS = {
    **_GOLDEN_DEFAULT_PARAMS,
    "lm_ppl_max": 25.0, "lm_vocab_size": 50000, "has_lm_ref": True,
    "clf_min_score": 0.5, "clf_dim": 65536, "has_clf_ref": True,
    "dsir_k": 3, "dsir_dim": 16384, "has_dsir_target": True,
}


class _Reached(Exception):
    pass


class _UntouchedDocs:
    """Stands in for ``docs``: any use of it means validation passed."""

    def __getattr__(self, name):
        raise _Reached(name)


def test_curate_ladder_golden_rungs_and_stop_after():
    """STAGED_RUNGS is the golden order, and stop_after accepts exactly
    the rungs each knob set switches on — checked before any Spark work
    (a rejected stop_after never touches docs)."""
    assert pl.STAGED_RUNGS == _GOLDEN_STAGED_RUNGS
    for knobs, enabled in _GOLDEN_ENABLED:
        for rung in _GOLDEN_STAGED_RUNGS:
            if rung in enabled:
                with pytest.raises(_Reached):
                    pl.curate_corpus_staged(_UntouchedDocs(), "unused",
                                            stop_after=rung, **knobs)
            else:
                with pytest.raises(ValueError, match=f"stop_after='{rung}'"):
                    pl.curate_corpus_staged(_UntouchedDocs(), "unused",
                                            stop_after=rung, **knobs)
    with pytest.raises(ValueError, match="stop_after='bogus'"):
        pl.curate_corpus_staged(_UntouchedDocs(), "unused",
                                stop_after="bogus")


def test_curate_staged_resumes_golden_manifest(spark, tmp_path):
    """A store whose curation.json holds the golden params (what earlier
    releases wrote) resumes without a params error, for a default run
    and for an lm+clf+dsir run; a fresh store records the same dict."""
    import json

    docs = spark.createDataFrame(_LADDER_ROWS, "doc_id long, text string")
    side = spark.createDataFrame(_LADDER_ROWS[:1], "doc_id long, text string")
    lm_clf_dsir = dict(lm_ref=side, lm_ppl_max=25.0, clf_pos=side,
                       clf_neg=side, clf_min_score=0.5, dsir_target=side,
                       dsir_k=3)
    for name, knobs, golden in (
        ("default", {}, _GOLDEN_DEFAULT_PARAMS),
        ("lm_clf_dsir", lm_clf_dsir, _GOLDEN_LM_CLF_DSIR_PARAMS),
    ):
        store = tmp_path / name
        store.mkdir()
        (store / "curation.json").write_text(
            json.dumps({"params": golden, "inputs": {}}))
        with pytest.warns(UserWarning, match="input identity"):
            gated = pl.curate_corpus_staged(docs, str(store),
                                            stop_after="gated", **knobs)
        assert sorted(r["doc_id"] for r in gated.collect()) == [1, 2, 3, 7]
        fresh = tmp_path / f"{name}_fresh"
        pl.curate_corpus_staged(docs, str(fresh), stop_after="gated",
                                **knobs)
        written = json.loads((fresh / "curation.json").read_text())
        assert written["params"] == golden


@pytest.mark.slow
def test_curate_staged_scheme_store_uses_durable_checkpoint(spark, tmp_path):
    """r9 verdict item 4: a scheme:// stage store means cluster storage,
    so the neardup rung's hash-min loop must checkpoint DURABLY into a
    store-adjacent _checkpoints/ (localCheckpoint's executor-local
    blocks die with their executor mid-loop) — with output row-identical
    to the plain-local staged run."""
    from timesearch_spark.operators.pipeline import curate_corpus_staged

    docs = spark.createDataFrame(_LADDER_ROWS, "doc_id long, text string")
    plain = sorted(
        (r["doc_id"], r["lang_guess"], r["n_ws"], r["split"])
        for r in curate_corpus_staged(
            docs, str(tmp_path / "local_store"), min_tokens=5,
            neardup_threshold=0.5,
        ).collect()
    )
    schemed_root = f"file://{tmp_path}/schemed_store"
    schemed = sorted(
        (r["doc_id"], r["lang_guess"], r["n_ws"], r["split"])
        for r in curate_corpus_staged(
            docs, schemed_root, min_tokens=5, neardup_threshold=0.5,
        ).collect()
    )
    assert schemed == plain
    # the loop's reliable checkpoint landed next to the rungs: the
    # context points at the derived dir and Spark materialized rdd
    # checkpoint files under it
    # (Spark nests a UUID subdir under the configured root)
    assert "schemed_store/_checkpoints" in spark.sparkContext.getCheckpointDir()
    ck_local = tmp_path / "schemed_store" / "_checkpoints"
    assert ck_local.is_dir() and any(ck_local.rglob("part-*"))


def test_curate_staged_parity_and_resume(spark, tmp_path, monkeypatch):
    """The staged ladder returns row-identical output to the one-shot
    ladder; a second call resumes from the committed final rung without
    recomputing anything; resuming with different parameters is loud."""
    from timesearch_spark.operators import textstats
    from timesearch_spark.operators.pipeline import (
        curate_corpus, curate_corpus_staged,
    )

    docs = spark.createDataFrame(_LADDER_ROWS, "doc_id long, text string")
    expected = sorted(
        (r["doc_id"], r["lang_guess"], r["n_ws"], r["split"])
        for r in curate_corpus(
            docs, min_tokens=5, neardup_threshold=0.5
        ).collect()
    )
    store = str(tmp_path / "store")
    got = sorted(
        (r["doc_id"], r["lang_guess"], r["n_ws"], r["split"])
        for r in curate_corpus_staged(
            docs, store, min_tokens=5, neardup_threshold=0.5
        ).collect()
    )
    assert got == expected

    # resume: every rung is committed, so NO rung recomputes — the
    # profile pass would be the first thing a recompute touches
    def boom(*a, **k):
        raise AssertionError("profile recomputed on a fully-committed store")

    monkeypatch.setattr(textstats, "text_profile_table", boom)
    again = sorted(
        (r["doc_id"], r["lang_guess"], r["n_ws"], r["split"])
        for r in curate_corpus_staged(
            docs, store, min_tokens=5, neardup_threshold=0.5
        ).collect()
    )
    assert again == expected

    # parameter drift is an error naming the changed knob, not a mix
    with pytest.raises(ValueError, match="min_tokens"):
        curate_corpus_staged(docs, store, min_tokens=6, neardup_threshold=0.5)


@pytest.mark.slow
def test_curate_staged_input_identity_pinned(spark, tmp_path):
    """ADVICE r8: the manifest pins the INPUT identity, not just the
    parameters — resuming the same store against different parquet
    inputs is a loud error (old rungs came from the old files), while
    in-memory inputs degrade to a warning, never a silent mix."""
    import warnings as _warnings

    from timesearch_spark.operators.pipeline import curate_corpus_staged

    src_a = str(tmp_path / "docs_a.parquet")
    src_b = str(tmp_path / "docs_b.parquet")
    docs = spark.createDataFrame(_LADDER_ROWS, "doc_id long, text string")
    docs.write.parquet(src_a)
    docs.write.parquet(src_b)  # same rows, different files = different data
    store = str(tmp_path / "store_ident")

    a = spark.read.parquet(src_a)
    first = curate_corpus_staged(a, store, min_tokens=5,
                                 neardup_threshold=0.5).count()
    # same files: clean resume, no warning
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        again = curate_corpus_staged(
            spark.read.parquet(src_a), store, min_tokens=5,
            neardup_threshold=0.5,
        ).count()
    assert again == first
    # different files: loud
    with pytest.raises(ValueError, match="input data"):
        curate_corpus_staged(spark.read.parquet(src_b), store,
                             min_tokens=5, neardup_threshold=0.5)
    # in-memory docs: unverifiable -> warning, not an error
    with pytest.warns(UserWarning, match="input identity"):
        curate_corpus_staged(docs, store, min_tokens=5,
                             neardup_threshold=0.5).count()

    # ADVICE r9: dropping the benchmark on resume (built WITH one, now
    # benchmark=None) must be loud — the committed rungs are
    # decontaminated against a benchmark the caller no longer asks for.
    # Pinned here: has_benchmark rides in the params manifest, so the
    # None<->non-None transition is parameter drift in BOTH directions.
    store2 = str(tmp_path / "store_bench")
    curate_corpus_staged(spark.read.parquet(src_a), store2, min_tokens=5,
                         neardup_threshold=0.5,
                         benchmark=spark.read.parquet(src_b)).count()
    with pytest.raises(ValueError, match="has_benchmark"):
        curate_corpus_staged(spark.read.parquet(src_a), store2,
                             min_tokens=5, neardup_threshold=0.5,
                             benchmark=None)
    with pytest.raises(ValueError, match="has_benchmark"):
        curate_corpus_staged(spark.read.parquet(src_a), store,
                             min_tokens=5, neardup_threshold=0.5,
                             benchmark=spark.read.parquet(src_b))


@pytest.mark.slow
def test_curate_staged_crash_resume(spark, tmp_path, monkeypatch):
    """A run killed after the exact rung (stop_after crash injection)
    resumes: completed rungs are read back (the gate is never
    recomputed), the remaining rungs run, and the final table matches
    the one-shot ladder."""
    from timesearch_spark.operators import textstats
    from timesearch_spark.operators.pipeline import (
        curate_corpus, curate_corpus_staged,
    )

    docs = spark.createDataFrame(_LADDER_ROWS, "doc_id long, text string")
    store = str(tmp_path / "store")
    partial = curate_corpus_staged(
        docs, store, min_tokens=5, neardup_threshold=0.5, stop_after="exact"
    )
    assert sorted(r["doc_id"] for r in partial.collect()) == [1, 3, 7]
    assert not (tmp_path / "store" / "final").exists()

    expected = sorted(
        (r["doc_id"], r["split"])
        for r in curate_corpus(
            docs, min_tokens=5, neardup_threshold=0.5
        ).collect()
    )

    def boom(*a, **k):
        raise AssertionError("gated rung recomputed on resume")

    monkeypatch.setattr(textstats, "text_profile_table", boom)
    got = sorted(
        (r["doc_id"], r["split"])
        for r in curate_corpus_staged(
            docs, store, min_tokens=5, neardup_threshold=0.5
        ).collect()
    )
    assert got == expected


@pytest.mark.slow
def test_curate_staged_input_rung_only_when_surgery(spark, tmp_path):
    """The input rung is committed only when surgery (paragraphs,
    spans, duplicate lines or html) is configured — otherwise it would
    be a byte-identical copy of the source corpus (a pointless full
    write at scale)."""
    import os

    from timesearch_spark.operators.pipeline import curate_corpus_staged

    docs = spark.createDataFrame(_LADDER_ROWS, "doc_id long, text string")
    plain = str(tmp_path / "plain")
    curate_corpus_staged(docs, plain, min_tokens=5,
                         neardup_threshold=0.5).collect()
    assert not os.path.exists(os.path.join(plain, "input"))

    surg = str(tmp_path / "surg")
    curate_corpus_staged(docs, surg, min_tokens=5, neardup_threshold=0.5,
                         paragraph_max_df=2).collect()
    assert os.path.exists(os.path.join(surg, "input", "_SUCCESS"))

    # line_dedup alone is surgery too: stop_after="input" accepts it and
    # returns the committed rung
    lines = str(tmp_path / "lines")
    rung = curate_corpus_staged(docs, lines, min_tokens=5, line_dedup=True,
                                stop_after="input")
    assert sorted(r["doc_id"] for r in rung.collect()) == list(range(1, 8))
    assert os.path.exists(os.path.join(lines, "input", "_SUCCESS"))
    assert not os.path.exists(os.path.join(lines, "gated"))


def test_curate_staged_benchmark_identity_pinned(spark, tmp_path):
    """The input-identity pin covers the BENCHMARK side too: same docs,
    different benchmark parquet on resume is the same loud error."""
    from timesearch_spark.operators.pipeline import curate_corpus_staged

    docs = spark.createDataFrame(_LADDER_ROWS, "doc_id long, text string")
    dp = str(tmp_path / "docs.parquet")
    b1 = str(tmp_path / "bench1.parquet")
    b2 = str(tmp_path / "bench2.parquet")
    docs.write.parquet(dp)
    docs.limit(2).write.parquet(b1)
    docs.limit(2).write.parquet(b2)
    store = str(tmp_path / "store_bench_ident")

    d = spark.read.parquet(dp)
    curate_corpus_staged(
        d, store, min_tokens=5, neardup_threshold=0.5,
        benchmark=spark.read.parquet(b1),
    ).count()
    with pytest.raises(ValueError, match="input data"):
        curate_corpus_staged(
            d, store, min_tokens=5, neardup_threshold=0.5,
            benchmark=spark.read.parquet(b2),
        )


@pytest.mark.slow
def test_curate_staged_lm_rung(spark, tmp_path, monkeypatch):
    """r12: the CCNet-style perplexity rung is CHECKPOINTABLE — staged
    output with lm_ref/lm_ppl_max is row-identical to the one-shot
    ladder, the lm_gated rung is committed (resume never re-fits the
    reference LM), and mixing lm-on / lm-off runs over one store is the
    loud params error in both directions."""
    from timesearch_spark.operators import textstats
    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import (
        curate_corpus, curate_corpus_staged,
    )

    clean = ("the cat sat on the mat and it is a fine day for cats to "
             "sit %s")
    rows = [(i, clean % i) for i in range(1, 5)] + [
        (9, "the xqj of zvv and kpl is wmt the rrq of bbn and qpw is ooz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame(
        [(100 + i, clean % "extra") for i in range(10)],
        "doc_id long, text string")

    one_shot = curate_corpus(docs, min_tokens=5, lm_ref=ref,
                             lm_ppl_max=25.0)
    expected = sorted(
        (r["doc_id"], r["split"]) for r in one_shot.collect()
    )
    release_pins(one_shot)
    assert all(i != 9 for i, _ in expected)  # the LM gate really fired

    store = str(tmp_path / "store_lm")
    got = sorted(
        (r["doc_id"], r["split"])
        for r in curate_corpus_staged(
            docs, store, min_tokens=5, lm_ref=ref, lm_ppl_max=25.0,
        ).collect()
    )
    assert got == expected
    assert (tmp_path / "store_lm" / "lm_gated" / "_SUCCESS").exists()
    lm_ids = {r["doc_id"]
              for r in spark.read.parquet(f"{store}/lm_gated").collect()}
    assert 9 not in lm_ids and lm_ids  # rung content is the gated keepers

    # resume never re-fits the reference model
    def boom(*a, **k):
        raise AssertionError("unigram_lm re-fit on a committed lm rung")

    monkeypatch.setattr(textstats, "unigram_lm", boom)
    again = sorted(
        (r["doc_id"], r["split"])
        for r in curate_corpus_staged(
            docs, store, min_tokens=5, lm_ref=ref, lm_ppl_max=25.0,
        ).collect()
    )
    assert again == expected
    monkeypatch.undo()

    # lm-on store resumed lm-off (and vice versa) is a loud params error
    with pytest.raises(ValueError, match="has_lm_ref"):
        curate_corpus_staged(docs, store, min_tokens=5)
    store_off = str(tmp_path / "store_lm_off")
    curate_corpus_staged(docs, store_off, min_tokens=5).count()
    with pytest.raises(ValueError, match="has_lm_ref"):
        curate_corpus_staged(docs, store_off, min_tokens=5, lm_ref=ref,
                             lm_ppl_max=25.0)

    # half-configured knobs and a nonexistent stop rung stay loud
    with pytest.raises(ValueError, match="lm_ref and lm_ppl_max"):
        curate_corpus_staged(docs, str(tmp_path / "x1"), lm_ref=ref)
    with pytest.raises(ValueError, match="stop_after='lm_gated'"):
        curate_corpus_staged(docs, str(tmp_path / "x2"),
                             stop_after="lm_gated")


def test_curate_corpus_clf_rung(spark):
    """r12: the trained-classifier gate — heuristic-proof soup (passes
    lang/length/repetition) is dropped by the classifier rung; survivors
    and splits are identical to the no-clf ladder minus the drops; the
    rung appears in metrics; partial params raise."""
    import pytest

    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import curate_corpus

    clean = ("the cat sat on the mat and it is a fine day for cats to "
             "sit %s")
    soup_t = "the %s of %s and %s is %s the %s of %s and %s is %s"
    rows = [(i, clean % i) for i in range(1, 5)] + [
        (9, soup_t % ("xqj", "zvv", "kpl", "wmt", "rrq", "bbn", "qpw", "ooz")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pos = spark.createDataFrame(
        [(clean % f"p{i}",) for i in range(10)], "text string")
    neg = spark.createDataFrame(
        [(soup_t % tuple(f"w{i}{j}" for j in range(8)),) for i in range(10)],
        "text string")

    base = {r["doc_id"]: r["split"] for r in
            curate_corpus(docs, min_tokens=5).collect()}
    assert 9 in base  # heuristics alone keep the soup

    m: dict = {}
    out = curate_corpus(docs, min_tokens=5, clf_pos=pos, clf_neg=neg,
                        clf_min_score=0.5, clf_dim=1 << 12, metrics=m)
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert 9 not in got
    assert got == {k: v for k, v in base.items() if k != 9}
    assert "clf_gated" in m
    # r13 (ADVICE): persisted like every gate rung, released with the rest
    assert m["clf_gated"].storageLevel.useMemory
    release_pins(out)
    assert not m["clf_gated"].storageLevel.useMemory

    with pytest.raises(ValueError, match="clf_pos, clf_neg and"):
        curate_corpus(docs, clf_pos=pos, clf_neg=neg)
    with pytest.raises(ValueError, match="clf_pos, clf_neg and"):
        curate_corpus(docs, clf_min_score=0.5)


@pytest.mark.slow
def test_curate_staged_clf_rung(spark, tmp_path, monkeypatch):
    """r12: the classifier rung is CHECKPOINTABLE — staged output
    row-identical to one-shot, the clf_gated rung committed (resume
    never refits the model), and mixing clf-on / clf-off runs over one
    store is the loud params error both ways."""
    from timesearch_spark.operators import textstats
    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import (
        curate_corpus, curate_corpus_staged,
    )

    clean = ("the cat sat on the mat and it is a fine day for cats to "
             "sit %s")
    soup_t = "the %s of %s and %s is %s the %s of %s and %s is %s"
    rows = [(i, clean % i) for i in range(1, 5)] + [
        (9, soup_t % ("xqj", "zvv", "kpl", "wmt", "rrq", "bbn", "qpw", "ooz")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pos = spark.createDataFrame(
        [(clean % f"p{i}",) for i in range(10)], "text string")
    neg = spark.createDataFrame(
        [(soup_t % tuple(f"w{i}{j}" for j in range(8)),) for i in range(10)],
        "text string")
    kw = dict(min_tokens=5, clf_pos=pos, clf_neg=neg, clf_min_score=0.5,
              clf_dim=1 << 12)

    one_shot = curate_corpus(docs, **kw)
    expected = sorted((r["doc_id"], r["split"]) for r in one_shot.collect())
    release_pins(one_shot)
    assert all(i != 9 for i, _ in expected)

    store = str(tmp_path / "store_clf")
    got = sorted(
        (r["doc_id"], r["split"])
        for r in curate_corpus_staged(docs, store, **kw).collect()
    )
    assert got == expected
    assert (tmp_path / "store_clf" / "clf_gated" / "_SUCCESS").exists()

    def boom(*a, **k):
        raise AssertionError("classifier refit on a committed clf rung")

    monkeypatch.setattr(textstats, "train_quality_classifier", boom)
    again = sorted(
        (r["doc_id"], r["split"])
        for r in curate_corpus_staged(docs, store, **kw).collect()
    )
    assert again == expected
    monkeypatch.undo()

    import pytest

    with pytest.raises(ValueError, match="has_clf_ref"):
        curate_corpus_staged(docs, store, min_tokens=5)
    store_off = str(tmp_path / "store_clf_off")
    curate_corpus_staged(docs, store_off, min_tokens=5).count()
    with pytest.raises(ValueError, match="has_clf_ref"):
        curate_corpus_staged(docs, store_off, **kw)
    with pytest.raises(ValueError, match="stop_after='clf_gated'"):
        curate_corpus_staged(docs, str(tmp_path / "x3"),
                             stop_after="clf_gated")


@pytest.mark.slow
def test_curate_staged_lm_and_clf_rungs_compose(spark, tmp_path):
    """r12: BOTH optional quality rungs on in one staged run — the full
    8-rung ladder commits lm_gated then clf_gated in order, output is
    row-identical to the one-shot composition, and each rung's drop is
    visible in the committed boundaries (the soup each gate exists to
    catch dies at its own rung)."""
    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import (
        STAGED_RUNGS, curate_corpus, curate_corpus_staged,
    )

    clean = ("the cat sat on the mat and it is a fine day for cats to "
             "sit %s")
    # ppl-soup: OOV tokens sprinkled with stopwords — unigram ppl
    # explodes, the LM rung kills it.  tf-soup: IN-VOCAB words at a
    # the-heavy frequency profile the unigram LM actively PREFERS
    # ("the" is its most probable token) and the heuristic gate passes
    # (top bigram 2/11, all stopword/lang checks fine) — only a trained
    # classifier separates that tf distribution from clean prose, which
    # is exactly why the rung exists.
    ppl_soup = "the xqj of zvv and kpl is wmt the rrq of bbn and qpw"

    def tf_soup(a, b, c):
        return f"the {a} the {b} the {c} the {a} the {b} the {c}"

    rows = [(i, clean % i) for i in range(1, 5)] + [
        (8, ppl_soup), (9, tf_soup("cat", "mat", "day")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lm_ref = spark.createDataFrame(
        [(100 + i, clean % "extra") for i in range(10)],
        "doc_id long, text string")
    pos = spark.createDataFrame(
        [(clean % f"p{i}",) for i in range(10)], "text string")
    fill = ["cat", "mat", "day", "sat", "fine", "cats", "sit", "on"]
    neg = spark.createDataFrame(
        [(tf_soup(fill[i % 8], fill[(i + 1) % 8], fill[(i + 2) % 8]),)
         for i in range(10)],
        "text string")
    kw = dict(min_tokens=5, lm_ref=lm_ref, lm_ppl_max=25.0,
              clf_pos=pos, clf_neg=neg, clf_min_score=0.5,
              clf_dim=1 << 12)

    one_shot = curate_corpus(docs, **kw)
    expected = sorted((r["doc_id"], r["split"]) for r in one_shot.collect())
    release_pins(one_shot)
    ids = {i for i, _ in expected}
    assert 8 not in ids and 9 not in ids and ids  # both gates fired

    store = str(tmp_path / "store_both")
    got = sorted(
        (r["doc_id"], r["split"])
        for r in curate_corpus_staged(docs, store, **kw).collect()
    )
    assert got == expected
    committed = [r for r in STAGED_RUNGS
                 if (tmp_path / "store_both" / r / "_SUCCESS").exists()]
    assert committed == ["gated", "lm_gated", "clf_gated", "exact",
                         "neardup", "final"]
    lm_ids = {r["doc_id"]
              for r in spark.read.parquet(f"{store}/lm_gated").collect()}
    clf_ids = {r["doc_id"]
               for r in spark.read.parquet(f"{store}/clf_gated").collect()}
    assert 8 not in lm_ids and 9 in lm_ids      # ppl-soup dies at the LM rung
    assert 9 not in clf_ids                      # clf-soup dies at its rung


def test_curate_line_dedup_rung(spark, tmp_path):
    """r12: the within-document duplicate-line rewrite composes as the
    finest-grain surgery knob — the profile sees the CLEANED text
    (dup_line_frac no longer flags the doc, so a doc the gate would
    have dropped for repetition now survives rewritten), the staged
    ladder commits the cleaned text as its input rung, and a cleaned
    resume is parameter-pinned against a default run."""
    import pytest

    from timesearch_spark.operators.dedup import release_pins
    from timesearch_spark.operators.pipeline import (
        curate_corpus, curate_corpus_staged,
    )

    clean = ("the cat sat on the mat and it is a fine day for cats to "
             "sit %s")
    line = "the cat sat on the mat and it is a fine day"
    spammy = "\n".join([line] * 8)  # dup_line_frac 7/8 — gate would drop
    rows = [(i, clean % i) for i in range(1, 4)] + [(9, spammy)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    base = curate_corpus(docs, min_tokens=5)
    assert 9 not in {r["doc_id"] for r in base.collect()}
    release_pins(base)

    out = curate_corpus(docs, min_tokens=5, line_dedup=True)
    got = {r["doc_id"] for r in out.collect()}
    assert 9 in got  # rewritten to one line, passes the gate
    release_pins(out)

    store = str(tmp_path / "store_lines")
    staged = curate_corpus_staged(docs, store, min_tokens=5,
                                  line_dedup=True)
    assert 9 in {r["doc_id"] for r in staged.collect()}
    inp = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(f"{store}/input").collect()}
    assert inp[9] == line  # the committed input rung carries the rewrite

    with pytest.raises(ValueError, match="line_dedup"):
        curate_corpus_staged(docs, store, min_tokens=5)


def test_curate_corpus_html_rung(spark, tmp_path):
    """r14 HTML rung: with html=True the ladder extracts markup FIRST,
    so the whole run over wrapped pages is row-identical to the same
    ladder over the pre-extracted text; the staged form checkpoints the
    extraction in its input rung, records the param, and refuses to mix
    html-on and html-off runs over one store (both directions)."""
    import pytest
    from pyspark.sql import functions as F

    from timesearch_spark.operators.pipeline import (
        curate_corpus, curate_corpus_staged,
    )
    from timesearch_spark.operators.textstats import html_to_text

    base = [
        (1, "the cat sat on the mat and it is a fine day for cats"),
        (2, "the dog sat on the log and it is a fine day for dogs"),
        (3, "xqj zvv kpl wmt rrq bbn qpw ooz vvz"),  # fails the gate
        (4, "the cat sat on the mat and it is a fine day for cats"),  # dup of 1
    ]
    plain = spark.createDataFrame(base, "doc_id long, text string")
    page = F.concat(
        F.lit("<html><head><script>drop<this/></script></head><body>"
              "<nav><ul><li>Home</li></ul></nav><p>"),
        F.regexp_replace("text", "&", "&amp;"),
        F.lit("</p></body></html>"),
    )
    wrapped = plain.select("doc_id", page.alias("text"))

    def rows(df):
        return sorted(map(tuple, df.select(
            "doc_id", "lang_guess", "n_ws", "split").collect()))

    # html=True over markup — the extraction feeds every later rung.
    # The nav boilerplate ("Home") survives inside the text, so compare
    # against the ladder over the EXTRACTED text, the exact contract.
    extracted = wrapped.select(
        "doc_id", html_to_text("text").alias("text"))
    got = rows(curate_corpus(wrapped, html=True))
    want = rows(curate_corpus(extracted))
    assert got == want and got  # survivors identical, non-empty

    # staged: html rung checkpoints in 'input', run is row-identical,
    # and the manifest pins the param both ways
    store = str(tmp_path / "store")
    staged = rows(curate_corpus_staged(wrapped, store, html=True))
    assert staged == got
    inp = spark.read.parquet(store + "/input")
    assert "<p>" not in (inp.filter("doc_id = 1").first()["text"] or "")
    with pytest.raises(ValueError, match="different parameters"):
        curate_corpus_staged(wrapped, store)  # html-off over html-on store
    store2 = str(tmp_path / "store2")
    curate_corpus_staged(plain, store2)
    with pytest.raises(ValueError, match="different parameters"):
        curate_corpus_staged(plain, store2, html=True)
