"""Document embedding (engine extension): text → fixed-width vectors.

Production embeds with a model server or an in-process encoder; this
container has neither, so the DEFAULT featurizer is the classic HASHING
TRICK — each token hashes to (index, sign) in a ``dim``-wide space,
vectors are L2-normalized counts.  Deterministic, order-insensitive, and
honestly a real (if dated) featurizer: hashing vectorizers power plenty
of large-scale dedup/classification pipelines, and cosine over them is a
usable lexical-overlap similarity.

Swapping in a real model is a ONE-ARGUMENT change, not a bypass: every
semantic operator (embed_documents, semantic_dedup,
semantic_decontaminate, pipeline.cluster_balanced_sample via
pre-embedded input) accepts ``model: Callable[[list[str]], ndarray]`` —
a batch encoder returning an (n, dim) float array.  The callable is
pickled into the Arrow-batched ``mapInPandas`` closure and invoked once
per batch on executors, which is exactly the batch-inference shape a
local ONNX/torch encoder wants; the output schema, partitioning, and
every downstream operator (similarity.*, embedding_dedup_clusters) stay
as they are.

Scale shape: one Arrow-batched map stage, no shuffle; vectors are
float64 so downstream fold-order cosine stays bit-identical to the
oracle's list_* math.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hash_embed_matrix(texts, dim):
    """list[str|None] → (n, dim) float64 L2-normalized hashed-BoW."""
    import hashlib

    import numpy as np

    out = np.zeros((len(texts), dim), dtype=np.float64)
    for i, t in enumerate(texts):
        if not t:
            continue
        for tok in t.lower().split():
            h = int.from_bytes(
                hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"
            )
            idx = h % dim
            sign = 1.0 if (h >> 63) & 1 == 0 else -1.0
            out[i, idx] += sign
    norms = np.sqrt((out * out).sum(axis=1))
    nz = norms > 0
    out[nz] = out[nz] / norms[nz, None]
    return out


def _embed_matrix(texts, dim, model):
    """Apply ``model`` (or the hashing default) to one batch and validate
    the contract: (len(texts), dim) float64.  A model that returns the
    wrong width fails HERE with the batch shape in the message, not three
    operators downstream as a cosine dimension mismatch."""
    import numpy as np

    if model is None:
        return _hash_embed_matrix(texts, dim)
    M = np.asarray(model(list(texts)), dtype=np.float64)
    if M.shape != (len(texts), dim):
        raise ValueError(
            f"embedding model returned shape {M.shape}, expected "
            f"({len(texts)}, {dim}); pass dim= matching the model's "
            "output width"
        )
    return M


def _id_dtype(df: DataFrame, id_col: str) -> str:
    """DDL type string of ``id_col`` — output schemas mirror the input's
    id type (long ids stay long, string ids stay string) instead of
    hard-coding ``long``."""
    return df.schema[id_col].dataType.simpleString()


def embed_documents(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: Callable[[list], "object"] | None = None,
) -> DataFrame:
    """(id → vec_id, embedding array<double>): batch embeddings ready for
    every operator in ``similarity`` (top-k, ANN, near-dup clustering).

    ``model`` is a batch encoder ``list[str|None] -> (n, dim) ndarray``
    run once per Arrow batch on executors; default is the deterministic
    hashed-BoW stand-in.  Empty/NULL text embeds to whatever the model
    returns for it (the default: the zero vector, which cosine treats as
    NULL downstream)."""
    from timesearch_spark.tables import spread

    id_t = _id_dtype(docs, id_col)

    def batch_embed(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            M = _embed_matrix(list(pdf[text_col]), dim, model)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col], "embedding": list(map(list, M))}
            )

    return (
        spread(docs)
        .select(F.col(id_col).alias(id_col), F.col(text_col).alias(text_col))
        .mapInPandas(batch_embed, f"vec_id {id_t}, embedding array<double>")
    )


def semantic_dedup(
    docs: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    method: str = "lsh",
    model: Callable[[list], "object"] | None = None,
) -> DataFrame:
    """Text in, semantic near-dup clusters out: embed (``model`` — real
    encoder or the hashing default) then cluster in embedding space
    (similarity.embedding_dedup_clusters — LSH-bucketed pairs, hash-min
    components over the edge subgraph).  Output: (doc_id, cluster_id,
    is_keeper).  Complements the token-level ladder: minhash catches
    edits, embedding-cosine catches paraphrase-shaped similarity a
    shingle set misses."""
    from timesearch_spark.operators.similarity import embedding_dedup_clusters

    emb = embed_documents(docs, dim, "text", "doc_id", model=model)
    out = embedding_dedup_clusters(emb, threshold=threshold, method=method)
    return out.select(
        F.col("vec_id").alias("doc_id"), "cluster_id", "is_keeper"
    )


def semantic_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    model: Callable[[list], "object"] | None = None,
    max_benchmark_rows: int = 200_000,
) -> DataFrame:
    """Embedding-space contamination check: every corpus document whose
    cosine against ANY benchmark document reaches ``threshold`` — the
    semantic sibling of ``pipeline.decontaminate`` (n-gram overlap
    misses paraphrased leaks; embedding cosine catches them).

    Plan shape mirrors the gram version's broadcast contract: the
    benchmark embeds into one driver-side matrix (benchmarks are MBs,
    corpora are TBs), every corpus Arrow batch scores all benchmark rows
    with fold-order float64 math (bit-identical to similarity's oracle
    arithmetic) and emits ONLY the pairs at/above threshold.  One corpus
    scan, no shuffle, no top-k cap — a benchmark doc leaked a thousand
    times flags all thousand copies (cosine_topk_batch would cap at k).

    The boundedness assumption is ENFORCED, not documented: the driver
    materializes at most ``max_benchmark_rows + 1`` benchmark rows (the
    ``limit(max+1)`` probe pattern of
    ``similarity.embedding_near_dups_blas``) and raises a pointed error
    past the limit — a caller who swaps the corpus and benchmark
    arguments gets that message, not a driver OOM.

    Returns (doc_id, bench_id, cos) hit pairs; anti-join the ids to
    drop contaminated documents."""
    import numpy as np

    from timesearch_spark.operators.similarity import (
        _fold_dot,
        _round6,
        batch_cosines,
        query_matrix_state,
    )

    id_t = _id_dtype(docs, "doc_id")
    bench_id_t = _id_dtype(benchmark, "doc_id")
    out_schema = f"doc_id {id_t}, bench_id {bench_id_t}, cos double"

    # the benchmark embeds DRIVER-side: it is being collected into the
    # broadcast matrix anyway, so a Spark embed job just to collect its
    # output would be pure overhead (the nested-job shape r5 removed
    # from cosine_topk_lsh).  limit(max+1) bounds the transfer BEFORE
    # materialization — the check itself can never OOM.
    brows = (
        benchmark.select(F.col("doc_id"), F.col("text"))
        .limit(max_benchmark_rows + 1)
        .collect()
    )
    if len(brows) > max_benchmark_rows:
        raise ValueError(
            f"semantic_decontaminate: benchmark exceeds "
            f"{max_benchmark_rows} rows — the benchmark side is "
            "collected to the driver and broadcast, so it must be the "
            "SMALL side (did you swap docs and benchmark?); raise "
            "max_benchmark_rows only if the driver can hold the matrix"
        )
    if not brows:
        return docs.sparkSession.createDataFrame([], out_schema)
    Bm = _embed_matrix([r["text"] for r in brows], dim, model)
    Qm, qids, qnorm = query_matrix_state(
        [(r["doc_id"], list(Bm[i])) for i, r in enumerate(brows)]
    )
    corpus_emb = embed_documents(docs, dim, "text", "doc_id", model=model)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            vnorm = np.sqrt(_fold_dot(V * V, np.ones(V.shape[1])))
            out_ids, out_bench, out_cos = [], [], []
            for m in range(len(qids)):
                cos = batch_cosines(V, vnorm, Qm, qnorm, m)
                hit = np.nan_to_num(cos, nan=-2.0) >= threshold - 1e-9
                if hit.any():
                    out_ids.extend(ids[hit])
                    out_bench.extend([qids[m]] * int(hit.sum()))
                    out_cos.extend(_round6(float(c)) for c in cos[hit])
            yield pd.DataFrame(
                {"doc_id": out_ids, "bench_id": out_bench, "cos": out_cos}
            )

    return corpus_emb.mapInPandas(score, out_schema)
