"""Batch embedding generation (H1 — the reference's one true UDF).

Reference: ``model.encode(docs, batch_size=64)`` with Sentence-BERT
(``Hybrid_Recom_vecdb.py:356, :374-379``). Spark-first design: the model
runs inside Arrow-batched ``mapInPandas`` with a per-executor cached model
(load once per worker, not per batch); Arrow batch size plays the role of
the reference's batch_size=64.

sentence-transformers is not in this container, so the default embedder is
a deterministic hashing-trick encoder (token → md5 → signed bucket),
L2-normalized — same plumbing, reproducible output. ``model_embedder``
gates the real model behind an import-try.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame

EMBED_DIM = 64


def _hash_embed_texts(texts, dim: int = EMBED_DIM, memo: dict | None = None):
    import numpy as np

    # token → (bucket, sign) memo: md5 is a pure function of the token,
    # so each distinct token hashes once per task instead of once per
    # occurrence — on chunked corpora (64-token windows, 16 overlap) the
    # same words recur constantly and this is most of the kernel's time.
    # State is bounded by the partition's vocabulary (words, not rows);
    # the caller may pass a dict to share it across Arrow batches.
    if memo is None:
        memo = {}
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for i, t in enumerate(texts):
        # split on single spaces (the repo-wide _TOKS convention), NOT
        # str.split()'s any-whitespace runs: the DuckDB oracle tokenizes
        # with string_split(text, ' '), and a tab/newline in a document
        # would silently diverge the two engines (ADVICE r2)
        for tok in str(t).lower().split(" "):
            if not tok:
                continue
            bs = memo.get(tok)
            if bs is None:
                h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                bs = (int(h[:8], 16) % dim,
                      1.0 if int(h[8], 16) >= 8 else -1.0)
                memo[tok] = bs
            out[i, bs[0]] += bs[1]
        n = np.linalg.norm(out[i])
        if n > 0:
            out[i] /= n
    return out


def hashing_embedder(documents: DataFrame, id_col: str | list[str] = "doc_id",
                     text_col: str = "text", dim: int = EMBED_DIM) -> DataFrame:
    """Deterministic hashing-trick embeddings via Arrow-batched mapInPandas.

    ``id_col`` may be a list for composite keys (e.g. (doc_id, chunk_id)
    when embedding :func:`...textops.chunk_documents` output); the key
    columns pass through with their input names and types.
    """
    from pyspark.sql import types as T

    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    key_fields = documents.select(*id_cols).schema.fields
    out_schema = T.StructType(
        list(key_fields)
        + [T.StructField("embedding", T.ArrayType(T.FloatType()))])

    def encode(batches: Iterator) -> Iterator:
        memo: dict = {}  # shared across this task's Arrow batches
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _hash_embed_texts(list(pdf[text_col]), dim, memo=memo)
            out = pdf[id_cols].copy()
            out["embedding"] = [row.astype("float32").tolist() for row in mat]
            yield out

    return documents.select(*id_cols, text_col).mapInPandas(
        encode, schema=out_schema
    )


_MODEL_CACHE: dict = {}


def _gated_model_factory(model_name: str, model_factory):
    """Resolve the model factory, gating the default on the optional
    sentence-transformers dependency (shared by both embedder variants)."""
    if model_factory is not None:
        return model_factory
    try:
        import sentence_transformers  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "sentence-transformers not installed in this environment; "
            "use hashing_embedder for deterministic plumbing"
        ) from e

    def default_factory():
        from sentence_transformers import SentenceTransformer
        return SentenceTransformer(model_name, device="cpu")

    return default_factory


def model_embedder(documents: DataFrame, model_name: str = "sentence-transformers/all-MiniLM-L12-v2",
                   id_col: str = "doc_id", text_col: str = "text",
                   model_factory=None) -> DataFrame:
    """Sentence-transformer embeddings (H1 real-model path, ref
    ``Hybrid_Recom_vecdb.py:356``).

    Model is cached per executor process under ``model_name`` — the
    factory runs at most once per worker, and the instance is reused
    across every Arrow batch and task that worker handles (the
    distributed analogue of the reference's single in-process model).

    ``model_factory``: optional zero-arg picklable callable returning an
    object with ``.encode(list[str], batch_size=n) -> ndarray``. Defaults
    to loading the SentenceTransformer (requires the optional
    dependency); tests inject a deterministic fake to exercise the
    batching/caching/schema path without the library."""
    model_factory = _gated_model_factory(model_name, model_factory)

    def encode(batches: Iterator) -> Iterator:
        import pandas as pd

        if model_name not in _MODEL_CACHE:  # per-executor singleton
            _MODEL_CACHE[model_name] = model_factory()
        model = _MODEL_CACHE[model_name]
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = model.encode(list(pdf[text_col]), batch_size=64)
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "embedding": [v.astype("float32").tolist() for v in vecs],
            })

    return documents.select(id_col, text_col).mapInPandas(
        encode, schema="doc_id long, embedding array<float>"
    )


def mean_pool_embeddings(chunk_emb: DataFrame, id_col: str = "doc_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Mean-pool chunk embeddings back to one vector per parent id — the
    chunk-then-pool step of a RAG/embedding ingestion pipeline (embed
    :func:`...textops.chunk_documents` windows, pool to a document
    vector; the late-chunking counterpart of whole-doc embedding).

    Output is the canonical long form (``id_col``, pos, val, n_chunks):
    val = round(mean over the id's chunks of component ``pos``, 6),
    n_chunks = the pooled chunk count. The long form keeps the result
    hash-checkable (array columns defeat the harness canonicalizer) and
    the aggregation engine-portable (per-(id, pos) ``avg`` rather than an
    order-sensitive array fold).

    Scale shape: one posexplode (dim rows per chunk, map-side) feeding a
    single partial-agg shuffle keyed by (id, pos) — no collect_list state,
    no second shuffle; chunk vectors never move as whole arrays.
    """
    from pyspark.sql import functions as F

    from .. import ROUND_SCORE
    from ..functions.portable import fround

    return (
        chunk_emb.select(F.col(id_col),
                         F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy(id_col, "pos")
        .agg(fround(F.avg(F.col("v").cast("double")), ROUND_SCORE).alias("val"),
             F.count(F.lit(1)).cast("int").alias("n_chunks"))
        .select(id_col, F.col("pos").cast("int").alias("pos"), "val",
                "n_chunks")
    )
