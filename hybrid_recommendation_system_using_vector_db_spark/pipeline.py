"""EP1 build pipeline: catalog → sample → edges → embeddings → vector index.

The reference's ``main()`` steps 1-7 (``Hybrid_Recom_vecdb.py:331-383``):
parse the amazon-meta dump, reservoir-sample 100k products, build the
co-purchase adjacency, synthesize doc text, embed, and upsert everything
into a ChromaDB collection. Here the same pipeline is three materialized
parquet tables (SURVEY §3 EP1) written by one lazy DAG:

- ``products``    parsed catalog (sources.amazon_meta), seeded sample
- ``edges``       co-purchase graph (operators.copurchase, C1+D1)
- ``index``       the vector collection (A3 sink): id, doc text, metadata
                  columns, embedding array<float>, LSH bucket column

"Index build" on Spark is a table layout decision, not a server process:
the index table is written flat, each file sorted by the LSH bucket, and
the bucket stays the '0'/'1' string column the probe compares (as a
partition directory it would read back as an integer). ``overwrite``
mode reproduces the reference's destroy-and-recreate semantics (A4,
``:150-158``, ALWAYS_FRESH_RUN ``:28``).

At 100 TB: every stage is shuffle-bounded (sample = per-partition top-n
merge; edges = one hash shuffle; embed = Arrow-batched map; write = a
per-partition sort) — no driver-side materialization of anything but the
final row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .embeddings import hashing_embedder
from .operators.copurchase import edges_from_similar
from .operators.sampling import seeded_sample
from .operators.similarity import with_lsh_bucket
from .sources.amazon_meta import read_amazon_meta

DEFAULT_SAMPLE = 100_000  # ref Hybrid_Recom_vecdb.py:19 SAMPLE_SIZE
INDEX_LSH_BITS = 4


def catalog_doc_text(products: DataFrame) -> DataFrame:
    """B2 doc-text projection on the ingested catalog schema
    (title | Group: g | Category: c0 — ref :124-132)."""
    return products.withColumn(
        "doc",
        F.concat_ws(
            " | ",
            F.nullif(F.col("title"), F.lit("")),
            F.when(F.nullif(F.col("group"), F.lit("")).isNotNull(),
                   F.concat(F.lit("Group: "), F.col("group"))),
            F.when(F.size("categories") > 0,
                   F.concat(F.lit("Category: "), F.element_at("categories", 1))),
        ),
    )


def build_index(spark: SparkSession, meta_path: str, out_dir: str,
                sample_size: int = DEFAULT_SAMPLE, seed: int = 42,
                embed_dim: int = 64, lsh_bits: int = INDEX_LSH_BITS) -> dict[str, int]:
    """Run the full EP1 pipeline; returns row counts per written table."""
    products = read_amazon_meta(spark, meta_path)
    sample = seeded_sample(products, sample_size, "asin", seed)
    sample.write.mode("overwrite").parquet(f"{out_dir}/products")
    sample = spark.read.parquet(f"{out_dir}/products")  # cut the lineage once

    edges = edges_from_similar(sample)
    edges.write.mode("overwrite").parquet(f"{out_dir}/edges")

    docs = catalog_doc_text(sample).select(
        F.xxhash64("asin").alias("doc_id"), "asin", "title", "group", "doc")
    embedded = hashing_embedder(docs, id_col="doc_id", text_col="doc", dim=embed_dim)
    index = (
        docs.join(embedded, "doc_id")
        .select("asin", "doc", "title", "group", "embedding")
    )
    index = with_lsh_bucket(index, "embedding", lsh_bits)
    _write_table(index.sortWithinPartitions("bucket"), f"{out_dir}/index")
    return {name: df.count() for name, df in load_index(spark, out_dir).items()}


def load_index(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Load the three pipeline tables written by :func:`build_index`."""
    return {name: spark.read.parquet(f"{out_dir}/{name}")
            for name in ("products", "edges", "index")}


def write_ivf_index(spark: SparkSession, embeddings: DataFrame, out_dir: str,
                    n_centroids: int = 16, n_iters: int = 2) -> list:
    """Write the IVF vector index as partition-prunable parquet.

    The inverted lists land partitioned by ``centroid_id`` — an IVF probe
    of ``nprobe`` lists then scans exactly those directories and skips the
    rest at the FILE level (PartitionFilters, pinned by
    ``test_ivf_index_partition_pruning``), which is what makes nprobe a
    genuine I/O dial at 100 TB, not just a compute dial. The KB-sized
    codebook is written alongside for serve-time reload.
    """
    from .operators.similarity import ivf_build_lists, kmeans_centroids_local

    cents = kmeans_centroids_local(embeddings, n_centroids, n_iters)
    _write_table(ivf_build_lists(embeddings, cents), f"{out_dir}/ivf_lists",
                 _IVF_FAMILY.by["lists"])
    _write_codebooks(spark, [cents], f"{out_dir}/ivf_codebook")
    return cents


def _write_codebooks(spark: SparkSession, books: list, path: str) -> None:
    """The ``(subspace, cid, codeword)`` sidecar of the PQ and IVF-PQ
    indexes: one KB-sized file. The IVF and IVF-PQ coarse centroids are
    written as a one-subspace codebook."""
    rows = [(s, int(cid), [float(x) for x in cv])
            for s, book in enumerate(books) for cid, cv in book]
    spark.createDataFrame(
        rows, "subspace int, cid int, codeword array<double>") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def _read_codebooks(spark: SparkSession, path: str) -> list:
    """Per-subspace [(cid, codeword)] books written by
    :func:`_write_codebooks`, subspaces and cids in order."""
    by_s: dict[int, list] = {}
    for r in spark.read.parquet(path).collect():
        by_s.setdefault(r.subspace, []).append((r.cid, list(r.codeword)))
    return [sorted(by_s[s]) for s in sorted(by_s)]


def load_ivf_index(spark: SparkSession, out_dir: str) -> tuple[DataFrame, list]:
    """(inverted lists, codebook) written by :func:`write_ivf_index`,
    after rolling a committed append stage forward."""
    _IVF_FAMILY.finish(spark, out_dir, as_reader=True)
    return (spark.read.parquet(f"{out_dir}/ivf_lists"),
            (_read_codebooks(spark, f"{out_dir}/ivf_codebook") or [[]])[0])


def append_ivf_index(spark: SparkSession, new_embeddings: DataFrame,
                     out_dir: str) -> None:
    """Incremental IVF maintenance: assign ONLY the vectors not yet in
    the lists with the STORED codebook, and add their list rows to the
    ``centroid_id=`` directories they touch.

    Replaces the reference's destroy-and-recreate (A4,
    ``Hybrid_Recom_vecdb.py:28`` ALWAYS_FRESH_RUN) with an O(batch)
    append: the family guard (``_IVF_FAMILY.new_rows``) drops ids the
    lists already hold, the new rows are staged in the live layout, and
    ``mark`` publishes them by moving the staged files in. A replayed
    batch is a no-op, and a crash before ``_COMMIT`` leaves the live
    lists unchanged. Serving is unchanged — ``load_ivf_index`` reads the
    union and probes prune at the file level. Because assignment is a
    pure function of the stored codebook, an index built incrementally
    is ROW-IDENTICAL to one built from the full corpus in one shot
    (pinned by ``test_ivf_index_incremental_append_equals_bulk``).
    Re-train the codebook (full rewrite) only when drift degrades
    recall — the standard IVF maintenance trade.
    """
    from .operators.similarity import ivf_build_lists

    batch = _IVF_FAMILY.new_rows(spark, out_dir, new_embeddings, "vec_id")
    if batch is None:
        return
    _, cents = load_ivf_index(spark, out_dir)
    _IVF_FAMILY.commit_tables(spark, out_dir,
                              {"lists": ivf_build_lists(batch, cents)})


def write_lsh_index(spark: SparkSession, embeddings: DataFrame, out_dir: str,
                    n_bits: int = 5, n_tables: int = 8) -> None:
    """Write the multi-table hyperplane LSH index: the flat
    ``(cand, t, bucket)`` key table ``lsh_buckets``, each file sorted by
    ``(t, bucket)``, with ``bucket`` the '0'/'1' string the probe
    compares. The index holds keys only: ``lsh_topk`` joins the
    candidates' vectors from the corpus, where each vector is stored
    once. The (n_bits, n_tables) params ride in a sidecar so serve calls
    re-attach the metadata that makes a parameter mismatch fail loudly
    (``_check_index_params``).

    The bucket assignment is a pure map of the stored hyperplane
    parameters, so the append lifecycle below is O(batch) like every
    other family.
    """
    from .operators.similarity import lsh_build_index

    _write_table(lsh_build_index(embeddings, n_bits=n_bits, n_tables=n_tables)
                 .sortWithinPartitions("t", "bucket"), f"{out_dir}/lsh_buckets")
    # compact appended-ids ledger: the append replay guard probes THIS
    # (one narrow row per vector) instead of distinct-scanning the whole
    # key table (n_tables rows per vector) — ADVICE r9
    embeddings.select(F.col("vec_id").alias("doc_id")).distinct() \
        .write.mode("overwrite").parquet(f"{out_dir}/lsh_docs")
    spark.createDataFrame([(n_bits, n_tables)],
                          "n_bits int, n_tables int") \
        .coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/lsh_params")


def _write_table(df: DataFrame, path: str, by: tuple = ()) -> None:
    """Overwrite ``path`` with ``df`` — the one writer of every staged
    table and of every directory-partitioned one, bulk or staged. With
    partition columns ``by`` the table lands in ``col=value/``
    directories; a flat table keeps the partitioning and sort order of
    ``df`` as given.

    A partitioned write is clustered by ``by`` first: without it every
    write task opens a file in every directory it sees — tasks × dirs
    tiny files. Hash-clustered, each group lands in exactly one task →
    one file per dir. At very large scale add a salt column to the
    repartition for intra-partition parallelism; the layout is
    unchanged."""
    if by:
        df = df.repartition(*by)
    df.write.mode("overwrite").partitionBy(*by).parquet(path)


def load_lsh_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """The (cand, t, bucket) key table written by :func:`write_lsh_index`,
    with the param metadata re-attached — drop-in for
    ``lsh_topk(..., index=...)``, which takes the vectors from its
    ``corpus``. Committed append and compaction stages are rolled
    forward first."""
    _LSH_FAMILY.finish(spark, out_dir, as_reader=True)
    _LSH_COMPACT_FAMILY.finish(spark, out_dir, as_reader=True)
    p = spark.read.parquet(f"{out_dir}/lsh_params").collect()[0]
    return (spark.read.parquet(f"{out_dir}/lsh_buckets")
            .withMetadata("bucket", {"lsh.n_bits": int(p.n_bits),
                                     "lsh.n_tables": int(p.n_tables)}))


def compact_lsh_index(spark: SparkSession, out_dir: str,
                      target_rows_per_file: int = 4_000_000) -> dict:
    """OPTIMIZE the persisted LSH artifact in place: :func:`compact_parquet`
    rewrites the key table into ~``target_rows_per_file``-row files
    range-sorted on ``(t, bucket)``, and the docs ledger into files of
    the same size, then both are atomically swapped. Closes the artifact
    lifecycle (write → append → load → serve → COMPACT → vacuum): every
    ``append_lsh_index`` batch adds its own files, so after k appends a
    probe opens k+1 times the footers of one write — at 100 TB scan
    planning is O(files), and this rewrite resets it.

    Crash safety: the rewritten tables stage under
    ``lsh_compact__staging`` with the ``_COMMIT`` marker protocol; the
    publish renames the staged dirs over the live ones (a swap, where
    an append moves files in). Its own stage family: recovery is
    chosen by stage NAME, and moving a crashed compaction's files into
    the live table would double every row. A crash before the marker
    discards; after, any maintenance path (append/compact/vacuum) or
    reader claim rolls the swap forward. Maintenance-actor contract as
    everywhere: ONE append/compact/vacuum actor per artifact root at a
    time.

    Returns {files_in, files_out, rows} for the bucket table.
    """
    _LSH_FAMILY.finish(spark, out_dir)          # fold pending appends first
    _LSH_COMPACT_FAMILY.finish(spark, out_dir)  # recover a crashed compaction
    staging = _LSH_COMPACT_FAMILY.staging(out_dir)
    compact_parquet(spark, f"{out_dir}/lsh_docs", f"{staging}/docs",
                    target_rows_per_file)
    stats = compact_parquet(spark, f"{out_dir}/lsh_buckets", f"{staging}/buckets",
                            target_rows_per_file, ["t", "bucket"])
    _LSH_COMPACT_FAMILY.mark(spark, out_dir)
    return stats


def append_lsh_index(spark: SparkSession, new_embeddings: DataFrame,
                     out_dir: str, id_col: str = "vec_id") -> None:
    """Incremental LSH maintenance: bucket ONLY the new batch with the
    STORED hyperplane params and add its key files, each sorted by
    ``(t, bucket)``, to the key table, so growth costs O(batch), never
    O(corpus).

    Replay guard (ADVICE r9): the family guard anti-joins the compact
    ``lsh_docs`` ledger (one row per stored vector, where the key table
    holds ``n_tables``) — a re-appended vector is a no-op at
    O(|ledger ids|) probe cost.

    Crash safety (VERDICT r9 #7): bucket rows and ledger rows move
    through the SAME staged commit as every other append. Both are
    staged in the live layout, ``_COMMIT`` is marked, and the publish
    moves each staged file to the same relative path in the live table
    by rename — no Spark job. A crash before the marker discards the
    stage on the next append; a crash after leaves the unmoved files in
    the stage, and the next finish moves them. Every row sits in exactly
    one uniquely named file, so a torn publish can neither double-count
    nor lose rows.

    Because bucketing is a pure function of the params, an index grown
    incrementally is ROW-IDENTICAL to a bulk rebuild over the union
    (pinned by ``test_lsh_index_incremental_append_equals_bulk``)."""
    from .operators.similarity import lsh_build_index

    _LSH_COMPACT_FAMILY.finish(spark, out_dir)  # recover a crashed compaction
    batch = _LSH_FAMILY.new_rows(spark, out_dir, new_embeddings, id_col)
    if batch is None:
        return
    p = spark.read.parquet(f"{out_dir}/lsh_params").collect()[0]
    _LSH_FAMILY.commit_tables(spark, out_dir, {
        "buckets": lsh_build_index(batch, id_col=id_col, n_bits=int(p.n_bits),
                                   n_tables=int(p.n_tables))
                   .sortWithinPartitions("t", "bucket"),
        "docs": batch.select(F.col(id_col).alias("doc_id")).distinct()})


def write_pq_index(spark: SparkSession, embeddings: DataFrame, out_dir: str,
                   m: int = 8, n_centroids: int = 64,
                   n_iters: int = 2) -> list:
    """Write the product-quantization index: codes table + codebook table.

    The codes table is the 32×-compressed serve artifact (m smallints per
    vector instead of dim floats — the measured on-disk ratio is in
    SCALE.md): at 100 TB of float32 embeddings the codes tier is ~3 TB,
    small enough to live on the serving cluster while the float corpus
    stays in cold storage. The KB-sized codebook lands alongside (same
    split as ``write_ivf_index``); ``load_pq_index`` +
    ``similarity.pq_topk_from_codes`` serve without ever re-reading the
    float corpus.
    """
    from .operators.similarity import pq_encode, pq_train

    books = pq_train(embeddings, m, n_centroids, n_iters)
    codes = pq_encode(embeddings, books)
    codes.write.mode("overwrite").parquet(f"{out_dir}/pq_codes")
    _write_codebooks(spark, books, f"{out_dir}/pq_codebook")
    return books


def append_pq_index(spark: SparkSession, new_embeddings: DataFrame,
                    out_dir: str) -> None:
    """Incremental PQ maintenance: encode ONLY the vectors the codes
    table does not hold yet with the STORED codebooks, stage their codes
    and publish them by ``mark`` — the :func:`append_ivf_index` guard →
    stage → ``mark`` path for the compressed tier, so a replayed batch
    is a no-op and a crash before ``_COMMIT`` changes nothing. Encoding
    is a pure function of the codebooks, so an incrementally-grown codes
    table is row-identical to a one-shot encode of the full corpus with
    the same books (pinned by
    ``test_pq_index_incremental_append_equals_bulk``); cost is O(batch).
    Codebooks are NOT retrained — when the new data drifts off the
    trained distribution the quantization error rises (the SQ clamp
    note in ``scalar_quantize`` is the same trade); re-train + full
    rewrite is the drift response, not the append path.
    """
    from .operators.similarity import pq_encode

    batch = _PQ_FAMILY.new_rows(spark, out_dir, new_embeddings, "vec_id")
    if batch is None:
        return
    _, books = load_pq_index(spark, out_dir)
    _PQ_FAMILY.commit_tables(spark, out_dir, {"codes": pq_encode(batch, books)})


def load_pq_index(spark: SparkSession, out_dir: str) -> tuple[DataFrame, list]:
    """(codes table, codebooks) written by :func:`write_pq_index`, after
    rolling a committed append stage forward."""
    _PQ_FAMILY.finish(spark, out_dir, as_reader=True)
    return (spark.read.parquet(f"{out_dir}/pq_codes"),
            _read_codebooks(spark, f"{out_dir}/pq_codebook"))


def write_ivfpq_index(spark: SparkSession, embeddings: DataFrame,
                      out_dir: str, n_centroids: int = 16, m: int = 8,
                      pq_centroids: int = 16,
                      n_iters: int = 2) -> tuple[list, list]:
    """Write the IVF-PQ index: coarse-partitioned codes + both codebooks.

    The codes table — (vid, pq_codes) partitioned by ``centroid_id`` —
    combines both storage levers: partition pruning makes nprobe an I/O
    dial (the ``write_ivf_index`` story) AND each vector is m smallints
    instead of dim floats (the ``write_pq_index`` story). At 100 TB of
    float32 embeddings the serving tier is ~3 TB of prunable codes; the
    float corpus stays in cold storage and is never read at serve time.
    """
    from .operators.similarity import ivfpq_encode, ivfpq_train

    cents, books = ivfpq_train(embeddings, n_centroids, m, pq_centroids,
                               n_iters)
    _write_table(ivfpq_encode(embeddings, cents, books),
                 f"{out_dir}/ivfpq_codes", _IVFPQ_FAMILY.by["codes"])
    _write_codebooks(spark, [cents], f"{out_dir}/ivfpq_coarse")
    _write_codebooks(spark, books, f"{out_dir}/ivfpq_books")
    return cents, books


def append_ivfpq_index(spark: SparkSession, new_embeddings: DataFrame,
                       out_dir: str) -> None:
    """Incremental IVF-PQ maintenance: encode ONLY the vectors the codes
    table does not hold yet with the STORED coarse centroids + residual
    codebooks, stage them in the ``centroid_id=`` layout and publish by
    ``mark`` — files land only under the directories the batch touches.
    Guard → stage → ``mark`` as in :func:`append_ivf_index`: a replayed
    batch is a no-op, a crash before ``_COMMIT`` changes nothing.
    Encoding is a pure per-row function of both stored artifacts, so
    incremental == bulk row-identically (pinned by
    ``test_ivfpq_index_incremental_append_equals_bulk``)."""
    from .operators.similarity import ivfpq_encode

    batch = _IVFPQ_FAMILY.new_rows(spark, out_dir, new_embeddings, "vec_id")
    if batch is None:
        return
    _, cents, books = load_ivfpq_index(spark, out_dir)
    _IVFPQ_FAMILY.commit_tables(spark, out_dir,
                                {"codes": ivfpq_encode(batch, cents, books)})


def load_ivfpq_index(spark: SparkSession,
                     out_dir: str) -> tuple[DataFrame, list, list]:
    """(codes table, coarse centroids, residual codebooks) written by
    :func:`write_ivfpq_index`, after rolling a committed append stage
    forward."""
    _IVFPQ_FAMILY.finish(spark, out_dir, as_reader=True)
    return (spark.read.parquet(f"{out_dir}/ivfpq_codes"),
            (_read_codebooks(spark, f"{out_dir}/ivfpq_coarse") or [[]])[0],
            _read_codebooks(spark, f"{out_dir}/ivfpq_books"))


def write_bm25_index(spark: SparkSession, documents: DataFrame,
                     out_dir: str, id_col: str = "doc_id",
                     text_col: str = "text",
                     n_term_partitions: int = 8) -> None:
    """Write the BM25 lexical index: postings + df + corpus stats.

    The postings land hash-partitioned AND sorted by ``term`` — Lucene's
    term-sorted segment layout expressed as parquet: every row group's
    min/max ``term`` statistics are tight, so a query-vocabulary probe
    skips non-matching row groups at the reader level, and a downstream
    repartition-by-term consumer gets clustered input. df (one row per
    vocabulary term) and the single-row stats table land alongside, the
    same KB-sized-sidecar split as ``write_ivf_index``.

    At 100 TB the posting build is the one expensive corpus pass a
    lexical engine makes; this artifact amortizes it over every query
    batch (``bm25_topk(index=load_bm25_index(...))`` never re-tokenizes
    the corpus).
    """
    from .operators.retrieval import bm25_build_index

    postings, df_, stats = bm25_build_index(documents, id_col, text_col)
    (postings.repartition(n_term_partitions, "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(f"{out_dir}/bm25_postings"))
    df_.write.mode("overwrite").parquet(f"{out_dir}/bm25_df")
    stats.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/bm25_stats")


def append_bm25_index(spark: SparkSession, new_documents: DataFrame,
                      out_dir: str, id_col: str = "doc_id",
                      text_col: str = "text",
                      n_term_partitions: int = 8) -> None:
    """Incremental BM25 maintenance: tokenize ONLY the new batch, append
    its postings, and MERGE the sidecar tables exactly.

    The merge math is only exact over doc-DISJOINT batches, so the
    family guard anti-joins the batch against the stored index's doc
    ids (one column-pruned scan of the postings' ``cand`` column) — an
    accidental replay of already-indexed docs is silently skipped
    instead of double-counting df and inflating n_docs/avgdl.

    Unlike IVF/PQ appends (pure per-row functions of a stored artifact),
    BM25's df and (n_docs, avgdl) are corpus-global — but over disjoint
    doc sets they merge exactly: per-term df adds; the stored avgdl·n is
    the integer token total (recovered via round(), exact for any real
    corpus magnitude), so the merged avgdl is the same sum/count double
    division the bulk build performs — serving through an appended index
    is bit-identical to a one-shot build over the union (pinned by
    ``test_bm25_index_incremental_append_equals_bulk``). Cost: one
    O(batch) tokenize pass + a |vocabulary|-row sidecar rewrite; the
    corpus-sized postings are append-only, never rewritten.

    Postings, df and stats move through one staged commit: a crash
    before ``_COMMIT`` leaves the index untouched and the retry redoes
    the batch; after it, the next touch finishes the publish. The
    batch's term-sorted postings files are moved into the live table as
    they are, and the merged df and stats replace theirs.
    """
    from .operators.retrieval import bm25_build_index

    batch = _BM25_FAMILY.new_rows(spark, out_dir, new_documents, id_col)
    if batch is None:
        return
    postings_b, df_b, stats_b = bm25_build_index(batch, id_col, text_col)
    sn = stats_b.collect()[0]
    so = spark.read.parquet(f"{out_dir}/bm25_stats").collect()[0]
    n = so.n_docs + sn.n_docs
    sumdl = round(so.avgdl * so.n_docs) + round(sn.avgdl * sn.n_docs)
    _BM25_FAMILY.commit_tables(spark, out_dir, {
        "postings": (postings_b.repartition(n_term_partitions, "term")
                     .sortWithinPartitions("term")),
        "df": (spark.read.parquet(f"{out_dir}/bm25_df").unionByName(df_b)
               .groupBy("term").agg(F.sum("df").alias("df"))),
        "stats": spark.createDataFrame([(float(n), float(sumdl) / n)],
                                       "n_docs double, avgdl double")
                      .coalesce(1)})


def load_bm25_index(spark: SparkSession, out_dir: str
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, df, stats) written by :func:`write_bm25_index` — pass
    as ``bm25_topk(..., index=...)``. A committed append stage is rolled
    forward first, as every loader does."""
    _BM25_FAMILY.finish(spark, out_dir, as_reader=True)
    return (spark.read.parquet(f"{out_dir}/bm25_postings"),
            spark.read.parquet(f"{out_dir}/bm25_df"),
            spark.read.parquet(f"{out_dir}/bm25_stats"))


def write_maxsim_index(spark: SparkSession, documents: DataFrame,
                       out_dir: str, chunk_tokens: int = 64,
                       overlap: int = 16) -> None:
    """Write the MaxSim component-extrema index: chunk → hash-embed →
    per-(doc, pos) max/min summary (``maxsim_component_index``),
    PARTITIONED BY pos.

    This is the artifact that makes ``maxsim_topk`` serve
    chunk-count-independent: the per-term chunk max is folded at ingest,
    and storing long-form partitioned by ``pos`` turns the query-bucket
    probe into partition pruning — a term batch touches exactly the
    ``pos=`` directories its buckets name, never the full summary.
    |docs|·dim rows regardless of chunk count.
    """
    from .embeddings import hashing_embedder
    from .operators.retrieval import maxsim_component_index
    from .operators.textops import chunk_documents

    chunks = chunk_documents(documents, chunk_tokens=chunk_tokens,
                             overlap=overlap)
    cv = hashing_embedder(chunks, id_col=["doc_id", "chunk_id"],
                          text_col="chunk_text")
    _write_table(maxsim_component_index(cv), f"{out_dir}/maxsim_components",
                 _MAXSIM_FAMILY.by["components"])


def append_maxsim_index(spark: SparkSession, new_documents: DataFrame,
                        out_dir: str, chunk_tokens: int = 64,
                        overlap: int = 16) -> None:
    """Incremental MaxSim maintenance: chunk + embed + summarize ONLY the
    docs the summary does not hold yet (the family guard checks ``cand``
    in the ``pos=0`` partition, one row per doc), stage their rows in the
    ``pos=`` layout and publish by ``mark``: a replayed batch is a no-op,
    a crash before ``_COMMIT`` changes nothing. The per-(doc, pos)
    extrema depend only on a document's OWN chunks (and the hashing
    embedder is stateless), so incremental == bulk row-identically
    (pinned by ``test_maxsim_index_incremental_append_equals_bulk``).
    Cost is O(batch); chunk/embed params must match the original build —
    the same contract as the IVF codebook."""
    from .embeddings import hashing_embedder
    from .operators.retrieval import maxsim_component_index
    from .operators.textops import chunk_documents

    batch = _MAXSIM_FAMILY.new_rows(spark, out_dir, new_documents, "doc_id")
    if batch is None:
        return
    chunks = chunk_documents(batch, chunk_tokens=chunk_tokens, overlap=overlap)
    cv = hashing_embedder(chunks, id_col=["doc_id", "chunk_id"],
                          text_col="chunk_text")
    _MAXSIM_FAMILY.commit_tables(spark, out_dir,
                                 {"components": maxsim_component_index(cv)})


def load_maxsim_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """The component summary written by :func:`write_maxsim_index` —
    pass as ``maxsim_topk(..., components=...)``. A committed append
    stage is rolled forward first."""
    _MAXSIM_FAMILY.finish(spark, out_dir, as_reader=True)
    return spark.read.parquet(f"{out_dir}/maxsim_components")


def write_bucketed_edges(spark: SparkSession, edges: DataFrame,
                         table: str = "edges_bucketed",
                         n_buckets: int = 8) -> DataFrame:
    """Persist the co-purchase edge table bucketed (and sorted) by ``src``.

    Bucketing is the 100 TB co-location strategy for the serve-side joins
    (SCALE.md): every downstream join or aggregation keyed by ``src`` —
    CF ranking, per-source normalization, edge⋈edge composition — reads
    the bucket layout from the table metadata and skips its shuffle
    entirely (zero Exchange on the bucketed side; two tables bucketed the
    same way join with NO shuffle at all, pinned by
    ``test_bucketed_edges_join_has_no_exchange``). Spark bucketing
    requires a catalog table (``saveAsTable``), not a bare parquet path —
    the bucket spec lives in the metastore.
    """
    (edges.write.mode("overwrite")
     .bucketBy(n_buckets, "src").sortBy("src")
     .format("parquet").saveAsTable(table))
    return spark.table(table)


# ---------------------------------------------------------------------------
# dedup-cluster artifact family (4th persisted index family)
# ---------------------------------------------------------------------------
# The minhash→band→verify→CC chain is the most expensive reusable artifact
# of a training-data pipeline after the ANN indexes: every consumer
# (keep-best canonicalization, decontamination, stats) needs the SAME
# cluster assignment, and recomputing the chain per consumer pays the
# corpus tokenize+minhash+shingle-verify repeatedly. Persist it once:
#
#   clusters   (doc_id, cluster_id)        the assignment (min reachable id)
#   bands      (doc_id, band, key)         banding table — the probe target
#   pairs      (id1, id2, jaccard)         verified near-dup edges
#   params     (n_hashes, n_bands, threshold, shingle_n)  sidecar
#
# Append is O(batch) in the expensive stages: the batch is signed and
# banded alone, probes the STORED band table for collisions, and only the
# adjacency DELTA is Jaccard-verified. Exactness (append == bulk over the
# union, hash-identical) holds by construction because the chain-candidate
# rule is recomputed on exactly the buckets whose adjacency an insertion
# can change — including edges the insertion REMOVES from the candidate
# set (a new doc landing between two chained old docs splits their link;
# a label-only union-find merge cannot express that, which is why the
# artifact stores the verified edge list, not just labels).


def write_dedup_clusters(spark: SparkSession, documents: DataFrame,
                         out_dir: str, n_hashes: int = 8, n_bands: int = 4,
                         threshold: float = 0.5, shingle_n: int = 3,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> None:
    """Bulk-build the near-dup cluster artifact (banded MinHash chain →
    exact n-gram-Jaccard verify → large-star/small-star CC) and persist
    all four tables. One corpus pass for signatures; everything
    downstream is linear in the candidate volume."""
    from .operators.dedup import (bucket_chain_links, connected_components_star,
                                  jaccard_neardup_pairs, minhash_band_keys,
                                  minhash_signatures)

    sigs = minhash_signatures(documents, n_hashes, id_col, text_col)
    bands = minhash_band_keys(sigs, n_hashes, n_bands) \
        .localCheckpoint(eager=True)
    cand = bucket_chain_links(bands).distinct()
    pairs = jaccard_neardup_pairs(documents, threshold, shingle_n,
                                  id_col=id_col, text_col=text_col,
                                  candidates=cand) \
        .localCheckpoint(eager=True)
    clusters = connected_components_star(
        pairs, documents.select(F.col(id_col).alias("doc_id")))
    clusters.write.mode("overwrite").parquet(f"{out_dir}/dedup_clusters")
    bands.write.mode("overwrite").parquet(f"{out_dir}/dedup_bands")
    pairs.write.mode("overwrite").parquet(f"{out_dir}/dedup_pairs")
    spark.createDataFrame(
        [(n_hashes, n_bands, float(threshold), shingle_n)],
        "n_hashes int, n_bands int, threshold double, shingle_n int") \
        .coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/dedup_params")


def load_dedup_clusters(spark: SparkSession, out_dir: str) -> DataFrame:
    """(doc_id, cluster_id) written by :func:`write_dedup_clusters` —
    the table keep-best canonicalization / decontamination serve from.

    A committed-but-unpublished stage is rolled FORWARD first, then the
    stable live directory is read: serving the lazy DataFrame straight
    off ``__staging`` left it bound to a directory the next append
    renames away, failing the reader's next action (ADVICE r8). The
    roll-forward runs under the atomic rename claim (``as_reader=True``,
    ADVICE r9): a lost claim or an in-flight publish falls back to
    reading the live dir READ-ONLY, so concurrent readers can never
    interleave the swap and lose the table. An UNcommitted stage is
    left untouched (it may belong to an in-flight append; only append
    paths discard those), and the live dir is the committed truth by
    the staging invariant."""
    _DEDUP_FAMILY.finish(spark, out_dir, as_reader=True)
    return spark.read.parquet(f"{out_dir}/dedup_clusters")


def append_dedup_clusters(spark: SparkSession, new_documents: DataFrame,
                          corpus: DataFrame, out_dir: str,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> None:
    """Incremental cluster maintenance — O(batch) signature/verify work,
    hash-identical to a bulk rebuild over the union (pinned by
    ``test_dedup_cluster_incremental_append_equals_bulk``).

    ``corpus`` must cover the texts of BOTH stored and new docs: the
    exact-Jaccard verify of a new↔old candidate needs the old doc's
    shingles (only candidate ENDPOINTS are shingled — the semi-join in
    ``jaccard_neardup_pairs`` prunes the rest, so this never re-reads
    the whole stored corpus' text).

    Algorithm (exactness per bucket-adjacency semantics):
    1. replay guard — the family guard drops batch docs already
       clustered (the ledger is ``dedup_clusters.doc_id``).
    2. sign + band ONLY the batch; touched buckets = its (band, key)s.
    3. expand to every bucket of every old doc seen in a touched bucket
       (one hop, no cascade: adjacency only changes in touched buckets,
       and a broken old↔old link must be re-checked against ALL of its
       endpoints' other buckets before being declared removed).
    4. recompute chain adjacency over the expanded buckets twice — old
       members only vs old+new — the set diffs are exactly the candidate
       edges the batch adds/removes under the bulk rule (added edges
       always involve a new doc; removed edges are always old↔old).
    5. verify ONLY added candidates; drop stored pairs matching removed
       candidates.
    6. labels: if nothing was removed, a supernode CC over (new docs ∪
       affected old cluster labels) merges against stored labels —
       bounded by the batch. If a verified edge WAS removed a cluster
       may split, so CC reruns over the full (small, near-dup-edge-
       sized) pair table — still no corpus re-verify.

    Writes: bands appended; pairs + clusters rewritten (the label table
    rewrite is a linear join, dwarfed by the tokenize+verify it avoids;
    a production layout would partition clusters and rewrite only
    remapped partitions)."""
    from .operators.dedup import (bucket_chain_links, connected_components_star,
                                  jaccard_neardup_pairs, minhash_band_keys,
                                  minhash_signatures)

    batch = _DEDUP_FAMILY.new_rows(spark, out_dir, new_documents, id_col)
    if batch is None:
        return
    p = spark.read.parquet(f"{out_dir}/dedup_params").collect()[0]
    stored_clusters = spark.read.parquet(f"{out_dir}/dedup_clusters")
    stored_bands = spark.read.parquet(f"{out_dir}/dedup_bands")
    stored_pairs = spark.read.parquet(f"{out_dir}/dedup_pairs")

    sigs_b = minhash_signatures(batch, p.n_hashes, id_col, text_col)
    bands_b = minhash_band_keys(sigs_b, p.n_hashes, p.n_bands) \
        .localCheckpoint(eager=True)

    touched = bands_b.select("band", "key").distinct()
    affected_old = (stored_bands.join(touched, ["band", "key"], "left_semi")
                    .select("doc_id").distinct())
    expanded = (stored_bands.join(affected_old, "doc_id", "left_semi")
                .select("band", "key").distinct()
                .unionByName(touched).distinct()
                .localCheckpoint(eager=True))
    old_members = stored_bands.join(expanded, ["band", "key"], "left_semi") \
        .localCheckpoint(eager=True)
    all_members = old_members.unionByName(
        bands_b.join(expanded, ["band", "key"], "left_semi"))

    old_adj = bucket_chain_links(old_members).distinct()
    new_adj = bucket_chain_links(all_members).distinct() \
        .localCheckpoint(eager=True)
    added = new_adj.join(old_adj, ["id1", "id2"], "left_anti")
    removed = old_adj.join(new_adj, ["id1", "id2"], "left_anti")

    verified_added = jaccard_neardup_pairs(
        corpus, p.threshold, p.shingle_n, id_col=id_col, text_col=text_col,
        candidates=added).localCheckpoint(eager=True)
    removed_verified = stored_pairs.join(removed, ["id1", "id2"], "left_semi") \
        .localCheckpoint(eager=True)
    final_pairs = (stored_pairs.join(removed, ["id1", "id2"], "left_anti")
                   .unionByName(verified_added)
                   .localCheckpoint(eager=True))

    batch_ids = bands_b.select("doc_id").distinct()
    if removed_verified.isEmpty():
        # common path: edges only grew — merge against stored labels with
        # a supernode CC bounded by the batch's candidate fan-out
        lab = stored_clusters.select(F.col("doc_id").alias("__d"),
                                     F.col("cluster_id").alias("__l"))
        m = (verified_added.select("id1", "id2")
             .join(lab.withColumnRenamed("__d", "id1"), "id1", "left")
             .withColumn("u", F.coalesce("__l", "id1")).drop("__l")
             .join(lab.withColumnRenamed("__d", "id2"), "id2", "left")
             .withColumn("v", F.coalesce("__l", "id2")).drop("__l")
             .select(F.col("u").alias("id1"), F.col("v").alias("id2")))
        nodes = (batch_ids.unionByName(m.select(F.col("id1").alias("doc_id")))
                 .unionByName(m.select(F.col("id2").alias("doc_id")))
                 .distinct())
        cc = connected_components_star(m, nodes) \
            .localCheckpoint(eager=True)
        new_rows = batch_ids.join(cc, "doc_id", "left") \
            .select("doc_id", F.coalesce("cluster_id", "doc_id")
                    .alias("cluster_id"))
        remap = (cc.filter(F.col("cluster_id") != F.col("doc_id"))
                 .select(F.col("doc_id").alias("cluster_id"),
                         F.col("cluster_id").alias("__new")))
        clusters = (stored_clusters.join(F.broadcast(remap), "cluster_id",
                                         "left")
                    .select("doc_id",
                            F.coalesce("__new", "cluster_id")
                            .alias("cluster_id"))
                    .unionByName(new_rows))
    else:
        # a verified edge disappeared: a cluster may SPLIT — rerun CC over
        # the full near-dup edge table (small) with all known nodes
        nodes = stored_clusters.select("doc_id").unionByName(batch_ids) \
            .distinct()
        clusters = connected_components_star(final_pairs, nodes)

    clusters = clusters.localCheckpoint(eager=True)
    # all three tables move through ONE staged commit: stage, mark,
    # publish (swap clusters/pairs, move the band files in) — a crash at any
    # point leaves the artifact untouched or fully updated, never the
    # stale-bands/new-clusters mix the old in-place writes risked
    _DEDUP_FAMILY.commit_tables(spark, out_dir, {
        "clusters": clusters, "pairs": final_pairs, "bands": bands_b})


# ---------------------------------------------------------------------------
# staged multi-table commits
# ---------------------------------------------------------------------------


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class) for ``path`` via the JVM Hadoop API —
    works on local FS, HDFS, and object stores alike (unlike driver-side
    ``glob``, which silently returns nothing off the local FS)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def _move_files(fs, P, src: str, dst: str) -> None:
    """Move every data file under ``src`` to the same relative path under
    ``dst``, one rename each, creating parent dirs. ``_``/``.``-prefixed
    names (``_SUCCESS``, checksum files) are skipped. A file already
    moved is gone from ``src``, so a re-run moves only what is left."""
    if not fs.exists(P(src)):
        return
    for st in fs.listStatus(P(src)):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        s, d = f"{src}/{name}", f"{dst}/{name}"
        if st.isDirectory():
            _move_files(fs, P, s, d)
        elif not fs.exists(P(d)):
            fs.mkdirs(P(dst))
            if not fs.rename(st.getPath(), P(d)):
                raise RuntimeError(f"publish could not move {s} to {d}")


class _StagedFamily:
    """One staged-commit family: the tables of a persisted artifact that
    change together in one append — the IVF lists, the PQ codes, the
    IVF-PQ codes, the MaxSim components, LSH buckets + ledger, its
    compaction, the dedup cluster/band/pair triple, the KN/LID counts +
    ledger pairs, BM25 postings + df + stats. Updating them one by one
    risks double-applying a batch on crash-retry (one half landed, the
    other didn't) or destroying a live table mid-overwrite (ADVICE r7).

    Every append runs the same three steps: :meth:`new_rows` (the replay
    guard) keeps the batch rows whose id is not in the family's
    ``ledger``; :meth:`commit_tables` writes every updated table under
    ``<base>__staging/<sub>`` in the live table's layout (partition
    columns ``by[sub]``); :meth:`mark` drops a ``_COMMIT`` marker — the
    single commit point — and :meth:`finish` publishes:

    - ``swaps``: {stage-subdir: live dir} — the staged dir is renamed
      over the live one.
    - ``appends``: {stage-subdir: live dir} — each staged data file is
      renamed to the same relative path under the live dir
      (:func:`_move_files`). Spark names every part file uniquely, so
      each row sits in exactly one file: a torn publish leaves the
      unmoved files in the stage and a re-run moves just those — no row
      is lost and none is doubled.

    Both are renames only: the publish runs no Spark job. Every step is
    idempotent, and the marker is deleted LAST: its absence means the
    live dirs are consistent. Readers rely
    on: ``_COMMIT`` under ``__staging`` or its ``__publishing`` sibling
    → the staged tables are the committed truth; otherwise the live
    dirs are. Live names are RELATIVE to the artifact root passed at
    call time, and the crash matrix (claim race, stale marker, partial
    rename, vanished stage) lives here once for every family.
    """

    def __init__(self, base: str, swaps: dict | None = None,
                 appends: dict | None = None, ledger: tuple | None = None,
                 by: dict | None = None):
        self.base = base
        self.swaps = swaps or {}
        self.appends = appends or {}
        self.ledger = ledger   # (live table, id column) the guard anti-joins
        self.by = by or {}     # {stage-subdir: partition columns}

    def staging(self, out_dir: str) -> str:
        return f"{out_dir}/{self.base}__staging"

    def new_rows(self, spark: SparkSession, out_dir: str, batch: DataFrame,
                 id_col: str) -> DataFrame | None:
        """The replay guard of every append: roll an earlier stage
        forward (or discard an uncommitted one), then keep the ``batch``
        rows whose ``id_col`` the ledger column does not hold,
        materialized once. None when nothing is new, so a replayed or
        empty batch is a no-op."""
        self.finish(spark, out_dir)
        table, col = self.ledger
        stored = spark.read.parquet(f"{out_dir}/{table}") \
            .select(F.col(col).alias(id_col))
        new = batch.join(stored, id_col, "left_anti").localCheckpoint(eager=True)
        return None if new.isEmpty() else new

    def finish(self, spark: SparkSession, out_dir: str,
               as_reader: bool = False) -> bool:
        """Roll forward a committed stage (or discard an uncommitted
        one).

        Concurrency contract (ADVICE r9): publish steps are idempotent
        under crash-RETRY but not under concurrent INTERLEAVING, so every
        publish first CLAIMS the stage by atomically renaming
        ``…__staging`` → ``…__publishing``. Exactly one claimer wins the
        rename; the publish then runs on the claimed dir.

        - ``as_reader=True`` (load paths, which roll committed stages
          forward and then read the stable live dir, never the stage a
          later append renames away — ADVICE r8): a lost claim, or a
          pre-existing committed ``__publishing`` dir (another actor's
          in-flight or crashed publish), returns **False** — the caller
          must fall back to reading the live dir read-only and MUST NOT
          publish. An uncommitted stage is left alone (it may belong to
          an in-flight append). A crashed claimed publish is recovered
          by the next maintenance call (append/vacuum), never by readers
          racing each other. One fail-LOUD window remains: a publisher
          that crashed between a swap's delete-live and rename leaves
          the live dir missing until maintenance rolls the claimed
          stage forward — readers then error on the read (never serve
          stale/partial data silently).
        - ``as_reader=False`` (append paths + vacuum — ONE maintenance
          actor per artifact root at a time): a committed
          ``__publishing`` leftover is rolled forward first, uncommitted
          debris is deleted; a lost claim means a concurrent reader won
          it, so this path waits (bounded) for that publish to complete.

        Returns True when, on return, the live dirs are the committed
        truth; False only in the reader-fallback case.
        """
        import time as _time

        fs, P = _hadoop_fs(spark, out_dir)
        staging = self.staging(out_dir)
        publishing = f"{out_dir}/{self.base}__publishing"
        if fs.exists(P(f"{publishing}/_COMMIT")):
            if as_reader:
                return False   # claimed publish in flight (or crashed —
                #                maintenance recovers it); live is readable
            self._publish(fs, P, publishing, out_dir)
        elif fs.exists(P(publishing)) and not as_reader:
            # marker gone → that publish completed; the dir is debris from a
            # crash between the marker delete and the dir delete
            fs.delete(P(publishing), True)
        if not fs.exists(P(f"{staging}/_COMMIT")):
            if fs.exists(P(staging)) and not as_reader:
                fs.delete(P(staging), True)  # uncommitted debris from a
                #                              crashed append — never truth
            return True
        if not fs.rename(P(staging), P(publishing)):
            # lost the claim: a concurrent actor renamed it first
            if as_reader:
                return False
            for _ in range(120):             # maintenance path: wait for the
                if not fs.exists(P(f"{publishing}/_COMMIT")) \
                        and not fs.exists(P(f"{staging}/_COMMIT")):
                    return True              # winner's publish to finish
                _time.sleep(0.5)
            raise RuntimeError(
                f"timed out waiting for a concurrent publish of {staging}")
        self._publish(fs, P, publishing, out_dir)
        return True

    def _publish(self, fs, P, stage: str, out_dir: str) -> None:
        """Publish a COMMITTED stage dir by renames alone."""
        for sub, live in self.swaps.items():
            staged, target = P(f"{stage}/{sub}"), P(f"{out_dir}/{live}")
            if fs.exists(staged):          # swap not yet done (or mid-way)
                if fs.exists(target):
                    fs.delete(target, True)
                fs.rename(staged, target)
        for sub, live in self.appends.items():
            _move_files(fs, P, f"{stage}/{sub}", f"{out_dir}/{live}")
        fs.delete(P(f"{stage}/_COMMIT"), False)  # marker last: its absence
        fs.delete(P(stage), True)                # means live is consistent

    def mark(self, spark: SparkSession, out_dir: str) -> None:
        """Drop ``_COMMIT`` over an already-written stage — THE commit
        point — then roll forward. Every declared table must still
        exist at the mark: a concurrent vacuum/cleanup that deleted the
        stage mid-write would otherwise be papered over by ``create()``
        recreating parent dirs, leaving a marker over an empty stage —
        the finish would then "publish" nothing and silently drop the
        batch. Fail loudly instead."""
        staging = self.staging(out_dir)
        fs, P = _hadoop_fs(spark, out_dir)
        for sub in list(self.swaps) + list(self.appends):
            if not fs.exists(P(f"{staging}/{sub}")):
                raise RuntimeError(
                    f"staged table vanished before commit: "
                    f"{staging}/{sub} (concurrent cleanup? one "
                    "maintenance actor per artifact root at a time)")
        fs.create(P(f"{staging}/_COMMIT")).close()   # the commit point
        self.finish(spark, out_dir)

    def commit_tables(self, spark: SparkSession, out_dir: str,
                      tables: dict[str, DataFrame]) -> None:
        """Stage every table in its live layout — :func:`_write_table`
        with the family's partition columns for it, so a flat table
        keeps the partitioning and sort order of the DataFrame as given
        — then :meth:`mark`. The last step of every append, after the
        :meth:`new_rows` guard."""
        staging = self.staging(out_dir)
        for sub, df in tables.items():
            _write_table(df, f"{staging}/{sub}", self.by.get(sub, ()))
        self.mark(spark, out_dir)


# A ledger is the live table itself where that table holds one row per
# id; otherwise it is a narrow id table the family appends to.
_IVF_FAMILY = _StagedFamily(
    "ivf", appends={"lists": "ivf_lists"}, ledger=("ivf_lists", "vid"),
    by={"lists": ("centroid_id",)})

_PQ_FAMILY = _StagedFamily(
    "pq", appends={"codes": "pq_codes"}, ledger=("pq_codes", "vec_id"))

_IVFPQ_FAMILY = _StagedFamily(
    "ivfpq", appends={"codes": "ivfpq_codes"}, ledger=("ivfpq_codes", "vid"),
    by={"codes": ("centroid_id",)})

# the MaxSim summary holds one row per (doc, pos) and every doc has a pos=0
# row, so its pos=0 partition is the one-row-per-doc ledger
_MAXSIM_FAMILY = _StagedFamily(
    "maxsim", appends={"components": "maxsim_components"},
    ledger=("maxsim_components/pos=0", "cand"), by={"components": ("pos",)})

_LSH_FAMILY = _StagedFamily(
    "lsh", appends={"buckets": "lsh_buckets", "docs": "lsh_docs"},
    ledger=("lsh_docs", "doc_id"))

_LSH_COMPACT_FAMILY = _StagedFamily(
    "lsh_compact", swaps={"buckets": "lsh_buckets", "docs": "lsh_docs"})

_DEDUP_FAMILY = _StagedFamily(
    "dedup",
    swaps={"clusters": "dedup_clusters", "pairs": "dedup_pairs"},
    appends={"bands": "dedup_bands"}, ledger=("dedup_clusters", "doc_id"))

_KN_FAMILY = _StagedFamily(
    "kn_counts", swaps={"counts": "kn_counts"}, appends={"docs": "kn_docs"},
    ledger=("kn_docs", "doc_id"))

_LID_FAMILY = _StagedFamily(
    "lid_counts", swaps={"counts": "lid_counts"}, appends={"docs": "lid_docs"},
    ledger=("lid_docs", "doc_id"))

_BM25_FAMILY = _StagedFamily(
    "bm25", swaps={"df": "bm25_df", "stats": "bm25_stats"},
    appends={"postings": "bm25_postings"}, ledger=("bm25_postings", "cand"))

# every family by stage name, used by vacuum_staging's recovery
_FAMILIES = {f.base: f for f in (
    _IVF_FAMILY, _PQ_FAMILY, _IVFPQ_FAMILY, _MAXSIM_FAMILY, _LSH_FAMILY,
    _LSH_COMPACT_FAMILY, _DEDUP_FAMILY, _KN_FAMILY, _LID_FAMILY,
    _BM25_FAMILY)}


# ---------------------------------------------------------------------------
# count-statistic model artifacts (KN LM, LID profiles)
# ---------------------------------------------------------------------------
# Both models are pure functions of an ADDITIVE sufficient statistic (bigram
# counts / per-language gram counts), so the artifact stores the counts plus
# a doc-id ledger for replay protection; append = count batch → union →
# re-sum — O(batch) compute, and the merged counts derive a model
# bit-identical to a bulk retrain (shared derivation in operators/textops).
# Counts + ledger move together through one staged commit (counts swap,
# ledger files moved in): a crash at ANY point either leaves the artifact
# untouched or the batch fully applied. Both appends are _append_counts.


def _append_counts(spark: SparkSession, family: _StagedFamily,
                   new_documents: DataFrame, out_dir: str, id_col: str,
                   count) -> None:
    """The one count-artifact append: guard the batch, count only its
    new docs with ``count`` (key columns…, count column last), re-sum
    the union with the stored counts, then commit counts + ledger. The
    merge reads the live counts into the stage, and the swap runs only
    at ``mark``, so nothing reads a table it overwrites."""
    batch = family.new_rows(spark, out_dir, new_documents, id_col)
    if batch is None:
        return
    counts = count(batch)
    *keys, value = counts.columns
    stored = spark.read.parquet(f"{out_dir}/{family.swaps['counts']}")
    family.commit_tables(spark, out_dir, {
        "counts": (stored.unionByName(counts).groupBy(*keys)
                   .agg(F.sum(value).alias(value))),
        "docs": batch.select(F.col(id_col).alias("doc_id"))})


def write_kn_lm(spark: SparkSession, documents: DataFrame, out_dir: str,
                id_col: str = "doc_id", text_col: str = "text") -> None:
    """Bulk-build the KN word-bigram count artifact: (w1, w2, c) counts
    plus the indexed doc ledger."""
    from .operators.textops import kn_bigram_counts

    kn_bigram_counts(documents, text_col) \
        .write.mode("overwrite").parquet(f"{out_dir}/kn_counts")
    documents.select(F.col(id_col).alias("doc_id")) \
        .write.mode("overwrite").parquet(f"{out_dir}/kn_docs")


def load_kn_lm(spark: SparkSession, out_dir: str) -> DataFrame:
    """Derive the serving model from the stored counts — one
    vocab²-bounded pass, no corpus re-read."""
    from .operators.textops import kn_model_from_counts

    _KN_FAMILY.finish(spark, out_dir, as_reader=True)
    return kn_model_from_counts(spark.read.parquet(f"{out_dir}/kn_counts"))


def append_kn_lm(spark: SparkSession, new_documents: DataFrame,
                 out_dir: str, id_col: str = "doc_id",
                 text_col: str = "text") -> None:
    """O(batch) incremental LM maintenance: replay-guard the batch
    against the doc ledger (a re-appended doc is a no-op, mirroring
    ``append_bm25_index``), count ONLY the batch, merge by re-summing
    the union — counts are additive, so merged == bulk exactly.
    Counts + ledger move together through the staged commit
    (``_KN_FAMILY``): a crash at ANY point either leaves the artifact
    untouched or the batch fully applied — never the double-count /
    destroyed-counts windows of a naive two-file write.
    """
    from .operators.textops import kn_bigram_counts

    _append_counts(spark, _KN_FAMILY, new_documents, out_dir, id_col,
                   lambda b: kn_bigram_counts(b, text_col))


def write_lid_profiles(spark: SparkSession, documents: DataFrame,
                       out_dir: str, lang_col: str = "lang",
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3) -> None:
    """Bulk-build the LID gram-count artifact: (lang, gram, cnt) plus
    the indexed doc ledger."""
    from .operators.textops import lid_gram_counts

    lid_gram_counts(documents, lang_col, text_col, n) \
        .write.mode("overwrite").parquet(f"{out_dir}/lid_counts")
    documents.select(F.col(id_col).alias("doc_id")) \
        .write.mode("overwrite").parquet(f"{out_dir}/lid_docs")


def load_lid_profiles(spark: SparkSession, out_dir: str,
                      alpha: float = 1.0,
                      max_grams_per_lang: int = 8192) -> DataFrame:
    """Derive the (lang, gram, logp, oov) profile table from the stored
    counts — bounded by |langs| × charset^n, no corpus re-read."""
    from .operators.textops import lid_profiles_from_counts

    _LID_FAMILY.finish(spark, out_dir, as_reader=True)
    return lid_profiles_from_counts(
        spark.read.parquet(f"{out_dir}/lid_counts"),
        alpha, max_grams_per_lang)


def append_lid_profiles(spark: SparkSession, new_documents: DataFrame,
                        out_dir: str, lang_col: str = "lang",
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> None:
    """O(batch) incremental profile maintenance — same additive-counts
    merge and staged-commit crash safety as :func:`append_kn_lm`."""
    from .operators.textops import lid_gram_counts

    _append_counts(spark, _LID_FAMILY, new_documents, out_dir, id_col,
                   lambda b: lid_gram_counts(b, lang_col, text_col, n))


# ---------------------------------------------------------------------------
# dataset maintenance: small-file compaction
# ---------------------------------------------------------------------------


def compact_parquet(spark: SparkSession, in_dir: str, out_dir: str,
                    target_rows_per_file: int = 1_000_000,
                    sort_cols: list[str] | None = None) -> dict:
    """OPTIMIZE-style compaction: rewrite a parquet dataset into
    ~``target_rows_per_file``-row files, optionally range-sorted on
    ``sort_cols`` (pair with ``layout.with_zorder_key`` for 2-D
    skipping). Long-lived incremental sinks accumulate small files —
    every appended batch (the staged index appends here, whose files
    move into the live table; every streaming micro-batch in
    production) adds at least one file per partition, and at 100 TB
    scan-planning cost and footer I/O become O(files), not O(bytes). Returns {files_in, files_out, rows}.

    Scale shape: one read → one exchange (repartitionByRange when
    sorting — distributed sampled-boundary sort, NOT a global
    single-task sort — else a round-robin repartition) → one write.
    Row-count preserving by construction; content equality is
    test-pinned. The file census uses the scan's own file listing
    (``DataFrame.inputFiles``), which works on HDFS/object stores, not
    a driver-local directory walk; ``out_dir == in_dir`` is rejected —
    the overwrite would destroy the input while the lazy read still
    references it.
    """
    import math

    fs, P = _hadoop_fs(spark, in_dir)
    q_in = fs.makeQualified(P(in_dir)).toString()
    q_out = fs.makeQualified(P(out_dir)).toString()
    if q_in.rstrip("/") == q_out.rstrip("/"):
        raise ValueError(
            f"compact_parquet: out_dir resolves to in_dir ({q_in}); "
            "overwrite-while-reading would destroy the dataset — "
            "compact to a fresh path and swap")
    df = spark.read.parquet(in_dir)
    files_in = len(df.inputFiles())
    rows = df.count()
    n_files = max(1, math.ceil(rows / max(1, target_rows_per_file)))
    if sort_cols:
        out = df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols]) \
            .sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(out_dir)
    files_out = len(spark.read.parquet(out_dir).inputFiles())
    return {"files_in": files_in, "files_out": files_out, "rows": rows}


# ---------------------------------------------------------------------------
# dataset maintenance: staging vacuum + index health stats
# ---------------------------------------------------------------------------


def vacuum_staging(spark: SparkSession, out_dir: str,
                   ttl_seconds: int = 86400) -> dict:
    """Garbage-collect orphaned ``*__staging`` directories under an
    artifact root.

    COMMITTED stages of a RECOGNIZED family name (any ``_FAMILIES``
    entry: the IVF, PQ, IVF-PQ, MaxSim and LSH appends, the LSH
    compaction, the dedup triple, the KN/LID counts, BM25 — every
    append runs guard → stage → ``mark`` through one of them) are
    rolled forward (published by renames) through
    that family's :meth:`_StagedFamily.finish`, never deleted —
    they are the committed truth of an interrupted append. The finish
    runs whenever ``_COMMIT`` exists REGARDLESS of which staged subdirs
    remain (ADVICE r9): a crash between the publish renames and the
    marker delete leaves a stale ``_COMMIT`` over an empty stage, and
    the finish handles exactly that state idempotently — keeping it
    "for safety" would leave the debris in place forever. Only a
    committed stage whose NAME matches no known family is KEPT, loudly
    counted under ``kept`` — publishing it through the wrong protocol
    would delete the marker without moving anything and erase that
    family's committed truth. ``…__publishing`` siblings (the
    rename-claimed publish work dirs, ADVICE r9) are recovered the
    same way: committed → rolled forward; marker-less → completed-
    publish debris, deleted by the family finish. UNcommitted stages
    older than ``ttl_seconds`` are deleted: debris from a writer that
    crashed before its commit point. The age is the stage's RECURSIVE
    max modification time — task writes land in grandchild files
    (``subdir/_temporary/...``) that never refresh the staging dir's
    own mtime, so a top-level-mtime TTL would delete a stage mid-write
    under a slow live writer. Returns {published, deleted, kept}.

    Driver-side metadata only — no Spark job: a publish is renames
    alone. Like the staged-commit protocol it cleans up after, vacuum
    assumes ONE maintenance actor per artifact root at a time (see
    ``_StagedFamily.finish``)."""
    import time as _time

    fs, P = _hadoop_fs(spark, out_dir)
    root = P(out_dir)
    published = deleted = kept = 0
    if not fs.exists(root):
        return {"published": 0, "deleted": 0, "kept": 0}
    now_ms = int(_time.time() * 1000)

    def _max_mtime(path) -> int:
        newest = 0
        stack = [path]
        while stack:
            cur = stack.pop()
            for child in fs.listStatus(cur):
                newest = max(newest, child.getModificationTime())
                if child.isDirectory():
                    stack.append(child.getPath())
        return newest

    finished: set = set()
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory():
            continue
        if name.endswith("__staging"):
            base = name[: -len("__staging")]
        elif name.endswith("__publishing"):
            base = name[: -len("__publishing")]
        else:
            continue
        stage = f"{out_dir}/{name}"
        if fs.exists(P(f"{stage}/_COMMIT")):
            if base in finished:     # sibling already rolled this family
                continue             # forward in this very sweep
            if base in _FAMILIES:
                # idempotent, stale markers over emptied stages included
                _FAMILIES[base].finish(spark, out_dir)
                finished.add(base)
                published += 1
            else:
                kept += 1        # committed but unrecognized: never touch
        elif name.endswith("__publishing"):
            # marker gone → that publish completed; the dir is debris
            # from a crash between the marker delete and the dir delete
            fs.delete(st.getPath(), True)
            deleted += 1
        elif now_ms - max(st.getModificationTime(),
                          _max_mtime(st.getPath())) > ttl_seconds * 1000:
            fs.delete(st.getPath(), True)
            deleted += 1
        else:
            kept += 1            # possibly a live writer — leave it
    return {"published": published, "deleted": deleted, "kept": kept}


def index_stats(spark: SparkSession, index: DataFrame,
                key_cols: list[str]) -> DataFrame:
    """Health profile of a persisted index's bucket/list layout:
    (n_keys, total_rows, min_rows, max_rows, avg_rows, p99_rows,
    skew = max/avg) over the ``key_cols`` grouping — the number an
    operator reads before choosing nprobe / deciding a rebuild (a
    skewed IVF list or LSH bucket turns a probe into a scan; at 100 TB
    this table IS the retrain trigger).

    Scale shape: one partial-aggregated exchange on the key columns to
    |keys| rows, then a single-row global aggregate; the nearest-rank
    p99 runs on the bounded per-key count table."""
    per_key = index.groupBy(*[F.col(c) for c in key_cols]) \
        .agg(F.count(F.lit(1)).alias("rows"))
    from pyspark.sql import Window

    ranked = (per_key
              .withColumn("rn", F.row_number().over(
                  Window.orderBy(F.col("rows").asc())))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy(F.lit(1)))))
    p99 = (ranked.filter(F.col("rn") == F.ceil(F.col("n") * 0.99 - 1e-9))
           .select(F.col("rows").alias("p99_rows")))
    from .functions.portable import fround

    agg = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("rows").alias("total_rows"),
        F.min("rows").alias("min_rows"),
        F.max("rows").alias("max_rows"))
    # LEFT join, not crossJoin: an EMPTY index yields one global-agg row
    # (n_keys=0) with a null p99 — a crossJoin against the empty p99 side
    # returned ZERO rows, vanishing exactly when the index is at its worst
    return (agg.join(p99, F.lit(True), "left")
            .select("n_keys", "total_rows", "min_rows", "max_rows",
                    "p99_rows",
                    fround(F.col("total_rows").cast("double")
                           / F.col("n_keys"), 6).alias("avg_rows"),
                    fround(F.col("max_rows").cast("double")
                           * F.col("n_keys") / F.col("total_rows"), 6)
                    .alias("skew")))
