"""EP1 end-to-end pipeline test: ingest → sample → edges → index (A3/A4),
then an EP2 hybrid query through the CLI path over the written tables."""

import gzip

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from hybrid_recommendation_system_using_vector_db_spark.pipeline import build_index, load_index

META = """Id:   0
ASIN: A1
  title: Calculus Made Easy
  group: Book
  similar: 2 A2 A3
  categories: 1
   |Books[1]|Math[2]
Id:   1
ASIN: A2
  title: Advanced Calculus
  group: Book
  similar: 1 A1
  categories: 1
   |Books[1]|Math[2]
Id:   2
ASIN: A3
  title: Linear Algebra Done Right
  group: Book
  similar: 2 A1 A9
  categories: 1
   |Books[1]|Math[2]
Id:   3
ASIN: A4
  title: Cooking for Two
  group: Book
  similar: 0
  categories: 1
   |Books[1]|Cooking[3]
"""


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    meta = tmp_path_factory.mktemp("meta") / "amazon-meta.txt.gz"
    with gzip.open(meta, "wt") as f:
        f.write(META)
    out = tmp_path_factory.mktemp("idx")
    counts = build_index(spark, str(meta), str(out), sample_size=100)
    assert counts == {"products": 4, "edges": 4, "index": 4}
    return str(out)


def test_index_tables_shape(spark, index_dir):
    t = load_index(spark, index_dir)
    assert set(t["index"].columns) == {"asin", "doc", "title", "group", "embedding", "bucket"}
    # A9 not in sample → edge dropped by the B5 semi-join
    pairs = {(r.src, r.dst) for r in t["edges"].collect()}
    assert pairs == {("A1", "A2"), ("A1", "A3"), ("A2", "A1"), ("A3", "A1")}
    # the bucket reads back as the written '0'/'1' string, leading zeros
    # included (a partition directory would read '0101' back as 101)
    from hybrid_recommendation_system_using_vector_db_spark.operators.similarity import (
        with_lsh_bucket)
    from hybrid_recommendation_system_using_vector_db_spark.pipeline import INDEX_LSH_BITS
    assert t["index"].schema["bucket"].dataType.simpleString() == "string"
    got = {(r.asin, r.bucket) for r in t["index"].collect()}
    want = {(r.asin, r.bucket) for r in with_lsh_bucket(
        t["index"].drop("bucket"), "embedding", INDEX_LSH_BITS).collect()}
    assert got == want and all(len(b) == INDEX_LSH_BITS for _, b in got)


def test_cli_recommend_query(spark, index_dir):
    """EP2 through the CLI's plan builder: substring query → hybrid top-k."""
    from hybrid_recommendation_system_using_vector_db_spark.cli import _recommend

    out = _recommend(spark, index_dir, "calculus", 5).collect()
    assert out, "substring query must resolve and return recommendations"
    # query resolves to shortest matching title: 'Advanced Calculus' (A2);
    # its top recommendation must include co-purchased A1
    assert any(r.cand == "A1" for r in out)
    for r in out:
        assert 0.0 <= r.hybrid_score <= 1.0


def test_overwrite_semantics(spark, index_dir, tmp_path_factory):
    """A4 destroy-and-recreate: rebuilding into the same dir replaces tables."""
    t1 = load_index(spark, index_dir)["products"].count()
    meta = tmp_path_factory.mktemp("meta2") / "m.txt"
    meta.write_text(META)
    counts = build_index(spark, str(meta), index_dir, sample_size=2)
    assert counts["products"] == 2
    assert load_index(spark, index_dir)["products"].count() == 2 < t1 + 1


def test_eval_report_sink(tmp_path):
    """A5 report sink: CSV artifacts + console table mirror the reference's
    plot_precision_k / plot_runtime_total / print_results surfaces
    (Hybrid_Recom_vecdb.py:294-331); PNGs only when matplotlib exists."""
    import csv

    from hybrid_recommendation_system_using_vector_db_spark.reports import print_results, write_eval_report

    rows = [
        {"model": "content", "k": 5, "precision": 0.2},
        {"model": "content", "k": 10, "precision": 0.15},
        {"model": "hybrid", "k": 5, "precision": 0.3},
        {"model": "hybrid", "k": 10, "precision": 0.25},
    ]
    runtimes = {"content": 1.25, "hybrid": 2.5}
    written = write_eval_report(rows, str(tmp_path), runtimes, num_queries=40)
    assert "precision_k.csv" in written and "runtime_total.csv" in written
    with open(written["precision_k.csv"]) as f:
        got = list(csv.DictReader(f))
    assert {(r["model"], int(r["k"]), float(r["precision"])) for r in got} == \
        {(r["model"], r["k"], r["precision"]) for r in rows}
    with open(written["runtime_total.csv"]) as f:
        rt = {r["model"]: float(r["total_time_s"]) for r in csv.DictReader(f)}
    assert rt == runtimes
    try:
        import matplotlib  # noqa: F401
        assert "precision_k.png" in written
    except ImportError:
        assert "precision_k.png" not in written

    text = print_results(rows, runtimes, num_queries=40)
    assert "Precision@K" in text and "0.3000" in text and "Queries: 40" in text


def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    """The on-disk IVF index must prune to the probed centroid partitions
    at the FILE level (PartitionFilters on the scan) — nprobe is an I/O
    dial at scale only if the unprobed lists are never read."""
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.pipeline import (
        load_ivf_index, write_ivf_index)
    from hybrid_recommendation_system_using_vector_db_spark.plans import formatted_plan

    emb = load_table(spark, sf_dir, "embeddings")
    cents = write_ivf_index(spark, emb, str(tmp_path), n_centroids=8)
    lists, cents_back = load_ivf_index(spark, str(tmp_path))
    assert [c[0] for c in cents_back] == [c[0] for c in sorted(cents)]

    probed = lists.filter(F.col("centroid_id").isin([0, 3]))
    plan = formatted_plan(probed)
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan
    # pruning is real: the probed scan reads strictly fewer rows
    assert 0 < probed.count() < lists.count()
    # round-trip: every vector landed in exactly one list
    assert lists.count() == emb.count()
    assert lists.select("vid").distinct().count() == emb.count()


def _gen_meta_blocks(n: int):
    """Deterministic ≥n-record amazon-meta dump with adversarial blocks
    (VERDICT r5 next #7): missing titles, empty titles, non-numeric
    category counts, huge similar lists, regex-special title characters.
    Returns (text, valid_asins, similar_map) so the test can compute the
    exact expected product/edge counts independently of the engine."""
    asin = lambda i: f"B{i:06d}"  # noqa: E731
    adjs = ["Red", "Quantum", "Practical", "Modern", "Lost", "Silent"]
    nouns = ["Gardens", "Circuits", "Cooking", "History", "Algebra", "Rivers"]
    blocks, valid, similar_map = [], set(), {}
    for i in range(n):
        a = asin(i)
        lines = [f"Id:   {i}", f"ASIN: {a}"]
        if i % 97 == 0:
            pass  # missing title entirely → dropped (B1)
        elif i % 97 == 50:
            lines.append("  title: ")  # empty title → dropped (B1)
        elif i == 42:
            lines.append("  title: Spectral Graph Omnibus")
        elif i in (100, 200, 300):
            # co-purchased neighbors share nearly all doc tokens with the
            # planted query target (title words, group, category): strong
            # on BOTH fusion sides, the regime real recommendations rank
            # in — the 64-bucket hashing embedder needs the heavy overlap
            # to dominate boilerplate-token collisions
            lines.append(f"  title: Spectral Graph Omnibus vol {i}")
        else:
            lines.append(f"  title: {adjs[i % 6]} {nouns[(i // 6) % 6]}"
                         f" (vol. {i}) [{i % 7}]")
        grp = "Music" if (i % 3 == 0 or i in (100, 200, 300)) else "Book"
        lines.append(f"  group: {grp}")
        if i == 42:
            sim = [asin(100), asin(200), asin(300)]
        elif i in (100, 200, 300):
            sim = [asin(42), asin(i + 1)]
        elif i % 500 == 0:
            sim = [asin((i * 7 + j) % n) for j in range(200)]  # huge list
        elif i % 11 == 0:
            sim = []
        else:
            sim = [asin((i + 1) % n), asin((i * 13) % n)]
        lines.append(f"  similar: {len(sim)}" + ("" if not sim else " " + " ".join(sim)))
        if i % 101 == 0:
            lines.append("  categories: many")  # non-numeric count → 0
        elif i in (100, 200, 300):
            lines.append("  categories: 1")
            lines.append("   |Music[1]|Sub6[2]")  # match the planted target
        else:
            lines.append("  categories: 1")
            lines.append(f"   |{'Books' if i % 3 else 'Music'}[1]|Sub{i % 9}[2]")
        blocks.append("\n".join(lines))
        if not (i % 97 == 0 or i % 97 == 50):
            valid.add(a)
            similar_map[a] = sim
    return "\n".join(blocks) + "\n", valid, similar_map


def test_ep1_end_to_end_at_dump_shape(spark, tmp_path):
    """EP1 at real-dump shape (VERDICT r5 next #7): 50k-record synthetic
    amazon-meta with adversarial blocks → build_index → load_index →
    resolve + hybrid_recommend, asserting exact row counts (computed
    independently from the generator) and the planted query's top-k."""
    import gzip as _gzip

    from hybrid_recommendation_system_using_vector_db_spark.cli import _recommend

    n = 50_000
    text, valid, similar_map = _gen_meta_blocks(n)
    meta = tmp_path / "amazon-meta-50k.txt.gz"
    with _gzip.open(meta, "wt") as f:
        f.write(text)

    out = str(tmp_path / "idx")
    counts = build_index(spark, str(meta), out, sample_size=n + 1,
                         lsh_bits=4)
    assert counts["products"] == len(valid)
    assert counts["index"] == len(valid)
    # exact expected edges: distinct (src, dst) with both endpoints valid,
    # no self-loops — replicated in plain python from the generator
    expected_edges = {(s, d) for s, sims in similar_map.items()
                      for d in sims if d != s and d in valid}
    assert counts["edges"] == len(expected_edges)

    t = load_index(spark, out)
    # the huge-similar record's links survived (i=1000: 200-item list)
    big_src = t["edges"].filter(F.col("src") == "B001000").count()
    assert big_src == len({d for d in similar_map["B001000"]
                           if d != "B001000" and d in valid})

    # EP2 over the built index: the planted query resolves uniquely and
    # its co-purchased neighbors (CF weight + shared-token content) rank
    got = _recommend(spark, out, "spectral graph", 10).collect()
    assert got, "planted query must resolve against the 50k catalog"
    cands = {r.cand for r in got}
    assert cands & {"B000100", "B000200", "B000300"}, cands
    for r in got:
        assert 0.0 <= r.hybrid_score <= 1.0


def test_pq_index_roundtrip_serves_identically(spark, sf_dir, tmp_path):
    """VERDICT r5 missing #3: the persisted PQ index (codes + codebook)
    must serve — via pq_topk_from_codes, which never touches the float
    corpus — EXACTLY what the inline encode-at-serve-time path produces:
    same rows, same scores, same ranks. Also pins the storage win: the
    codes table on disk is a fraction of the float embedding table."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity
    from hybrid_recommendation_system_using_vector_db_spark.pipeline import (
        load_pq_index, write_pq_index)

    emb = load_table(spark, sf_dir, "embeddings")
    books = write_pq_index(spark, emb, str(tmp_path), m=8, n_centroids=16)
    codes, books_back = load_pq_index(spark, str(tmp_path))
    assert books_back == [sorted(b) for b in books]
    assert codes.count() == emb.count()
    # every code within the trained codebook id range
    cids = {cid for b in books for cid, _ in b}
    bad = codes.filter(
        F.exists("pq_codes", lambda c: ~c.isin([int(i) for i in cids])))
    assert bad.count() == 0

    qs = emb.filter(F.col("vec_id") % 50 == 0)
    inline = similarity.pq_topk(qs, emb, 10, codebooks=books, dim=64)
    served = similarity.pq_topk_from_codes(qs, codes, books_back, 10)
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    assert sorted(served.collect(), key=key) == sorted(inline.collect(), key=key)

    def du(sub):
        return sum(os.path.getsize(os.path.join(root, f))
                   for root, _, files in os.walk(sub)
                   for f in files if f.endswith(".parquet"))

    emb_bytes = os.path.getsize(os.path.join(sf_dir, "embeddings.parquet"))
    code_bytes = du(f"{tmp_path}/pq_codes")
    assert code_bytes < emb_bytes / 4, (code_bytes, emb_bytes)


def test_ivfpq_index_roundtrip_serves_identically(spark, sf_dir, tmp_path):
    """The persisted IVF-PQ index (coarse-partitioned codes + both
    codebooks) must serve — via ivfpq_lists_from_codes with corpus=None,
    i.e. without ever reading the float embeddings — EXACTLY what the
    inline build-at-serve-time path produces, and the codes tier must
    realize the storage win on disk."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity
    from hybrid_recommendation_system_using_vector_db_spark.pipeline import (
        load_ivfpq_index, write_ivfpq_index)

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books = write_ivfpq_index(spark, emb, str(tmp_path),
                                     n_centroids=8, m=8, pq_centroids=16)
    codes, cents_back, books_back = load_ivfpq_index(spark, str(tmp_path))
    assert cents_back == sorted(cents)
    assert books_back == [sorted(b) for b in books]
    assert codes.count() == emb.count()

    qs = emb.filter(F.col("vec_id") % 50 == 0)
    inline = similarity.ivfpq_topk(qs, emb, 10, nprobe=3, cents=cents,
                                   books=books, dim=64)
    lists = similarity.ivfpq_lists_from_codes(codes, cents_back, books_back)
    served = similarity.ivfpq_topk(qs, None, 10, nprobe=3, cents=cents_back,
                                   books=books_back, lists=lists, dim=64)
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    assert sorted(served.collect(), key=key) == sorted(inline.collect(), key=key)

    def du(sub):
        return sum(os.path.getsize(os.path.join(root, f))
                   for root, _, files in os.walk(sub)
                   for f in files if f.endswith(".parquet"))

    emb_bytes = os.path.getsize(os.path.join(sf_dir, "embeddings.parquet"))
    code_bytes = du(f"{tmp_path}/ivfpq_codes")
    assert code_bytes < emb_bytes / 4, (code_bytes, emb_bytes)


def test_bm25_index_roundtrip_serves_identically(spark, sf_dir, tmp_path):
    """The persisted BM25 index (postings + df + stats) must serve — via
    bm25_topk(index=...), which never re-tokenizes the corpus — EXACTLY
    what the inline build-at-query-time path produces: same rows, same
    scores, same ranks. df per term is counted over the full vocabulary
    in the index and over the query-pruned postings inline; the values
    are identical by construction (term-pruning never drops a doc that
    holds a surviving term), and this test pins that equivalence."""
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.functions import texttools as TT
    from hybrid_recommendation_system_using_vector_db_spark.operators import retrieval
    from hybrid_recommendation_system_using_vector_db_spark.pipeline import (
        load_bm25_index, write_bm25_index)

    docs = load_table(spark, sf_dir, "documents")
    write_bm25_index(spark, docs, str(tmp_path))
    index = load_bm25_index(spark, str(tmp_path))
    postings, df_, stats = index
    assert set(postings.columns) == {"cand", "term", "tf", "dl"}
    assert set(df_.columns) == {"term", "df"}
    assert stats.count() == 1

    qs = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid"),
        F.slice(TT.tokens(F.col("text")), 1, 8).alias("qterms"))
    inline = retrieval.bm25_topk(qs, docs, 10, exclude_self=True)
    served = retrieval.bm25_topk(qs, docs, 10, exclude_self=True, index=index)
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    assert sorted(served.collect(), key=key) == sorted(inline.collect(), key=key)


def test_ivf_index_incremental_append_equals_bulk(spark, tmp_path):
    """write_ivf_index(A) + append_ivf_index(B) == one-shot lists over
    A ∪ B under the SAME (stored) codebook — row-identical layout and
    hash-identical serving (assignment is a pure function of the
    codebook, so incremental growth cannot drift)."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = str(tmp_path / "ivf")
    cents = pipeline.write_ivf_index(spark, a, out, n_centroids=4, n_iters=1)
    pipeline.append_ivf_index(spark, b, out)
    lists, cents2 = pipeline.load_ivf_index(spark, out)
    assert cents2 == [(int(i), [float(x) for x in v]) for i, v in cents]
    bulk = sim.ivf_build_lists(emb, cents)
    key = lambda r: r[0]
    got = sorted([(r.vid, r.centroid_id, [round(x, 9) for x in r.c_vec])
                  for r in lists.collect()], key=key)
    want = sorted([(r.vid, r.centroid_id, [round(x, 9) for x in r.c_vec])
                   for r in bulk.collect()], key=key)
    assert got == want
    # serving parity through the appended index
    qs = emb.filter(F.col("vec_id") % 20 == 0)
    served = sim.ivf_topk(qs, emb, 5, nprobe=2, centroids=cents,
                          lists=lists, dim=64).collect()
    direct = sim.ivf_topk(qs, emb, 5, nprobe=2, centroids=cents,
                          lists=bulk, dim=64).collect()
    srt = lambda rows: sorted((r.qid, r.rank, r.cand, r.score) for r in rows)
    assert srt(served) == srt(direct)


def test_bm25_index_incremental_append_equals_bulk(spark, tmp_path):
    """write_bm25_index(A) + append_bm25_index(B) == one-shot index over
    A ∪ B: postings row-identical, per-term df identical, (n_docs,
    avgdl) bit-identical (the integer token total is recovered exactly
    from avgdl·n), and serving through the appended index matches the
    bulk index row-for-row."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.functions import texttools as TT
    from hybrid_recommendation_system_using_vector_db_spark.operators import retrieval

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "bm25")
    pipeline.write_bm25_index(spark, a, out)
    pipeline.append_bm25_index(spark, b, out)
    postings, df_, stats = pipeline.load_bm25_index(spark, out)
    bulk_p, bulk_df, bulk_s = retrieval.bm25_build_index(docs)
    key = lambda r: (r[0], r[1])  # noqa: E731
    assert sorted(map(tuple, postings.collect()), key=key) == \
        sorted(map(tuple, bulk_p.collect()), key=key)
    assert sorted(map(tuple, df_.collect())) == \
        sorted(map(tuple, bulk_df.collect()))
    assert stats.collect() == bulk_s.collect()   # bit-identical merge
    qs = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid"),
        F.slice(TT.tokens(F.col("text")), 1, 8).alias("qterms"))
    served = retrieval.bm25_topk(qs, docs, 10, exclude_self=True,
                                 index=(postings, df_, stats))
    bulk = retrieval.bm25_topk(qs, docs, 10, exclude_self=True,
                               index=(bulk_p, bulk_df, bulk_s))
    k2 = lambda r: (r["qid"], r["rank"])  # noqa: E731
    assert sorted(served.collect(), key=k2) == sorted(bulk.collect(), key=k2)


def test_pq_index_incremental_append_equals_bulk(spark, tmp_path):
    """write_pq_index(A) + append_pq_index(B) == one-shot encode of
    A ∪ B under the SAME (stored) codebooks — row-identical codes and
    hash-identical ADC serving (encoding is a pure function of the
    books, so incremental growth cannot drift)."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = str(tmp_path / "pq")
    books = pipeline.write_pq_index(spark, a, out, m=8, n_centroids=8,
                                    n_iters=1)
    pipeline.append_pq_index(spark, b, out)
    codes, books2 = pipeline.load_pq_index(spark, out)
    assert books2 == [[(int(c), [float(x) for x in v]) for c, v in bk]
                      for bk in books]
    bulk = sim.pq_encode(emb, books)
    got = sorted((r.vec_id, list(r.pq_codes)) for r in codes.collect())
    want = sorted((r.vec_id, list(r.pq_codes)) for r in bulk.collect())
    assert got == want
    # ADC serving parity through the appended codes table
    qs = emb.filter(F.col("vec_id") % 20 == 0)
    served = sim.pq_topk_from_codes(qs, codes, books, 5).collect()
    direct = sim.pq_topk_from_codes(qs, bulk, books, 5).collect()
    srt = lambda rows: sorted((r.qid, r.rank, r.cand, r.score) for r in rows)
    assert srt(served) == srt(direct)


def test_cli_index_write_then_append(spark, tmp_path):
    """The `index` CLI verbs drive the same lifecycle: write on a batch,
    append the rest, and the resulting row counts equal the full corpus
    (one count per persisted dir)."""
    from hybrid_recommendation_system_using_vector_db_spark.cli import _index_cmd
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "ix")
    n = load_table(spark, sf, "embeddings").count()
    _index_cmd(spark, "pq", "write", sf, out, where="vec_id % 2 = 0")
    counts = _index_cmd(spark, "pq", "append", sf, out,
                        where="vec_id % 2 = 1")
    assert counts == {"pq_codes": n}


def test_ivfpq_index_incremental_append_equals_bulk(spark, tmp_path):
    """write_ivfpq_index(A) + append_ivfpq_index(B) == one-shot encode of
    A ∪ B under the SAME stored coarse centroids + residual books."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = str(tmp_path / "ivfpq")
    cents, books = pipeline.write_ivfpq_index(spark, a, out, n_centroids=4,
                                              m=8, pq_centroids=8, n_iters=1)
    pipeline.append_ivfpq_index(spark, b, out)
    codes, cents2, books2 = pipeline.load_ivfpq_index(spark, out)
    assert cents2 == [(int(i), [float(x) for x in v]) for i, v in cents]
    bulk = sim.ivfpq_encode(emb, cents, books)
    cols = sorted(set(bulk.columns))
    canon = lambda df: sorted(
        tuple(list(x) if isinstance(x, list) else x for x in r)
        for r in df.select(*cols).collect())
    assert canon(codes) == canon(bulk)


def test_maxsim_index_incremental_append_equals_bulk(spark, tmp_path):
    """write_maxsim_index(A) + append_maxsim_index(B) == one-shot build
    over A ∪ B: per-(doc, pos) extrema depend only on each doc's own
    chunks, so disjoint-batch appends are row-identical to bulk."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.embeddings import hashing_embedder
    from hybrid_recommendation_system_using_vector_db_spark.operators.retrieval import (
        maxsim_component_index)
    from hybrid_recommendation_system_using_vector_db_spark.operators.textops import (
        chunk_documents)

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "maxsim")
    pipeline.write_maxsim_index(spark, a, out, chunk_tokens=16, overlap=4)
    pipeline.append_maxsim_index(spark, b, out, chunk_tokens=16, overlap=4)
    got = pipeline.load_maxsim_index(spark, out)
    bulk = maxsim_component_index(hashing_embedder(
        chunk_documents(docs, chunk_tokens=16, overlap=4),
        id_col=["doc_id", "chunk_id"], text_col="chunk_text"))
    cols = sorted(set(got.columns))
    canon = lambda df: sorted(
        tuple(round(x, 9) if isinstance(x, float) else x for x in r)
        for r in df.select(*cols).collect())
    assert canon(got) == canon(bulk)


def test_maxsim_index_roundtrip_serves_identically(spark, sf_dir, tmp_path):
    """write → load → serve must equal the in-plan component build
    row-for-row, and the artifact must be pos-partitioned so a bucket
    probe prunes partitions (PartitionFilters on pos)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as m
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    qs = m._bm25_query_set(docs)
    out = str(tmp_path / "msx")
    pipeline.write_maxsim_index(spark, docs, out)
    comps = pipeline.load_maxsim_index(spark, out)
    served = retrieval.maxsim_topk(qs, None, 10, components=comps).collect()
    from hybrid_recommendation_system_using_vector_db_spark.embeddings import hashing_embedder
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    chunks = textops.chunk_documents(docs, chunk_tokens=64, overlap=16)
    cv = hashing_embedder(chunks, id_col=["doc_id", "chunk_id"],
                          text_col="chunk_text")
    inline = retrieval.maxsim_topk(qs, cv, 10).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, inline))
    # pos is a partition column: an equality probe prunes directories
    from hybrid_recommendation_system_using_vector_db_spark.plans import formatted_plan
    fp = formatted_plan(comps.filter(F.col("pos") == 7))
    assert "PartitionFilters" in fp and "pos" in fp, fp


def test_bm25_append_replay_is_noop(spark, tmp_path):
    """r7 advice fix: re-appending an already-indexed batch must not
    double-count df / inflate n_docs / duplicate postings — the default
    anti-join guard makes an accidental replay a no-op, and a partially
    -overlapping batch indexes only its genuinely-new docs."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import retrieval

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "bm25")
    pipeline.write_bm25_index(spark, a, out)
    pipeline.append_bm25_index(spark, b, out)
    pipeline.append_bm25_index(spark, b, out)          # exact replay
    pipeline.append_bm25_index(spark, docs.limit(0), out)  # empty batch
    postings, df_, stats = pipeline.load_bm25_index(spark, out)
    bulk_p, bulk_df, bulk_s = retrieval.bm25_build_index(docs)
    assert stats.collect() == bulk_s.collect()
    assert postings.count() == bulk_p.count()
    assert sorted(map(tuple, df_.collect())) == \
        sorted(map(tuple, bulk_df.collect()))
    # partially-overlapping batch: only the new half lands
    extra = docs.filter(F.col("doc_id") % 2 == 1).limit(0)  # nothing new
    pipeline.append_bm25_index(spark, b.unionByName(extra), out)
    p2, _, s2 = pipeline.load_bm25_index(spark, out)
    assert s2.collect() == bulk_s.collect() and p2.count() == bulk_p.count()


def test_bm25_append_crash_before_commit_retries_whole_batch(spark, tmp_path,
                                                           monkeypatch):
    """A crash between the append's table writes leaves the live index
    untouched: the retry indexes the whole batch, so postings, df and
    (n_docs, avgdl) equal a one-shot build over the union — not an
    index whose postings already hold the batch while df and stats do
    not."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import retrieval

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "bm25")
    pipeline.write_bm25_index(spark, a, out)
    parquet, calls = DataFrameWriter.parquet, []

    def crash_on_second(self, *args, **kwargs):
        calls.append(args)
        if len(calls) == 2:
            raise RuntimeError("simulated crash")
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_second)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipeline.append_bm25_index(spark, b, out)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    pipeline.append_bm25_index(spark, b, out)
    postings, df_, stats = pipeline.load_bm25_index(spark, out)
    bulk_p, bulk_df, bulk_s = retrieval.bm25_build_index(docs)
    assert postings.count() == bulk_p.count()
    assert sorted(map(tuple, df_.collect())) == \
        sorted(map(tuple, bulk_df.collect()))
    assert stats.collect() == bulk_s.collect()


def _load_dedup_tables(spark, out):
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    clusters = pipeline.load_dedup_clusters(spark, out)
    pairs = spark.read.parquet(f"{out}/dedup_pairs")
    bands = spark.read.parquet(f"{out}/dedup_bands")
    return clusters, pairs, bands


def test_dedup_cluster_artifact_roundtrip(spark, tmp_path):
    """The 4th artifact family: write_dedup_clusters persists the chained
    minhash→verify→CC assignment; reloaded clusters equal the in-query
    chain's output row-for-row (the table dedup_keep_best serves from)."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    out = str(tmp_path / "dd")
    pipeline.write_dedup_clusters(spark, docs, out, n_hashes=8, n_bands=4,
                                  threshold=0.5)
    got, _, _ = _load_dedup_tables(spark, out)
    sigs = dedup.minhash_signatures(docs, n_hashes=8)
    cand = dedup.minhash_band_links(sigs, n_hashes=8, n_bands=4)
    prs = dedup.jaccard_neardup_pairs(docs, threshold=0.5, candidates=cand)
    want = dedup.connected_components_star(prs, docs.select("doc_id"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_dedup_cluster_incremental_append_equals_bulk(spark, tmp_path):
    """write_dedup_clusters(A) + append_dedup_clusters(B) is table-
    identical (clusters AND verified pairs AND bands) to a bulk build
    over A ∪ B — the candidate-adjacency delta is recomputed exactly, so
    incremental growth cannot drift. Replays and empty batches are
    no-ops."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    inc, bulk = str(tmp_path / "inc"), str(tmp_path / "bulk")
    pipeline.write_dedup_clusters(spark, a, inc)
    pipeline.append_dedup_clusters(spark, b, docs, inc)
    pipeline.append_dedup_clusters(spark, b, docs, inc)   # exact replay
    pipeline.append_dedup_clusters(spark, docs.limit(0), docs, inc)
    pipeline.write_dedup_clusters(spark, docs, bulk)
    for t in ["dedup_clusters", "dedup_pairs"]:
        gi = sorted(map(tuple, spark.read.parquet(f"{inc}/{t}").collect()))
        gb = sorted(map(tuple, spark.read.parquet(f"{bulk}/{t}").collect()))
        assert gi == gb, t
    bi = spark.read.parquet(f"{inc}/dedup_bands")
    bb = spark.read.parquet(f"{bulk}/dedup_bands")
    assert sorted(map(tuple, bi.collect())) == sorted(map(tuple, bb.collect()))


def test_dedup_cluster_append_can_split_clusters(spark, tmp_path):
    """The case a label-only union-find merge cannot express: a new doc
    landing BETWEEN two chained near-identical docs replaces their
    candidate link with two low-Jaccard links — the stored cluster must
    SPLIT to stay bulk-identical. Geometry pinned from a hash search:
    all three docs share the full 8-hash MinHash signature (the pads
    never displace a base minimum), but only (1,3) clears the 0.8
    verify."""
    from hybrid_recommendation_system_using_vector_db_spark import pipeline

    base = " ".join(f"tok{i}" for i in range(20))
    safe = ['pad0', 'pad1', 'pad3', 'pad4', 'pad6', 'pad8', 'pad9',
            'pad10', 'pad11', 'pad13', 'pad14', 'pad17', 'pad18', 'pad19',
            'pad20', 'pad21', 'pad22', 'pad23', 'pad25', 'pad26', 'pad27']
    mk = lambda i, t: (i, t, "s")  # noqa: E731
    old = spark.createDataFrame(
        [mk(1, base), mk(3, base + " " + safe[0])],
        "doc_id long, text string, source string")
    newdoc = spark.createDataFrame(
        [mk(2, base + " " + " ".join(safe[1:21]))],
        "doc_id long, text string, source string")
    full = old.unionByName(newdoc)
    inc, bulk = str(tmp_path / "inc"), str(tmp_path / "bulk")
    pipeline.write_dedup_clusters(spark, old, inc, threshold=0.8)
    # precondition: 1 and 3 really are one stored cluster
    assert {tuple(r) for r in
            pipeline.load_dedup_clusters(spark, inc).collect()} == \
        {(1, 1), (3, 1)}
    pipeline.append_dedup_clusters(spark, newdoc, full, inc)
    pipeline.write_dedup_clusters(spark, full, bulk, threshold=0.8)
    gi = sorted(map(tuple, pipeline.load_dedup_clusters(spark, inc).collect()))
    gb = sorted(map(tuple, pipeline.load_dedup_clusters(spark, bulk).collect()))
    assert gi == gb == [(1, 1), (2, 2), (3, 3)]   # the split happened
    pi = sorted(map(tuple,
                    spark.read.parquet(f"{inc}/dedup_pairs").collect()))
    pb = sorted(map(tuple,
                    spark.read.parquet(f"{bulk}/dedup_pairs").collect()))
    assert pi == pb == []


def test_kn_lm_incremental_append_equals_bulk(spark, sf_dir, tmp_path):
    """Appending a doc batch to the KN count artifact yields counts —
    and therefore a derived model — identical to a bulk rebuild over the
    union; replayed batches are no-ops (ledger guard)."""
    from pyspark.sql import functions as F

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    inc, bulk = str(tmp_path / "inc"), str(tmp_path / "bulk")
    pipeline.write_kn_lm(spark, old, inc)
    pipeline.append_kn_lm(spark, batch, inc)
    pipeline.write_kn_lm(spark, docs, bulk)
    a = sorted(map(tuple, pipeline.load_kn_lm(spark, inc).collect()))
    b = sorted(map(tuple, pipeline.load_kn_lm(spark, bulk).collect()))
    assert a == b and len(a) > 0
    # replay: appending the same batch again changes nothing
    pipeline.append_kn_lm(spark, batch, inc)
    a2 = sorted(map(tuple, pipeline.load_kn_lm(spark, inc).collect()))
    assert a2 == a
    # the loaded model scores identically to the directly trained one
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    direct = textops.kn_perplexity(docs, textops.kn_word_lm(docs)).collect()
    loaded = textops.kn_perplexity(docs, pipeline.load_kn_lm(spark, inc)).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, loaded))


def test_lid_profiles_incremental_append_equals_bulk(spark, sf_dir, tmp_path):
    """Same contract for the LID gram-count artifact: append == bulk,
    replay is a no-op, and the loaded profiles reproduce the directly
    trained table exactly."""
    from pyspark.sql import functions as F

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    inc, bulk = str(tmp_path / "inc"), str(tmp_path / "bulk")
    pipeline.write_lid_profiles(spark, old, inc)
    pipeline.append_lid_profiles(spark, batch, inc)
    pipeline.write_lid_profiles(spark, docs, bulk)
    a = sorted(map(tuple, pipeline.load_lid_profiles(spark, inc).collect()))
    b = sorted(map(tuple, pipeline.load_lid_profiles(spark, bulk).collect()))
    assert a == b and len(a) > 0
    pipeline.append_lid_profiles(spark, batch, inc)
    assert sorted(map(tuple,
                      pipeline.load_lid_profiles(spark, inc).collect())) == a
    direct = sorted(map(tuple, textops.train_language_profiles(docs).collect()))
    assert a == direct


def test_compact_parquet_preserves_content_and_merges_files(spark, sf_dir, tmp_path):
    """Compaction rewrites a fragmented dataset into the target file
    count with bit-identical content; the sorted form range-partitions
    (no single-task global sort) and keeps files ordered."""
    from pyspark.sql import functions as F

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    docs = load_table(spark, sf_dir, "documents")
    frag = str(tmp_path / "frag")
    # simulate an incremental sink: 8 append batches → many small files
    for i in range(8):
        docs.filter(F.col("doc_id") % 8 == i).write.mode("append").parquet(frag)
    stats = pipeline.compact_parquet(
        spark, frag, str(tmp_path / "compact"),
        target_rows_per_file=10_000_000)
    assert stats["files_out"] == 1 and stats["files_in"] >= 8
    assert stats["rows"] == docs.count()
    a = sorted(map(tuple, spark.read.parquet(frag).collect()))
    b = sorted(map(tuple, spark.read.parquet(str(tmp_path / "compact")).collect()))
    assert a == b
    # sorted variant: content identical, plan uses range partitioning
    stats2 = pipeline.compact_parquet(
        spark, frag, str(tmp_path / "sorted"),
        target_rows_per_file=(stats["rows"] + 2) // 3, sort_cols=["doc_id"])
    assert stats2["files_out"] == 3
    c = sorted(map(tuple, spark.read.parquet(str(tmp_path / "sorted")).collect()))
    assert a == c


def test_compact_parquet_rejects_in_place_overwrite(spark, sf_dir, tmp_path):
    """out_dir == in_dir would overwrite the dataset while the lazy
    read still references it — rejected up front (ADVICE r7)."""
    import pytest

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    d = str(tmp_path / "data")
    load_table(spark, sf_dir, "region").write.parquet(d)
    with pytest.raises(ValueError, match="out_dir resolves to in_dir"):
        pipeline.compact_parquet(spark, d, d)
    # trailing-slash / relative spelling of the same dir is also caught
    with pytest.raises(ValueError):
        pipeline.compact_parquet(spark, d, d + "/")


def test_kn_append_staged_commit_crash_windows(spark, sf_dir, tmp_path):
    """The two-file count artifact moves through a staged commit: a
    crash BEFORE the _COMMIT marker discards the stage (clean retry); a
    crash AFTER it rolls forward exactly once on the next touch — no
    double-count, no destroyed-counts window (ADVICE r7)."""
    import os

    from pyspark.sql import functions as F

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    inc, bulk = str(tmp_path / "inc"), str(tmp_path / "bulk")
    pipeline.write_kn_lm(spark, old, inc)
    pipeline.write_kn_lm(spark, docs, bulk)
    want = sorted(map(tuple, pipeline.load_kn_lm(spark, bulk).collect()))
    pre = sorted(map(tuple, pipeline.load_kn_lm(spark, inc).collect()))
    staging = os.path.join(inc, "kn_counts__staging")

    # -- crash window 1: stage written, _COMMIT never created ----------
    from hybrid_recommendation_system_using_vector_db_spark.operators.textops import kn_bigram_counts
    merged = (spark.read.parquet(f"{inc}/kn_counts")
              .unionByName(kn_bigram_counts(batch, "text"))
              .groupBy("w1", "w2").agg(F.sum("c").alias("c")))
    batch_ids = batch.select(F.col("doc_id"))
    batch_ids.write.mode("overwrite").parquet(f"{staging}/docs")
    merged.write.mode("overwrite").parquet(f"{staging}/counts")
    # no _COMMIT → loader must still serve the PRE-batch model
    assert sorted(map(tuple, pipeline.load_kn_lm(spark, inc).collect())) == pre
    # a real append discards the orphan stage and applies the batch once
    pipeline.append_kn_lm(spark, batch, inc)
    assert not os.path.exists(staging)
    got = sorted(map(tuple, pipeline.load_kn_lm(spark, inc).collect()))
    assert got == want

    # -- crash window 2: _COMMIT created, publish interrupted ----------
    inc2 = str(tmp_path / "inc2")
    pipeline.write_kn_lm(spark, old, inc2)
    staging2 = os.path.join(inc2, "kn_counts__staging")
    merged2 = (spark.read.parquet(f"{inc2}/kn_counts")
               .unionByName(kn_bigram_counts(batch, "text"))
               .groupBy("w1", "w2").agg(F.sum("c").alias("c"))
               .localCheckpoint(eager=True))
    batch_ids.write.mode("overwrite").parquet(f"{staging2}/docs")
    merged2.write.mode("overwrite").parquet(f"{staging2}/counts")
    open(os.path.join(staging2, "_COMMIT"), "w").close()
    # committed-but-unswapped: the loader already serves the NEW model
    assert sorted(map(tuple, pipeline.load_kn_lm(spark, inc2).collect())) == want
    # replaying the SAME batch rolls the commit forward, then no-ops —
    # the ledger append inside the publish guards the recount
    pipeline.append_kn_lm(spark, batch, inc2)
    assert not os.path.exists(staging2)
    assert sorted(map(tuple, pipeline.load_kn_lm(spark, inc2).collect())) == want
    # idempotent: a second recovery pass / append changes nothing
    pipeline.append_kn_lm(spark, batch, inc2)
    assert sorted(map(tuple, pipeline.load_kn_lm(spark, inc2).collect())) == want


def test_dedup_append_staged_commit_crash_windows(spark, tmp_path):
    """The cluster/band/pair triple moves through the generalized staged
    commit: an uncommitted stage is discarded (pre-batch state intact);
    a committed-but-unpublished stage already serves the new labels and
    the next append rolls it forward exactly once — never the
    stale-bands/new-clusters mix of in-place writes."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    inc, bulk = str(tmp_path / "inc"), str(tmp_path / "bulk")
    pipeline.write_dedup_clusters(spark, a, inc)
    pipeline.write_dedup_clusters(spark, docs, bulk)
    pre = sorted(map(tuple, pipeline.load_dedup_clusters(spark, inc).collect()))
    want = sorted(map(tuple, pipeline.load_dedup_clusters(spark, bulk).collect()))
    staging = os.path.join(inc, "dedup__staging")

    # -- window 1: stage written, never committed -> discarded ---------
    spark.read.parquet(f"{bulk}/dedup_clusters").write.parquet(f"{staging}/clusters")
    assert sorted(map(tuple,
                      pipeline.load_dedup_clusters(spark, inc).collect())) == pre
    pipeline.append_dedup_clusters(spark, b, docs, inc)
    assert not os.path.exists(staging)
    got = sorted(map(tuple, pipeline.load_dedup_clusters(spark, inc).collect()))
    assert got == want

    # -- window 2: committed stage -> loader serves it; replay rolls
    # forward once and the final state equals the bulk build ----------
    inc2 = str(tmp_path / "inc2")
    pipeline.write_dedup_clusters(spark, a, inc2)
    staging2 = os.path.join(inc2, "dedup__staging")
    for t, sub in [("dedup_clusters", "clusters"), ("dedup_pairs", "pairs")]:
        spark.read.parquet(f"{bulk}/{t}").write.parquet(f"{staging2}/{sub}")
    # staged bands = the batch docs' band rows from the bulk build
    bulk_bands = spark.read.parquet(f"{bulk}/dedup_bands")
    batch_ids = {r.doc_id for r in b.select("doc_id").collect()}
    bulk_bands.filter(F.col("doc_id").isin(list(batch_ids))) \
        .write.parquet(f"{staging2}/bands")
    open(os.path.join(staging2, "_COMMIT"), "w").close()
    assert sorted(map(tuple,
                      pipeline.load_dedup_clusters(spark, inc2).collect())) == want
    pipeline.append_dedup_clusters(spark, b, docs, inc2)   # recovers, then no-ops
    assert not os.path.exists(staging2)
    for t in ["dedup_clusters", "dedup_pairs", "dedup_bands"]:
        gi = sorted(map(tuple, spark.read.parquet(f"{inc2}/{t}").collect()))
        gb = sorted(map(tuple, spark.read.parquet(f"{bulk}/{t}").collect()))
        assert gi == gb, t


def test_load_rolls_committed_stage_forward_and_serves_live_dir(spark, tmp_path):
    """ADVICE r8 (medium): loaders must not hand out DataFrames bound to
    ``__staging`` — a later append/finish renames that directory away and
    the held DataFrame fails at its next action. The load path now rolls
    a COMMITTED stage forward first and reads the stable live dir; an
    UNcommitted stage (possibly an in-flight append) is left untouched."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators.textops import (
        kn_bigram_counts,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    out = str(tmp_path / "kn")
    pipeline.write_kn_lm(spark, a, out)
    want = sorted(map(tuple, pipeline.load_kn_lm(
        spark, str(tmp_path / "kn")).collect()))

    # stage a committed-but-unpublished append of batch b (crash window)
    staging = os.path.join(out, "kn_counts__staging")
    merged = (spark.read.parquet(f"{out}/kn_counts")
              .unionByName(kn_bigram_counts(b, "text"))
              .groupBy("w1", "w2").agg(F.sum("c").alias("c")))
    b.select("doc_id").write.mode("overwrite").parquet(f"{staging}/docs")
    merged.write.mode("overwrite").parquet(f"{staging}/counts")
    open(os.path.join(staging, "_COMMIT"), "w").close()

    model = pipeline.load_kn_lm(spark, out)
    # the load itself published the stage: staging gone, live dir is truth
    assert not os.path.exists(staging)
    got = sorted(map(tuple, model.collect()))
    # a replay of the same batch is a no-op and must not invalidate the
    # previously-loaded DataFrame (it is bound to the live dir now)
    pipeline.append_kn_lm(spark, b, out)
    assert sorted(map(tuple, model.collect())) == got
    assert got != want  # the staged batch b really was published

    # an UNCOMMITTED stage is not discarded (may be an in-flight append)
    out2 = str(tmp_path / "kn2")
    pipeline.write_kn_lm(spark, a, out2)
    staging2 = os.path.join(out2, "kn_counts__staging")
    spark.read.parquet(f"{out2}/kn_counts") \
        .write.mode("overwrite").parquet(f"{staging2}/counts")
    assert sorted(map(tuple, pipeline.load_kn_lm(spark, out2).collect())) \
        == want
    assert os.path.exists(staging2)

    # same invariant for the dedup-cluster loader
    dd = str(tmp_path / "dd")
    pipeline.write_dedup_clusters(spark, a, dd)
    dstage = os.path.join(dd, "dedup__staging")
    spark.read.parquet(f"{dd}/dedup_clusters").write.parquet(f"{dstage}/clusters")
    assert os.path.exists(dstage)  # uncommitted: left in place
    pipeline.load_dedup_clusters(spark, dd).count()
    assert os.path.exists(dstage)
    open(os.path.join(dstage, "_COMMIT"), "w").close()
    held = pipeline.load_dedup_clusters(spark, dd)
    assert not os.path.exists(dstage)  # committed: rolled forward on load
    held.count()


def test_staged_append_replay_guard_is_row_level(spark, tmp_path):
    """ADVICE r8: a crashed publish can expose SOME of a key's appended
    rows. The publish moves each staged part file into the live table by
    rename, so re-running it moves exactly the files still staged — a
    keyed replay guard once dropped ALL of the key's remaining staged
    rows permanently."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline

    out = str(tmp_path / "art")
    fam = pipeline._StagedFamily("fam", appends={"bands": "live"})
    live = f"{out}/live"
    staging = fam.staging(out)
    rows = [(1, 0, "a"), (1, 1, "b"), (2, 0, "c"), (2, 1, "d")]
    base = [(9, 0, "z")]
    schema = "doc_id int, band int, key string"
    spark.createDataFrame(base, schema).write.parquet(live)
    # staged in the live layout, one row per part file
    spark.createDataFrame(rows, schema).write \
        .option("maxRecordsPerFile", 1).parquet(f"{staging}/bands")
    open(os.path.join(staging, "_COMMIT"), "w").close()
    # simulate the torn prior publish: one staged part file already moved
    parts = sorted(f for f in os.listdir(f"{staging}/bands")
                   if f.startswith("part-"))
    assert len(parts) >= 2
    os.rename(f"{staging}/bands/{parts[0]}", f"{live}/{parts[0]}")
    fam.finish(spark, out)
    got = sorted(map(tuple, spark.read.parquet(live).collect()))
    assert got == sorted(base + rows)  # nothing lost, nothing doubled
    assert not os.path.exists(staging)


@pytest.mark.parametrize("family", ["_IVF_FAMILY", "_PQ_FAMILY",
                                    "_IVFPQ_FAMILY", "_MAXSIM_FAMILY"])
def test_index_append_is_staged_and_exactly_once(spark, sf_dir, tmp_path,
                                                 monkeypatch, family):
    """The IVF, PQ, IVF-PQ and MaxSim appends run guard → stage → mark:
    a crash at the commit point leaves the live table unchanged with the
    stage on disk, the next append discards that stage and applies the
    batch once, and an exact replay or an empty batch changes nothing."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    fam = getattr(pipeline, family)
    (sub, live), = fam.appends.items()
    kind = fam.base
    table, id_col = (("documents", "doc_id") if kind == "maxsim"
                     else ("embeddings", "vec_id"))
    src = load_table(spark, sf_dir, table)
    a = src.filter(F.col(id_col) % 2 == 0)
    b = src.filter(F.col(id_col) % 2 == 1)
    out = str(tmp_path / kind)
    {"ivf": lambda: pipeline.write_ivf_index(spark, a, out, n_centroids=4,
                                              n_iters=1),
     "pq": lambda: pipeline.write_pq_index(spark, a, out, m=8, n_centroids=8,
                                            n_iters=1),
     "ivfpq": lambda: pipeline.write_ivfpq_index(
         spark, a, out, n_centroids=4, m=8, pq_centroids=8, n_iters=1),
     "maxsim": lambda: pipeline.write_maxsim_index(spark, a, out)}[kind]()
    append = getattr(pipeline, f"append_{kind}_index")
    rows = lambda: sorted(map(tuple,  # noqa: E731
                              spark.read.parquet(f"{out}/{live}").collect()))
    pre = rows()

    def crash(self, spark, out_dir):
        raise RuntimeError("simulated crash at the commit point")

    monkeypatch.setattr(pipeline._StagedFamily, "mark", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append(spark, b, out)
    monkeypatch.undo()
    staging = fam.staging(out)
    assert os.path.exists(staging)
    assert not os.path.exists(f"{staging}/_COMMIT")
    assert rows() == pre                      # live table unchanged
    staged = spark.read.parquet(f"{staging}/{sub}").count()
    assert staged > 0

    append(spark, b, out)                     # discards the stage, applies once
    assert not os.path.exists(staging)
    once = rows()
    assert len(once) == len(pre) + staged
    append(spark, b, out)                     # exact replay
    append(spark, src.limit(0), out)          # empty batch
    assert rows() == once


@pytest.mark.xfail(strict=True, raises=AnalysisException,
                   reason="an index written from no documents has no pos=0 "
                          "partition for the replay guard to read "
                          "(FOUND in CHANGES.md)")
def test_maxsim_append_grows_an_index_written_empty(spark, sf_dir, tmp_path):
    """An index written from no documents grows by appends like any other.
    Today the guard's read of the absent pos=0 partition fails; the check
    in ``finally`` pins that it fails before anything is staged. Once the
    read succeeds this test passes and the strict xfail flags it."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    docs = load_table(spark, sf_dir, "documents")
    out, bulk = str(tmp_path / "maxsim"), str(tmp_path / "bulk")
    pipeline.write_maxsim_index(spark, docs.limit(0), out)
    try:
        pipeline.append_maxsim_index(spark, docs, out)
    finally:
        assert not os.path.exists(pipeline._MAXSIM_FAMILY.staging(out))
    pipeline.write_maxsim_index(spark, docs, bulk)
    rows = lambda d: sorted(map(tuple, pipeline.load_maxsim_index(  # noqa: E731
        spark, d).collect()))
    assert rows(out) == rows(bulk)


def test_lsh_index_incremental_append_equals_bulk(spark, tmp_path):
    """write_lsh_index(A) + append_lsh_index(B) == a bulk build over
    A ∪ B (bucketing is a pure map of the stored hyperplane params, so
    incremental growth cannot drift), the key table is stored flat, a
    replayed batch is a no-op, and serving through the loaded index
    reproduces the in-memory index exactly."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = str(tmp_path / "lsh")
    pipeline.write_lsh_index(spark, a, out, n_bits=5, n_tables=4)
    pipeline.append_lsh_index(spark, b, out)
    loaded = pipeline.load_lsh_index(spark, out)
    bulk = sim.lsh_build_index(emb, n_bits=5, n_tables=4)
    got = sorted(map(tuple, loaded.collect()))
    want = sorted(map(tuple, bulk.collect()))
    assert got == want
    # params metadata re-attached: a mismatched serve call fails loudly
    import pytest as _pytest
    qs = emb.filter(F.col("vec_id") % 20 == 0)
    with _pytest.raises(ValueError):
        sim.lsh_topk(qs, emb, 5, n_bits=8, n_tables=4, index=loaded, dim=64)
    # the (cand, t, bucket) key table is stored flat: no partition dirs
    assert loaded.columns == ["cand", "t", "bucket"]
    assert not [d for d in os.listdir(f"{out}/lsh_buckets")
                if os.path.isdir(os.path.join(out, "lsh_buckets", d))]
    # replayed batch is a no-op
    n0 = loaded.count()
    pipeline.append_lsh_index(spark, b, out)
    assert pipeline.load_lsh_index(spark, out).count() == n0
    # serving parity: loaded index == in-memory index
    served = sim.lsh_topk(qs, emb, 5, n_bits=5, n_tables=4,
                          index=loaded, dim=64).collect()
    direct = sim.lsh_topk(qs, emb, 5, n_bits=5, n_tables=4,
                          index=bulk, dim=64).collect()
    srt = lambda rows: sorted((r.qid, r.rank, r.cand, r.score) for r in rows)
    assert srt(served) == srt(direct)


def test_vacuum_staging_and_index_stats(spark, tmp_path):
    """vacuum_staging: a COMMITTED stage is published (never deleted), an
    uncommitted stage inside the TTL is kept (possible live writer), an
    uncommitted stage past the TTL is deleted. index_stats: the layout
    health numbers match a hand-computed histogram."""
    import os
    import time

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators.textops import (
        kn_bigram_counts,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    out = str(tmp_path / "art")
    pipeline.write_kn_lm(spark, a, out)

    # committed stage -> vacuum publishes it
    staging = os.path.join(out, "kn_counts__staging")
    merged = (spark.read.parquet(f"{out}/kn_counts")
              .unionByName(kn_bigram_counts(b, "text"))
              .groupBy("w1", "w2").agg(F.sum("c").alias("c"))
              .localCheckpoint(eager=True))
    b.select("doc_id").write.mode("overwrite").parquet(f"{staging}/docs")
    merged.write.mode("overwrite").parquet(f"{staging}/counts")
    open(os.path.join(staging, "_COMMIT"), "w").close()
    want = sorted(map(tuple, merged.collect()))
    # plus an uncommitted FRESH stage (simulated live writer: another
    # artifact family's staging dir with no commit marker)
    spark.createDataFrame([(1, 2)], "a int, b int") \
        .write.parquet(f"{out}/lid_counts__staging/counts")
    r = pipeline.vacuum_staging(spark, out, ttl_seconds=3600)
    assert r == {"published": 1, "deleted": 0, "kept": 1}
    assert not os.path.exists(staging)
    assert os.path.exists(f"{out}/lid_counts__staging")
    got = sorted(map(tuple,
                     spark.read.parquet(f"{out}/kn_counts").collect()))
    assert got == want

    # a COMMITTED stage whose layout matches no known protocol is never
    # touched (publishing it through the wrong protocol would delete the
    # marker without moving anything) — kept even past the TTL
    spark.createDataFrame([(1,)], "x int") \
        .write.parquet(f"{out}/foo__staging/data")
    open(os.path.join(out, "foo__staging", "_COMMIT"), "w").close()

    # past the TTL the uncommitted orphan is deleted; the unrecognized
    # committed stage survives
    time.sleep(1.1)
    r2 = pipeline.vacuum_staging(spark, out, ttl_seconds=1)
    assert r2 == {"published": 0, "deleted": 1, "kept": 1}
    assert not os.path.exists(f"{out}/lid_counts__staging")
    assert os.path.exists(f"{out}/foo__staging/data")

    # index_stats over the LSH bucket layout vs a hand histogram
    emb = load_table(spark, sf, "embeddings")
    lsh_dir = str(tmp_path / "lsh")
    pipeline.write_lsh_index(spark, emb, lsh_dir, n_bits=4, n_tables=2)
    idx = pipeline.load_lsh_index(spark, lsh_dir)
    stats = pipeline.index_stats(spark, idx, ["t", "bucket"]).collect()[0]
    from collections import Counter
    hand = Counter((r.t, r.bucket) for r in idx.select("t", "bucket").collect())
    import math
    counts = sorted(hand.values())
    assert stats.n_keys == len(hand)
    assert stats.total_rows == sum(counts)
    assert stats.min_rows == counts[0] and stats.max_rows == counts[-1]
    assert stats.p99_rows == counts[math.ceil(len(counts) * 0.99 - 1e-9) - 1]
    assert abs(stats.skew - stats.max_rows * stats.n_keys / stats.total_rows) < 1e-6
    # an EMPTY index still yields exactly one stats row (null p99), so
    # monitoring reads n_keys=0 instead of vanishing
    empty = idx.filter(F.lit(False))
    erow = pipeline.index_stats(spark, empty, ["t", "bucket"]).collect()
    assert len(erow) == 1 and erow[0].n_keys == 0 and erow[0].p99_rows is None


def test_lsh_append_staged_commit_crash_windows(spark, tmp_path):
    """VERDICT r9 #7: the LSH bucket/ledger pair moves through the same
    staged commit as the dedup/KN/LID families. An uncommitted stage is
    discarded (pre-batch index intact); a committed stage — including a
    torn publish that exposed SOME of the batch's bucket rows — rolls
    forward exactly once, row-identical to a bulk build."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = str(tmp_path / "lsh")
    pipeline.write_lsh_index(spark, a, out, n_bits=5, n_tables=4)
    staging = os.path.join(out, "lsh__staging")
    key = lambda r: (r.cand, r.t, r.bucket)
    want = sorted(map(key, sim.lsh_build_index(emb, n_bits=5, n_tables=4)
                      .collect()))
    pre = sorted(map(key, pipeline.load_lsh_index(spark, out).collect()))

    # -- window 1: stage written, never committed -> discarded ---------
    sim.lsh_build_index(b, n_bits=5, n_tables=4) \
        .write.parquet(f"{staging}/buckets")
    assert sorted(map(key, pipeline.load_lsh_index(spark, out)
                      .collect())) == pre     # reader leaves it in place
    assert os.path.exists(staging)
    pipeline.append_lsh_index(spark, b, out)  # discards + re-stages
    assert not os.path.exists(staging)
    assert sorted(map(key, pipeline.load_lsh_index(spark, out)
                      .collect())) == want

    # -- window 2: committed stage with a TORN partial publish (one of
    # the batch's staged bucket files already moved into the live
    # layout) ---------------------------------------------------------
    out2 = str(tmp_path / "lsh2")
    pipeline.write_lsh_index(spark, a, out2, n_bits=5, n_tables=4)
    staging2 = os.path.join(out2, "lsh__staging")
    rows_b = sim.lsh_build_index(b, n_bits=5, n_tables=4) \
        .localCheckpoint(eager=True)
    pipeline._write_table(rows_b, f"{staging2}/buckets")
    b.select(F.col("vec_id").alias("doc_id")).distinct() \
        .write.parquet(f"{staging2}/docs")
    open(os.path.join(staging2, "_COMMIT"), "w").close()
    staged = sorted(os.path.relpath(os.path.join(d, f), f"{staging2}/buckets")
                    for d, _, fs in os.walk(f"{staging2}/buckets")
                    for f in fs if f.startswith("part-"))
    assert len(staged) >= 2
    torn = os.path.join(out2, "lsh_buckets", staged[0])
    os.makedirs(os.path.dirname(torn), exist_ok=True)
    os.rename(os.path.join(staging2, "buckets", staged[0]), torn)
    # loader rolls the committed stage forward (reader claim) and serves
    # exactly the bulk rows — the torn row is not doubled, nothing lost
    assert sorted(map(key, pipeline.load_lsh_index(spark, out2)
                      .collect())) == want
    assert not os.path.exists(staging2)
    assert not os.path.exists(os.path.join(out2, "lsh__publishing"))
    # replay of the same batch is a no-op against the ledger
    pipeline.append_lsh_index(spark, b, out2)
    assert sorted(map(key, pipeline.load_lsh_index(spark, out2)
                      .collect())) == want
    # the compact ledger covers exactly the indexed ids
    led = sorted(r.doc_id for r in
                 spark.read.parquet(f"{out2}/lsh_docs").collect())
    assert led == sorted(r.vec_id for r in emb.select("vec_id").collect())


def test_lsh_append_publish_runs_no_spark_job(spark, tmp_path):
    """Publishing a committed LSH append stage is renames only: under one
    job group the finish runs zero Spark jobs, and the batch lands."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = str(tmp_path / "lsh")
    pipeline.write_lsh_index(spark, a, out, n_bits=5, n_tables=4)
    staging = os.path.join(out, "lsh__staging")
    sim.lsh_build_index(b, n_bits=5, n_tables=4).write.parquet(f"{staging}/buckets")
    b.select(F.col("vec_id").alias("doc_id")).write.parquet(f"{staging}/docs")
    open(os.path.join(staging, "_COMMIT"), "w").close()
    sc = spark.sparkContext
    sc.setJobGroup("lsh-publish", "finish of a committed append stage")
    try:
        pipeline._LSH_FAMILY.finish(spark, out)
        jobs = sc.statusTracker().getJobIdsForGroup("lsh-publish")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 0, f"publish ran {len(jobs)} Spark jobs"
    assert not os.path.exists(staging)
    assert pipeline.load_lsh_index(spark, out).count() == \
        sim.lsh_build_index(emb, n_bits=5, n_tables=4).count()


def test_reader_claim_falls_back_readonly_on_inflight_publish(spark, tmp_path):
    """ADVICE r9 (medium): load paths publish only under an atomic
    rename claim. A pre-existing committed ``__publishing`` dir (another
    actor's in-flight or crashed publish) makes the reader fall back to
    the live dir READ-ONLY — it must not touch the publishing dir; the
    next maintenance call (append/vacuum) recovers it instead."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators.textops import (
        kn_bigram_counts,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    out = str(tmp_path / "kn")
    pipeline.write_kn_lm(spark, a, out)
    pre = sorted(map(tuple, pipeline.load_kn_lm(spark, out).collect()))

    # simulate a crashed CLAIMED publish: committed stage already renamed
    # to __publishing by its (dead) winner
    pub = os.path.join(out, "kn_counts__publishing")
    merged = (spark.read.parquet(f"{out}/kn_counts")
              .unionByName(kn_bigram_counts(b, "text"))
              .groupBy("w1", "w2").agg(F.sum("c").alias("c"))
              .localCheckpoint(eager=True))
    b.select("doc_id").write.parquet(f"{pub}/docs")
    merged.write.parquet(f"{pub}/counts")
    open(os.path.join(pub, "_COMMIT"), "w").close()

    # reader: live dir read-only, publishing dir untouched
    assert sorted(map(tuple,
                      pipeline.load_kn_lm(spark, out).collect())) == pre
    assert os.path.exists(os.path.join(pub, "_COMMIT"))

    # maintenance (vacuum) recovers the crashed publish
    r = pipeline.vacuum_staging(spark, out, ttl_seconds=3600)
    assert r["published"] == 1
    assert not os.path.exists(pub)
    got = sorted(map(tuple, pipeline.load_kn_lm(spark, out).collect()))
    assert got == sorted(map(tuple,
                             __import__("hybrid_recommendation_system_using_vector_db_spark.operators.textops",
                                        fromlist=["kn_model_from_counts"])
                             .kn_model_from_counts(merged).collect()))


def test_vacuum_publishes_stale_commit_with_renamed_away_subdirs(spark, tmp_path):
    """ADVICE r9: a crash between the publish renames and the marker
    delete leaves a stale ``_COMMIT`` over an empty (or partially
    renamed-away) stage. For a RECOGNIZED family name vacuum invokes the
    matching finish — which handles exactly that state idempotently —
    instead of keeping the debris forever."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").limit(30)
    out = str(tmp_path / "art")
    pipeline.write_kn_lm(spark, docs, out)
    want = sorted(map(tuple,
                      spark.read.parquet(f"{out}/kn_counts").collect()))

    # stale marker, all staged subdirs already renamed/published away
    staging = os.path.join(out, "kn_counts__staging")
    os.makedirs(staging)
    open(os.path.join(staging, "_COMMIT"), "w").close()
    r = pipeline.vacuum_staging(spark, out, ttl_seconds=3600)
    assert r["published"] == 1
    assert not os.path.exists(staging)
    assert sorted(map(tuple,
                      spark.read.parquet(f"{out}/kn_counts").collect())) \
        == want

    # same for a stale committed __publishing leftover of the lsh family
    emb = load_table(spark, sf, "embeddings").limit(40)
    lout = str(tmp_path / "lsh")
    pipeline.write_lsh_index(spark, emb, lout, n_bits=4, n_tables=2)
    n0 = pipeline.load_lsh_index(spark, lout).count()
    pub = os.path.join(lout, "lsh__publishing")
    os.makedirs(pub)
    open(os.path.join(pub, "_COMMIT"), "w").close()
    r2 = pipeline.vacuum_staging(spark, lout, ttl_seconds=3600)
    assert r2["published"] == 1
    assert not os.path.exists(pub)
    assert pipeline.load_lsh_index(spark, lout).count() == n0

    # a marker-LESS __publishing dir is completed-publish debris:
    # deleted immediately, no TTL wait
    os.makedirs(os.path.join(out, "kn_counts__publishing", "counts"))
    r3 = pipeline.vacuum_staging(spark, out, ttl_seconds=3600)
    assert r3["deleted"] == 1
    assert not os.path.exists(os.path.join(out, "kn_counts__publishing"))


def test_compact_lsh_index_preserves_layout_and_rows(spark, tmp_path):
    """OPTIMIZE lifecycle: after three append batches the key table
    holds multiple small files; compaction rewrites it to
    ~target_rows_per_file-row files (one here) range-sorted on
    (t, bucket) and swaps atomically — row set, served results, the
    flat layout, and the params sidecar all unchanged; the docs ledger
    still guards replays."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
    from hybrid_recommendation_system_using_vector_db_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    parts = [emb.filter(F.col("vec_id") % 4 == i) for i in range(4)]
    out = str(tmp_path / "lsh")
    pipeline.write_lsh_index(spark, parts[0], out, n_bits=4, n_tables=3)
    for p in parts[1:]:
        pipeline.append_lsh_index(spark, p, out)
    key = lambda r: (r.cand, r.t, r.bucket)
    pre_rows = sorted(map(key, pipeline.load_lsh_index(spark, out).collect()))
    qs = emb.filter(F.col("vec_id") % 20 == 0)
    serve = lambda: sorted(
        (r.qid, r.rank, r.cand, round(r.score, 9))
        for r in sim.lsh_topk(qs, emb, 5, n_bits=4, n_tables=3,
                              index=pipeline.load_lsh_index(spark, out),
                              dim=64).collect())
    pre_serve = serve()

    stats = pipeline.compact_lsh_index(spark, out)
    assert stats["rows"] == len(pre_rows)
    assert stats["files_out"] < stats["files_in"], stats
    # compact_parquet's file count: ceil(rows / 4M target) = 1
    assert stats["files_out"] == 1
    # row set, serving, and the flat sorted layout unchanged
    post = pipeline.load_lsh_index(spark, out)
    assert sorted(map(key, post.collect())) == pre_rows
    assert serve() == pre_serve
    assert post.columns == ["cand", "t", "bucket"]
    assert not [d for d in os.listdir(f"{out}/lsh_buckets")
                if os.path.isdir(os.path.join(out, "lsh_buckets", d))]
    keys = [(r.t, r.bucket) for r in post.select("t", "bucket").collect()]
    assert keys == sorted(keys)
    # replay guard still intact after the ledger rewrite
    pipeline.append_lsh_index(spark, parts[1], out)
    assert sorted(map(key,
                      pipeline.load_lsh_index(spark, out).collect())) == pre_rows
    # no staging debris
    assert not os.path.exists(os.path.join(out, "lsh_compact__staging"))
    assert not os.path.exists(os.path.join(out, "lsh_compact__publishing"))
    # idempotent: compacting a compacted index is a no-op rewrite
    again = pipeline.compact_lsh_index(spark, out)
    assert again["files_out"] == stats["files_out"]
    assert again["rows"] == stats["rows"]


def test_lsh_index_is_flat_key_table(spark, sf_dir, tmp_path):
    """The persisted LSH index holds keys only: after write + append +
    compact, ``lsh_buckets`` is a flat (cand, t, bucket) table with no
    vector column and no ``t=``/``bucket=`` directories, and
    ``load_lsh_index`` returns ``bucket`` as the '0'/'1' string."""
    import os

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path / "lsh")
    pipeline.write_lsh_index(spark, emb.filter(F.col("vec_id") % 2 == 0), out,
                             n_bits=4, n_tables=3)
    pipeline.append_lsh_index(spark, emb.filter(F.col("vec_id") % 2 == 1), out)
    pipeline.compact_lsh_index(spark, out)
    on_disk = spark.read.parquet(f"{out}/lsh_buckets")
    assert on_disk.columns == ["cand", "t", "bucket"]
    names = os.listdir(f"{out}/lsh_buckets")
    assert any(n.endswith(".parquet") for n in names)
    assert all(os.path.isfile(os.path.join(out, "lsh_buckets", n)) for n in names)
    idx = pipeline.load_lsh_index(spark, out)
    assert idx.schema["bucket"].dataType.simpleString() == "string"
    buckets = {r.bucket for r in idx.select("bucket").distinct().collect()}
    assert buckets and all(len(b) == 4 and set(b) <= {"0", "1"} for b in buckets)
    assert idx.count() == emb.count() * 3


def test_compact_lsh_index_crash_windows(spark, tmp_path):
    """Compaction crash safety: an UNcommitted compaction stage is
    discarded by the next maintenance call; a COMMITTED one — even
    after a torn swap that already deleted the live bucket dir — rolls
    forward from any maintenance path, and the stage family name keeps
    the append protocol from ever replay-appending a compaction."""
    import os
    import shutil

    from hybrid_recommendation_system_using_vector_db_spark import pipeline
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = str(tmp_path / "lsh")
    pipeline.write_lsh_index(spark, a, out, n_bits=4, n_tables=3)
    pipeline.append_lsh_index(spark, b, out)
    key = lambda r: (r.cand, r.t, r.bucket)
    want = sorted(map(key, pipeline.load_lsh_index(spark, out).collect()))
    staging = os.path.join(out, "lsh_compact__staging")

    # window 1: staged rewrite, no marker -> next compact discards it
    shutil.copytree(os.path.join(out, "lsh_buckets"),
                    os.path.join(staging, "buckets"))
    stats = pipeline.compact_lsh_index(spark, out)
    assert stats["rows"] == len(want)
    assert sorted(map(key,
                      pipeline.load_lsh_index(spark, out).collect())) == want

    # window 2: committed stage + torn swap (live bucket dir already
    # deleted) -> vacuum rolls the swap forward; nothing lost
    shutil.copytree(os.path.join(out, "lsh_buckets"),
                    os.path.join(staging, "buckets"))
    shutil.copytree(os.path.join(out, "lsh_docs"),
                    os.path.join(staging, "docs"))
    open(os.path.join(staging, "_COMMIT"), "w").close()
    shutil.rmtree(os.path.join(out, "lsh_buckets"))
    res = pipeline.vacuum_staging(spark, out)
    assert res["published"] == 1, res
    assert sorted(map(key,
                      pipeline.load_lsh_index(spark, out).collect())) == want
    assert not os.path.exists(staging)


def test_staged_family_mark_rejects_vanished_stage(spark, tmp_path):
    """The vanished-stage loud check now guards EVERY family through
    _StagedFamily.mark (r11 unification — previously only the counts
    family had it): marking a stage missing a declared table raises
    instead of dropping a _COMMIT over an empty stage (which the
    finish would then "publish" as a silently lost batch)."""
    import os

    import pytest

    from hybrid_recommendation_system_using_vector_db_spark import pipeline

    out = str(tmp_path / "art")
    fam = pipeline._StagedFamily(
        "fam", swaps={"counts": "fam_counts"}, appends={"docs": "fam_docs"})
    staging = fam.staging(out)
    # only ONE of the two declared tables staged
    spark.range(3).write.mode("overwrite").parquet(f"{staging}/counts")
    with pytest.raises(RuntimeError, match="vanished before commit"):
        fam.mark(spark, out)
    assert not os.path.exists(f"{staging}/_COMMIT")
    # commit_tables with both tables present publishes cleanly
    fam2 = pipeline._StagedFamily(
        "fam2", swaps={"counts": "fam2_counts"}, appends={"docs": "fam2_docs"})
    spark.range(2).selectExpr("id AS doc_id").write.parquet(f"{out}/fam2_docs")
    fam2.commit_tables(spark, out, {
        "counts": spark.range(5).selectExpr("id AS c"),
        "docs": spark.range(2, 4).selectExpr("id AS doc_id")})
    assert spark.read.parquet(f"{out}/fam2_counts").count() == 5
    assert sorted(r.doc_id for r in
                  spark.read.parquet(f"{out}/fam2_docs").collect()) == [0, 1, 2, 3]
    assert not os.path.exists(fam2.staging(out))
