"""Plan-shape regression tests: the physical plans we designed for must be
the plans Catalyst produces (SURVEY §4). A correctness-passing operator
with the wrong plan shape is a 100 TB regression waiting to happen."""

import pytest
from pyspark.sql import functions as F

from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table
from hybrid_recommendation_system_using_vector_db_spark.operators import copurchase, similarity
from hybrid_recommendation_system_using_vector_db_spark.plans import (
    assert_plan,
    formatted_plan,
    pushed_filters,
    read_schemas,
)
from hybrid_recommendation_system_using_vector_db_spark.session import release


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    """B1-style predicates must land in PushedFilters of the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    lines = pushed_filters(li.select("l_orderkey", "l_quantity"))
    assert any("l_quantity" in ln for ln in lines), lines


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not scan the whole lineitem schema."""
    li = load_table(spark, sf_dir, "lineitem")
    schemas = read_schemas(li.select("l_orderkey", "l_partkey"))
    assert schemas and all("l_extendedprice" not in s for s in schemas), schemas


def test_edges_use_shuffled_hash_join(spark, sf_dir):
    """The order-key self-join must not fall back to sort-merge."""
    edges = copurchase.copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    assert_plan(edges, contains=("ShuffledHashJoin",), not_contains=("SortMergeJoin",))


def test_edges_aggregate_is_partial(spark, sf_dir):
    """D1 count agg must have a map-side partial before the shuffle."""
    edges = copurchase.copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    plan = formatted_plan(edges)
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_restrict_to_universe_broadcasts(spark, sf_dir):
    """B5 membership semi-joins must broadcast the small universe side."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = copurchase.copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    restricted = copurchase.restrict_to_universe(edges, emb)
    plan = formatted_plan(restricted)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_cosine_topk_broadcasts_queries_and_stays_jvm(spark, sf_dir):
    """C5 exact: queries broadcast; no Python eval nodes in the plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, 10)
    plan = formatted_plan(out)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan   # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan, plan   # and no pandas UDF either


def test_lsh_topk_is_equijoin_not_crossjoin(spark, sf_dir):
    """LSH blocking must plan as a hash equi-join on the bucket key."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, 10, n_bits=8)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_topk_multitable_scans_corpus_once(spark, sf_dir):
    """Multi-table LSH must hash all tables in ONE corpus pass (posexplode),
    not one join branch per table re-scanning the corpus L times. The
    candidates' vectors are one more corpus read, joined by id."""
    # an earlier test may have persisted an LSH index whose lineage
    # plan-matches this build — the resulting InMemoryRelation dump nests
    # extra Scan nodes and breaks the scan count; assert the cold shape
    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, 10,
                              n_bits=5, n_tables=8)
    plan = formatted_plan(out)
    # one scan for the broadcast query side, one for the corpus keys,
    # one for the corpus vectors — formatted explain lists each node
    # twice (tree + detail section); a scan per table would be ≥ 20
    assert plan.count("Scan parquet") <= 6, plan
    assert "Generate" in plan, plan  # the posexplode of per-table buckets


def test_topk_limit_is_rank_filter_not_global_sort(spark, sf_dir):
    """E1 per-query top-k must be a windowed rank filter, no global Sort of
    the full pair stream above the window."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, 10)
    plan = formatted_plan(out)
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_hybrid_fusion_single_exchange_tail(spark, sf_dir):
    """The C2 fusion + final top-k must ride ONE hash exchange (the
    repartition by qid): the union+max-agg rewrite keeps the (qid,cand)
    aggregate and the qid ranking window on the same partitioning, where
    the old full_outer-join form shuffled both inputs to (qid,cand) and
    then re-shuffled to qid for the window."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import hybrid

    emb = load_table(spark, sf_dir, "embeddings")
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase.copurchase_edges(li)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = hybrid.hybrid_recommend(queries, emb, edges, None, k=10)
    plan = formatted_plan(out)
    # tail = everything above the fusion Union; count its hash exchanges.
    tail = plan.split("Union", 1)[0]
    n_ex = tail.count("Exchange hashpartitioning")
    assert n_ex <= 1, f"fusion tail has {n_ex} hash exchanges:\n{tail}"
    assert "FullOuter" not in plan, "fusion regressed to the join form"


def test_serve_chain_job_count_bounded(spark):
    """Steady-state hybrid serving must stay a small, bounded number of
    Spark jobs (VERDICT r2 next #3): the memoized indexes (edges, CF,
    universe, GEMM query matrix) mean a warm serve call pays only the
    fusion plan's own actions — a regression that sneaks a per-call
    probe/collect job back in fails here."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    # start from a cold registry so the warm call below builds the indexes
    release(spark)
    m.queries()["hybrid_topk"](spark, sf).count()  # warm: builds indexes
    st = spark.sparkContext.statusTracker()
    j0 = max(st.getJobIdsForGroup() or [0])
    m.queries()["hybrid_topk"](spark, sf).count()
    jobs = max(st.getJobIdsForGroup() or [0]) - j0
    assert jobs <= 8, f"warm hybrid_topk used {jobs} jobs (expected <= 8)"


def test_memos_rebuild_after_clear_cache(spark, sf_dir):
    """``spark.catalog.clearCache()`` unpersists the memoized serving
    indexes; the next serve call must cache them again instead of
    recomputing their lineage on every later call."""
    import __spark_entry__ as m
    from pyspark import StorageLevel

    from hybrid_recommendation_system_using_vector_db_spark import CF_TOP_N, session

    serve = m.queries()["hybrid_topk"]
    serve(spark, sf_dir).count()
    spark.catalog.clearCache()
    serve(spark, sf_dir).count()
    app = spark.sparkContext.applicationId
    for key in [("universe", sf_dir), ("edges", sf_dir), ("cf", sf_dir, CF_TOP_N)]:
        df = session._MEMOS[(app, key)]
        assert df.storageLevel != StorageLevel.NONE, f"{key[0]} left uncached"


def test_release_frees_memo_tables_and_temp_dirs(spark, sf_dir):
    """``release`` leaves no cached table and no temp dir behind from the
    session's memo builders: the persistent RDDs go back to the set before
    the calls (locally checkpointed ones are left to GC), and every
    directory the builders wrote is removed."""
    import glob
    import os
    import tempfile

    import __spark_entry__ as m

    jsc = spark.sparkContext._jsc
    prefixes = ("dedup", "meta", "jsonl", "csv", "orc")

    def cached():
        return {int(k) for k, rdd in jsc.getPersistentRDDs().items()
                if not rdd.rdd().isLocallyCheckpointed()}

    def temp_dirs():
        return {d for p in prefixes for d in glob.glob(
            os.path.join(tempfile.gettempdir(), f"spark_graft_{p}_*"))}

    release(spark)
    rdds_before, dirs_before = cached(), temp_dirs()
    q = {**m.extra_queries(), **m.queries()}
    for name in ("hybrid_topk", "precision_eval", "dedup_clusters",
                 "amazon_meta_ingest", "jsonl_ingest", "csv_ingest",
                 "orc_roundtrip"):
        q[name](spark, sf_dir).count()
    made = temp_dirs() - dirs_before
    assert {os.path.basename(d).split("_")[2] for d in made} == set(prefixes)
    assert cached() - rdds_before, "the serve path memoized no cached table"
    release(spark)
    assert cached() - rdds_before == set()
    assert not made & temp_dirs(), sorted(made & temp_dirs())


def test_memo_temp_dirs_removed_at_process_exit():
    """A process that never calls ``release`` (the driver contract's
    case) still leaves no memo temp dir behind once it exits."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys, tempfile, types\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from hybrid_recommendation_system_using_vector_db_spark import session\n"
        "stub = types.SimpleNamespace(\n"
        "    sparkContext=types.SimpleNamespace(applicationId='local-exit-test'))\n"
        "d = tempfile.mkdtemp(prefix='spark_graft_')\n"
        "session.memo(stub, 'k', lambda: d + '/part.parquet')\n"
        "print(d)\n")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=120, check=True)
    made = out.stdout.strip().splitlines()[-1]
    assert made and not os.path.exists(made), made


def test_tfidf_idf_join_default_no_broadcast_hint(spark, sf_dir):
    """VERDICT r4 #5: the term->idf join must NOT carry an unconditional
    broadcast hint — at web-corpus scale the raw vocabulary is a
    broadcast OOM. Default plan: shuffle join on term, with AQE free to
    convert to broadcast at runtime from measured stats."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    out = textops.tfidf_top_terms(docs, 3)
    # inspect the pre-AQE logical plan: no ResolvedHint/broadcast on the
    # df side (the single-row corpus-size crossJoin keeps its hint)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in logical.splitlines() if "Join" in ln]
    term_joins = [ln for ln in joins if "term" in ln]
    assert term_joins, logical
    assert all("broadcast" not in ln.lower() for ln in term_joins), term_joins


def test_tfidf_idf_join_optin_broadcast(spark, sf_dir):
    """broadcast_idf=True (caller asserts bounded vocab, e.g. post-min_df
    pruning) must plan the term join as a broadcast hash join."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    out = textops.tfidf_top_terms(docs, 3, min_df=2, broadcast_idf=True)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan


def test_tfidf_min_df_prunes_vocab(spark, sf_dir):
    """min_df must drop sub-threshold terms from the ranking entirely."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    out = textops.tfidf_top_terms(docs, 3, min_df=3)
    assert out.filter(F.col("df") < 3).count() == 0


def test_simhash_position_fanout_is_mapside_and_partially_aggregated(spark, sf_dir):
    """The token x position fan-out must be a broadcast of the CONSTANT
    position table (map-side, fused in codegen), and both aggregates must
    have map-side partial stages so the x n_bits row multiplication never
    crosses the network (see simhash_fingerprints docstring: the one-pass
    n_bits-buffer rewrite VERDICT r4 #6 proposed measured 1.6-1.8x slower
    and was rejected; this pins what actually matters at scale)."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    out = dedup.simhash_fingerprints(docs, n_bits=16)
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan, plan  # constant side must broadcast
    # partial + final for both the (doc_id,pos) and the doc_id aggregate
    assert plan.count("HashAggregate") >= 4, plan


def test_hybrid_serve_amortizes(spark):
    """SCALE.md serve-chain amortization: warm serve cost is a fixed
    per-job floor plus a tiny per-query term. The GATE is the job-count
    invariant — a per-query-linear regression (per-query probe/collect
    sneaking back into the chain) adds jobs proportional to |Q|, so a
    50x query pool must run the SAME number of warm jobs. Wall time is
    measured and reported but only loosely asserted (ADVICE r5: the
    fixed floor jitters on a loaded CI host)."""
    import time

    import __spark_entry__ as m
    from hybrid_recommendation_system_using_vector_db_spark.operators import (
        hybrid, similarity as sim)

    sf = "/root/testdata/sf0.001"
    release(spark)
    universe = m._served_universe(spark, sf)
    edges = m._served_edges(spark, sf)
    names = m._names(spark, sf)
    cf = m._served_cf(spark, sf)
    st = spark.sparkContext.statusTracker()

    def measure(mod, tag):
        qs = universe.filter(F.col("vec_id") % mod == 0)
        qmat = m._query_matrix(spark, sf, tag, qs)

        def run():
            cands = sim.cosine_topk_gemm(qs, universe, m.CONTENT_TOP_N,
                                         q_local=qmat)
            return hybrid.hybrid_recommend(
                qs, universe, edges, names, k=m.TOP_K,
                content_candidates=cands, cf_candidates=cf)

        run().count()  # warm the chain
        j0 = max(st.getJobIdsForGroup() or [0])
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            run().count()
            times.append(time.perf_counter() - t0)
        jobs = (max(st.getJobIdsForGroup() or [0]) - j0) / 3.0
        return jobs, min(times)

    jobs_few, t_few = measure(50, "amort_few")    # ~4 queries at sf0.001
    jobs_many, t_many = measure(1, "amort_many")  # the whole universe (~50x)
    # the invariant: 50x queries, identical warm job count
    assert jobs_many <= jobs_few, (jobs_few, jobs_many)
    # advisory wall-clock bound, deliberately loose (10x + 1s): catches
    # only a gross per-query-linear cost, not scheduler jitter
    assert t_many <= 10.0 * t_few + 1.0, (t_few, t_many)


def test_simhash_neardup_fingerprints_computed_once(spark, sf_dir):
    """VERDICT r5 #1: the banded self-join derives BOTH sides from the
    fingerprint lineage — without materialization the token-explode x
    n_bits fan-out + two aggregations execute once per side (verified: no
    ReusedExchange, 2 parquet scans / 10 HashAggregates). The checkpoint
    makes both sides scan the materialized fingerprint table: no parquet
    scan, no fingerprint aggregate chain above the checkpoint."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    out = dedup.simhash_neardup_pairs(docs, max_hamming=2, n_bits=16, n_bands=3)
    plan = formatted_plan(out)
    assert "Scan parquet" not in plan, plan          # fingerprints not re-derived
    assert "Scan ExistingRDD" in plan, plan          # both sides read the checkpoint
    # only the candidate-pair distinct remains (partial+final, each listed
    # twice by formatted explain) — the 10-aggregate chain is gone
    assert plan.count("HashAggregate") <= 4, plan


def test_repetition_stats_is_map_only(spark, sf_dir):
    """Dup-ngram fractions are array expressions over the token array —
    the plan must have ZERO exchanges (runs at scan speed at 100 TB)."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(textops.repetition_stats(docs))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode either


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark n-gram side is small by construction — it must be
    broadcast so the corpus side stays a single map pass + partial agg."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0) \
        .select(F.col("doc_id").alias("bench_id"), "text")
    plan = formatted_plan(textops.decontaminate(docs, bench))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bucketed_edges_join_has_no_exchange(spark, sf_dir):
    """Two reads of the src-bucketed edge table must sort-merge join on
    src with ZERO exchanges — the bucket layout replaces the shuffle
    (the 100 TB co-location strategy for every src-keyed serve join)."""
    from hybrid_recommendation_system_using_vector_db_spark.pipeline import write_bucketed_edges

    edges = copurchase.copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = write_bucketed_edges(spark, edges, table="edges_bucketed_test")
        a = t.alias("a")
        b = t.groupBy("src").agg(F.sum("weight").alias("total_w")).alias("b")
        joined = a.join(b, "src")
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == t.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS edges_bucketed_test")


def test_bm25_posting_build_materialized_once(spark, sf_dir):
    """bm25_topk's pruned posting table feeds BOTH the df aggregate and the
    score fan-out; without materialization the differing column pruning
    would make the subtrees non-identical (no ReusedExchange) and the
    explode + posting aggregate would run twice — the simhash_neardup
    double-compute class (VERDICT r5 #1). After the checkpoint the only
    parquet scans left are the corpus-stats CTE and the query set."""
    from hybrid_recommendation_system_using_vector_db_spark.functions import texttools as TT
    from hybrid_recommendation_system_using_vector_db_spark.operators import retrieval

    # the no-op filter keeps this build's plan distinct from any posting
    # table another test persisted (q_rrf/_bm25_index memoization):
    # otherwise the CacheManager substitutes the cached InMemoryRelation,
    # whose formatted detail re-embeds the original parquet scans and
    # breaks the scan-count assertion below (order-dependent flake)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull())
    qs = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid"),
        F.slice(TT.tokens(F.col("text")), 1, 8).alias("qterms"))
    out = retrieval.bm25_topk(qs, docs, 10, exclude_self=True)
    plan = formatted_plan(out)
    # formatted explain lists each node in the tree AND the detail section:
    # 2 remaining scan nodes (stats CTE + query set) => 4 occurrences
    assert plan.count("Scan parquet") <= 4, plan
    assert "Scan ExistingRDD" in plan, plan  # both consumers read the checkpoint
    # final top-k must be a rank filter (WindowGroupLimit), not a global sort
    assert "WindowGroupLimit" in plan, plan


def test_bm25_index_serve_never_retokenizes_corpus(spark, sf_dir, tmp_path):
    """The index-served BM25 path must read the persisted posting table —
    not re-run the tokenize→explode→aggregate build. With an explicit
    (qid, qterms) query set, the serve plan contains no corpus
    tokenization (the split(lower(...)) signature) and no text column
    read: the only inputs are the index tables and the literal query
    fan-out."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import retrieval
    from hybrid_recommendation_system_using_vector_db_spark.pipeline import (
        load_bm25_index, write_bm25_index)

    docs = load_table(spark, sf_dir, "documents")
    write_bm25_index(spark, docs, str(tmp_path))
    index = load_bm25_index(spark, str(tmp_path))
    qs = spark.createDataFrame(
        [(1, ["the", "quick", "brown"]), (2, ["lazy", "dog"])],
        ["qid", "qterms"])
    out = retrieval.bm25_topk(qs, docs, 10, index=index)
    plan = formatted_plan(out)
    assert "split(lower(" not in plan, plan
    assert "text#" not in plan, plan        # corpus text never scanned
    assert "WindowGroupLimit" in plan, plan  # rank filter, not global sort


def test_label_filtered_topk_is_equi_join_not_cross(spark, sf_dir):
    """The label must ride the broadcast join as an equi-key: non-matching
    pairs are dropped by the hash probe BEFORE the cosine is evaluated.
    A cross-join + filter shape would score |Q|·|C| pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.label_filtered_topk(
        emb.filter(F.col("vec_id") % 50 == 0), emb, 10, dim=64)
    plan = formatted_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_pagerank_iteration_no_anti_join(spark, sf_dir):
    """The dangling-rank redistribution must not re-derive the dangling
    set per iteration: the node table carries a static ``is_dangling``
    flag resolved once at build, so the per-iteration dangling sum is a
    filter + bounded aggregate over the rank table (no anti-join, no
    extra |V|-row shuffle), and the only multi-partition exchanges left
    in the body are the contribution aggregate + AQE-decided join
    re-alignments."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import graph

    edges = copurchase.copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    e = edges.select("src", "dst", F.col("weight").cast("double").alias("weight"))
    out_w = e.groupBy("src").agg(F.sum("weight").alias("out_w"))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node"))).distinct()
             .join(out_w.select(F.col("src").alias("node"),
                                F.lit(False).alias("is_dangling")), "node", "left")
             .select("node", F.coalesce("is_dangling", F.lit(True)).alias("is_dangling"))
             .localCheckpoint(eager=True))
    n = float(nodes.count())
    ew = e.join(out_w, "src").localCheckpoint(eager=True)
    ranks = (nodes.select("node", F.lit(1.0 / n).alias("rank"), "is_dangling")
             .localCheckpoint(eager=True))
    body = graph._pagerank_iteration(nodes, ew, ranks, n, 0.85, 0.15)
    plan = formatted_plan(body)
    assert "Anti" not in plan, plan
    # dangling sum is a bounded single-partition aggregate, not a join
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_lm_perplexity_trains_once(spark, sf_dir):
    """char_bigram_lm's counts table and the supplied LM each feed three
    plan branches; both are bounded (≤ |charset|² rows) and must be
    materialized once so the corpus-wide bigram explode + count does not
    re-execute per branch (was: 20 parquet scans / 68 HashAggregates,
    zero ReusedExchange). Train + score must read the corpus exactly
    twice: once to train, once to score."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    out = textops.lm_perplexity(docs, textops.char_bigram_lm(docs))
    plan = formatted_plan(out)
    assert plan.count("Scan parquet") == 2, plan


def test_tpch_q6_filters_push_to_scan_no_join(spark, sf_dir):
    """Q6 is a pure scan query: all four range predicates must reach the
    parquet scan as PushedFilters and the plan must contain no join."""
    import __spark_entry__ as m

    df = m.q_tpch_q6(spark, sf_dir)
    lines = pushed_filters(df)
    joined = "\n".join(lines)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in joined, (col, lines)
    assert_plan(df, not_contains=("Join",))


def test_tpch_q3_broadcasts_segment_customers(spark, sf_dir):
    """Q3's segment-filtered customer side must broadcast (semi-join) and
    the segment predicate must prune at the customer scan."""
    import __spark_entry__ as m

    df = m.q_tpch_q3(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "c_mktsegment" in "\n".join(pushed_filters(df)), pushed_filters(df)


def test_maxsim_component_join_is_broadcast_equi(spark, sf_dir):
    """MaxSim's scorer must be a broadcast equi-join on the component
    index (pos = bucket) — never a cross join — and stay JVM-side after
    the chunk-embedding stage (aggregations are codegen'd hash aggs)."""
    import __spark_entry__ as m

    df = m.q_maxsim_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final for max and sum


def test_triangle_and_adamic_shared_tables_computed_once(spark, sf_dir):
    """The multi-branch shared tables (triangles: canonical edges + the
    oriented edge set; Adamic-Adar: edges + the witness-pruned neighbor
    list) must read their checkpoints — no parquet scan above them means
    the upstream co-purchase aggregation executes once, not per branch
    (the simhash_neardup defect class, VERDICT r5 #1)."""
    import __spark_entry__ as m

    for q in (m.q_triangles, m.q_link_prediction):
        plan = formatted_plan(q(spark, sf_dir))
        assert "Scan parquet" not in plan, (q.__name__, plan)
        assert "Scan ExistingRDD" in plan, (q.__name__, plan)


def test_tpch_q5_dim_chain_broadcasts_and_prunes(spark, sf_dir):
    """Q5's region→nation→supplier dim chain must broadcast (no shuffle
    join on any dim) and the region/date filters must reach the scans."""
    import __spark_entry__ as m

    df = m.q_tpch_q5(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    pf = "\n".join(pushed_filters(df))
    assert "r_name" in pf and "o_orderdate" in pf, pf


def test_global_topk_entries_use_take_ordered_not_global_window(spark, sf_dir):
    """pmi_collocations and key_skew must bound their rank windows with a
    TakeOrderedAndProject pre-limit — a no-partition row_number window
    over the full aggregated table funnels every distinct bigram/key
    through one task (the zorder_layout_stats class, ADVICE r6 #1)."""
    import __spark_entry__ as m

    for q in (m.q_pmi_collocations, m.q_key_skew):
        plan = formatted_plan(q(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, (q.__name__, plan)


def test_hybrid_serve_batch_reproduces_driver_entry(spark, sf_dir):
    """The bench's amortized-serve surface is not a separate code path:
    at query_mod=QUERY_MOD it must produce exactly the driver-checked
    hybrid_topk rows (same memoized indexes, same fusion plan)."""
    import __spark_entry__ as m
    from hybrid_recommendation_system_using_vector_db_spark import QUERY_MOD

    batch = m.hybrid_serve_batch(spark, sf_dir, query_mod=QUERY_MOD)
    driver = m.q_hybrid_topk(spark, sf_dir)
    a = sorted(map(tuple, batch.collect()))
    b = sorted(map(tuple, driver.collect()))
    assert a == b and len(a) > 0


def test_tpch_q4_exists_is_left_semi_with_residual(spark, sf_dir):
    """Q4's EXISTS must compile to ONE left-semi join on the order key
    (no aggregate-then-join, no row fan-out) with the order-date window
    pruning at the orders scan."""
    import __spark_entry__ as m

    df = m.q_tpch_q4(spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "o_orderdate" in "\n".join(pushed_filters(df)), pushed_filters(df)


def test_tpch_q18_having_prunes_before_joins_and_broadcasts_customer(spark, sf_dir):
    """Q18's quantity aggregate + having filter must sit BELOW the order
    join (prune first), customer must broadcast, and the top-100 must be
    a TakeOrdered, not a global sort."""
    import __spark_entry__ as m

    df = m.q_tpch_q18(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # the having filter references the aggregated alias — it must appear
    # as a post-agg Filter, and the agg must be present (partial+final)
    assert plan.count("HashAggregate") >= 2, plan
    assert "sum_qty" in plan and "Filter" in plan, plan


def test_tpch_q19_disjunction_partially_pushes_to_both_scans(spark, sf_dir):
    """Q19's three-band OR spans both join sides, so it cannot split —
    but the union of each side's single-side ranges MUST reach that
    side's parquet scan: quantity bands at the lineitem scan, brand/size
    bands at the part scan, with the full disjunction as a join-level
    residual."""
    import __spark_entry__ as m

    df = m.q_tpch_q19(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    li_scan = next(ln for ln in scans if "lineitem" in ln)
    part_scan = next(ln for ln in scans if "part.parquet" in ln)
    assert "l_quantity" in li_scan and (
        " OR " in li_scan or "Or(" in li_scan), li_scan
    assert "p_brand" in part_scan and (
        " OR " in part_scan or "Or(" in part_scan), part_scan


def test_robust_zscore_flags_planted_outlier(spark):
    """A planted far point gets flagged; the z of the median itself is 0;
    a constant group (MAD = 0) yields NULL z and no flags."""
    from pyspark.sql import Row
    from hybrid_recommendation_system_using_vector_db_spark.operators.profiling import robust_zscore

    rows = [Row(id=i, g="a", v=float(x))
            for i, x in enumerate([10, 11, 12, 13, 14, 1000])]
    rows += [Row(id=100 + i, g="b", v=5.0) for i in range(4)]
    out = {r["id"]: r for r in
           robust_zscore(spark.createDataFrame(rows), "g", "v", "id")
           .collect()}
    assert out[5]["is_outlier"] and out[5]["z"] > 100
    assert not any(out[i]["is_outlier"] for i in range(5))
    # nearest-rank median of [10..14, 1000] at rank ceil(6*0.5)=3 → 12
    assert out[2]["z"] == 0.0
    for i in range(4):
        assert out[100 + i]["z"] is None and not out[100 + i]["is_outlier"]


def test_whole_surface_scan_budget(spark, sf_dir):
    """Re-execution guard over EVERY query: a derived DataFrame feeding
    2+ plan branches re-executes its upstream chain per branch (the
    simhash r5 / funnel r6 / ranking_eval r8 defect class — ranking_eval
    hit 164 parquet scans in ONE plan before its shared tables were
    checkpointed). Each query's physical plan must stay under a scan
    budget; legitimately multi-branch plans (7-method ann_recall) fit
    well inside it, the pathological class does not. Streaming entries
    are skipped: their returned plan is a memory-sink read, not the
    stream pipeline."""
    import __spark_entry__ as m

    # earlier suite tests leave persisted relations whose lineage
    # plan-matches sweep subtrees — the InMemoryRelation dump then NESTS
    # the cached plan's own Scan nodes into the formatted output and
    # inflates the count (the lsh multitable test's documented effect).
    # Sweep from a cold cache so the measured shape is the plan's own.
    release(spark)
    spark.catalog.clearCache()

    budget = 30
    over = []
    for name, q in sorted({**m.extra_queries(), **m.queries()}.items()):
        if name.startswith("streaming_"):
            continue
        n = formatted_plan(q(spark, sf_dir)).count("Scan parquet")
        if n > budget:
            over.append((name, n))
    assert not over, f"plans over the {budget}-scan budget: {over}"


def test_dynamic_partition_pruning_on_partitioned_sink(spark, sf_dir, tmp_path):
    """A fact table written partitioned by a key must get a runtime
    dynamic-partition-pruning filter when joined to a selectively
    filtered dim on that key: the scan's PartitionFilters must carry a
    dynamicpruning subquery, not read every partition. This is the
    layout contract for every partitioned sink in pipeline.py — at
    100 TB the difference between scanning one partition and all of
    them."""
    out = str(tmp_path / "orders_by_priority")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    # the dim filter must sit on a NON-partition column (the TPC-DS
    # date_dim shape): a literal equality on the partition key itself
    # gets constant-propagated through the join and pruned STATICALLY —
    # good, but then nothing exercises the DPP machinery this contract
    # pins; DPP's rule wants a filtered, broadcastable dim whose
    # qualifying join-key values are only known at runtime
    dim = (load_table(spark, sf_dir, "orders")
           .select("o_orderpriority", "o_orderstatus")
           .filter(F.col("o_orderstatus") == "F")
           .select("o_orderpriority").distinct())
    joined = fact.join(dim, "o_orderpriority").groupBy("o_orderpriority") \
        .agg(F.count(F.lit(1)).alias("n"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    want = (orders.join(dim, "o_orderpriority")
            .select("o_orderpriority").distinct().count())
    assert joined.count() == want and want >= 1


def test_vec_dim_probe_never_fires_building_query_plans(spark, sf_dir):
    """VERDICT r8 next #4: every serve-path entry threads ``dim`` from
    index metadata / EMBED_DIM, so the per-lineage dimensionality probe
    (a ~0.5 s driver job) must never fire while building ANY query plan.
    Encoded as a spy so a probe sneaking back into a q_* entry breaks CI
    instead of showing up as bench first-iteration noise."""
    import __spark_entry__ as m
    from hybrid_recommendation_system_using_vector_db_spark.operators import (
        linalg, similarity as sim)

    calls: list[str] = []
    orig = sim._vec_dim

    def spy(df, vec_col):
        calls.append(vec_col)
        return orig(df, vec_col)

    sim._vec_dim = spy
    linalg._vec_dim = spy          # linalg imported the symbol by name
    try:
        for name, q in sorted({**m.extra_queries(), **m.queries()}.items()):
            q(spark, sf_dir)       # plan build only — probes fire eagerly
    finally:
        sim._vec_dim = orig
        linalg._vec_dim = orig
    assert not calls, f"_vec_dim probe fired {len(calls)}x during plan build"


def test_hybrid_serve_batch_warm_jobs_and_scans_bounded(spark):
    """VERDICT r8 next #7: the amortized serve batch (the bench's
    headline unit) must stay a FIXED small number of warm jobs riding
    the memoized indexes — a per-call probe/collect or a broken memo
    multiplies jobs/scans and previously surfaced only as bench noise
    (the r8 8.65 ms/q record). Job budget pins the action count; the
    scan budget pins the plan (memoized sides read from InMemoryScan;
    the only live parquet above them is the small names dim)."""
    import __spark_entry__ as m
    from hybrid_recommendation_system_using_vector_db_spark.plans import formatted_plan

    sf = "/root/testdata/sf0.001"
    release(spark)
    m.hybrid_serve_batch(spark, sf).count()   # warm: builds + persists
    st = spark.sparkContext.statusTracker()
    j0 = max(st.getJobIdsForGroup() or [0])
    m.hybrid_serve_batch(spark, sf).count()
    jobs = max(st.getJobIdsForGroup() or [0]) - j0
    assert jobs <= 8, f"warm hybrid_serve_batch used {jobs} jobs (expected <= 8)"
    # plan shape: the fusion tail serves the CF/universe sides from the
    # session-persisted indexes, not by re-running their lineage. The
    # InMemoryRelation dump re-prints its cached plan's Scan nodes at
    # every cache reference (36 occurrences of 4 nodes here), so budget
    # DISTINCT scan node ids: cache nesting repeats ids, while the
    # re-execution defect class (ranking_eval's 164-scan plan, r8)
    # duplicates subtrees under FRESH ids and a broken memo adds live
    # scans — both raise the distinct count.
    import re

    plan = formatted_plan(m.hybrid_serve_batch(spark, sf))
    assert "InMemoryTableScan" in plan, plan[:2000]
    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))
    assert len(scan_ids) <= 6, \
        f"warm serve plan has {len(scan_ids)} distinct parquet scans: {sorted(scan_ids)}"


def test_tpch_q21_semi_and_anti_against_same_fact(spark, sf_dir):
    """Q21's double correlation must compile to ONE LeftSemi (another
    supplier exists) and ONE LeftAnti (no other LATE supplier) against
    the lineitem fact, each carrying the supplier-inequality as a join
    residual — not an aggregation detour or a row-exploding inner join."""
    import __spark_entry__ as m

    plan = m.q_tpch_q21(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    semis = [ln for ln in joins if "LeftSemi" in ln and "suppkey" in ln]
    antis = [ln for ln in joins if "LeftAnti" in ln]
    assert len(antis) == 1 and "NOT (l_suppkey" in antis[0], antis
    assert any("NOT (l_suppkey" in ln for ln in semis), semis
    assert "Cross" not in plan


def test_eval_tables_build_once(spark):
    """VERDICT r9 wrong #2: the shared eval rank tables (GEMM ranking,
    hybrid fusion, ground truth) must build once per (session, dataset)
    — a warm precision_eval call pays only the bounded metric grid, not
    a fresh GEMM+fusion pass. Pinned two ways: the memo returns the
    same table objects, and a warm call stays within a small job
    budget."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    release(spark)
    t1 = m._eval_rank_tables(spark, sf)
    t2 = m._eval_rank_tables(spark, sf)
    assert t1[0]["content"] is t2[0]["content"]
    assert t1[0]["hybrid"] is t2[0]["hybrid"] and t1[1] is t2[1]

    m.queries()["precision_eval"](spark, sf).count()   # warm: builds memo
    st = spark.sparkContext.statusTracker()
    j0 = max(st.getJobIdsForGroup() or [0])
    m.queries()["precision_eval"](spark, sf).count()
    jobs = max(st.getJobIdsForGroup() or [0]) - j0
    assert jobs <= 6, f"warm precision_eval used {jobs} jobs (expected <= 6)"


def test_apply_changes_anti_join_broadcasts_batch_keys(spark, sf_dir):
    """The CDC merge must keep the O(corpus) base out of every shuffle:
    exactly one Window (the last-writer dedup, over the CHANGE BATCH
    only), the base touched by a broadcast left-anti join, and no sort
    or exchange keyed on the base side."""
    import __spark_entry__ as m

    df = m.q_cdc_apply(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin LeftAnti") == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the deduped batch is checkpointed: its window/exchange ran once
    # up front, so the served plan holds NO window, ONE parquet scan
    # (the base), and no exchange at all (union adds none)
    assert "Window" not in plan, plan
    import re
    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))
    assert len(scan_ids) == 1, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_gap_fill_spine_is_distributed_no_cross_join(spark, sf_dir):
    """The dense bucket spine must come from per-group sequence+explode
    (a Generate over the bounded min/max table), never a calendar cross
    join; and the event table is scanned exactly once — the fill
    windows run over the joined spine, not fresh scans."""
    import re

    import __spark_entry__ as m

    plan = formatted_plan(m.q_gap_fill(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "Generate" in plan, plan
    # the event rollup is checkpointed (it feeds the spine AND the
    # join), so the served plan re-scans NO parquet at all
    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))
    assert len(scan_ids) == 0, plan


def test_tpch_q9_broadcasts_dims_and_single_fact_agg(spark, sf_dir):
    """Q9's part/supplier/nation chains must broadcast (only the supply
    pair join and the (nation, year) aggregate may shuffle the fact),
    and the profit sum must run over LONG micros — the exact,
    shuffle-order-free formulation."""
    import __spark_entry__ as m

    plan = formatted_plan(m.q_tpch_q9(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "sum(micros" in plan or "FLOOR" in plan.upper(), plan
    # schema: profit emitted as the cent-rounded double
    df = m.q_tpch_q9(spark, sf_dir)
    assert dict(df.dtypes)["sum_profit"] == "double"


def test_label_propagation_rounds_use_aggregate_not_window(spark, sf_dir):
    """The LPA argmax must compile to partial-combining aggregates (a
    struct min), never a per-round row_number window sort. The round
    body is explained on its own (label_propagation returns a
    checkpoint scan, whose plan shows no round at all), over the
    checkpointed edge and label tables a round reads."""
    from hybrid_recommendation_system_using_vector_db_spark.operators import graph

    edges = copurchase.copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    und = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                        F.col("weight").cast("long").alias("w"))
           .localCheckpoint(eager=True))
    labels = (und.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint(eager=True))
    plan = formatted_plan(graph._lpa_round(und, labels))
    assert "HashAggregate" in plan, plan
    assert "Window" not in plan, plan
    assert "RunningWindowFunction" not in plan, plan


def test_unpivot_is_expand_single_scan(spark, sf_dir):
    """The melt must be ONE Expand over ONE lineitem scan — never a
    4-way union of per-measure scans."""
    import re

    import __spark_entry__ as m

    plan = formatted_plan(m.q_unpivot_measures(spark, sf_dir))
    assert "Expand" in plan, plan
    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))
    assert len(scan_ids) == 1, plan
    assert "Union" not in plan, plan


def test_kmv_set_ops_take_ordered_no_global_sort(spark, sf_dir):
    """Bottom-k selections must compile to TakeOrderedAndProject (or a
    local limit), never a global Sort of the distinct-hash tables."""
    import re

    import __spark_entry__ as m

    plan = formatted_plan(m.q_kmv_set_ops(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # no full-table Sort outside the TakeOrdered operators: match the
    # OPERATOR NAME anywhere in the plan (root-level, codegen-starred,
    # any tree-branch prefix), not tree-prefix string shapes (ADVICE
    # r10 — '+- Sort'/':- Sort' alone misses '*(n) Sort'/root 'Sort [')
    sort_lines = [ln for ln in plan.splitlines()
                  if re.search(r"\bSort\b", ln)
                  and "TakeOrderedAndProject" not in ln]
    assert not sort_lines, (sort_lines, plan)


def test_set_sim_join_no_quadratic_join(spark, sf_dir):
    """The PPJoin chain must never degrade to a nested-loop/cartesian
    plan: every join is an equi-join on the prefix token, the pair key,
    or an id — the whole point of the prefix filter is that the
    all-pairs space is never enumerated."""
    import __spark_entry__ as m

    plan = formatted_plan(m.q_set_sim_join(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_equidepth_histogram_single_sort(spark, sf_dir):
    """Exact equi-depth pays exactly ONE global sort (the ntile
    window); a second Sort operator would mean the rollup re-sorted
    what the window already ordered."""
    import re

    import __spark_entry__ as m

    plan = formatted_plan(m.q_equidepth_histogram(spark, sf_dir))
    sorts = [ln for ln in plan.splitlines()
             if re.match(r"^\(\d+\) Sort\b", ln.strip())]
    assert len(sorts) == 1, (sorts, plan)


def test_dq_checks_no_rescan_per_check(spark, sf_dir):
    """The returned per-check union reads the CHECKPOINTED 1-row stats
    table — zero parquet scans in the served plan (the full-table
    aggregate ran exactly once at checkpoint time), so adding checks
    can never add scans."""
    import __spark_entry__ as m

    plan = formatted_plan(m.q_dq_checks(spark, sf_dir))
    assert plan.count("Scan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_shard_manifest_is_one_pass_partial_aggregate(spark, sf_dir):
    """r13 shard_manifest must be the single-pass shape it claims: one
    parquet scan, a map-side partial + final hash aggregate (the
    shuffle carries n_shards rows per task), no window, no join, and a
    pruned read (doc_id + text only)."""
    from hybrid_recommendation_system_using_vector_db_spark.operators.textops import (
        shard_manifest,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = shard_manifest(docs, n_shards=16)
    plan = formatted_plan(out)
    # formatted explain lists each node twice (tree + detail section)
    assert plan.count("Scan parquet") <= 2, plan
    assert plan.count("HashAggregate") >= 2, plan       # partial + final
    assert "Window" not in plan and "Join" not in plan, plan
    schemas = read_schemas(out)
    assert schemas and all("lang" not in s and "source" not in s
                           for s in schemas), schemas


def test_mixing_order_single_window_exchange(spark, sf_dir):
    """r13 mixing_order: ONE domain-keyed ranking window, no global
    sort (the interleave lives in the key), no join."""
    from hybrid_recommendation_system_using_vector_db_spark.operators.sampling import (
        mixing_order,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = mixing_order(docs, {"src0": 3.0, "src1": 1.0})
    plan = formatted_plan(out)
    # tree + detail section each list the node once
    assert plan.count("Window") <= 2, plan
    assert plan.count("Exchange") <= 2, plan
    assert "Window" in plan and "Join" not in plan, plan
