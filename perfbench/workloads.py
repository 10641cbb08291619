"""The benchmark workloads.

Each workload has the same shape:

- ``inputs(cache_dir, seed, size)``: write the seeded inputs (cached per
  seed, never timed) and return the generator's ground truth;
- ``prepare(ctx)``: the index the workload starts from, built in a fresh
  JVM before the set-up rounds; returns the build time, ``build_s``;
- ``setup(ctx)``: everything the timed operations need, timed as set-up;
- ``op(ctx, i)``: one timed operation; returns a list of timed items;
  with ``WARMUP`` set, one untimed operation runs before the timed ones;
- ``finish(ctx)``: timed work that runs once after the loop;
- ``after_trace(ctx)``: traced runs only, after the traced window: layer
  counters that need work of the benchmark's own, kept out of the layers'
  spans and of the tracing overhead;
- ``checks(ctx)``: (name, passed) output checks, not timed;
- ``named(ctx, ops)``: the workload's named end-to-end metrics.

Layer calls are wrapped in ``ctx.tr.span(layer, name)``; in a traced run
the call's output is materialized inside its span (``ctx.tr.materialize``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from hybrid_recommendation_system_using_vector_db_spark import CF_TOP_N, CONTENT_TOP_N, TOP_K
from hybrid_recommendation_system_using_vector_db_spark.embeddings import hashing_embedder
from hybrid_recommendation_system_using_vector_db_spark.operators.copurchase import (
    cf_topn, edges_from_similar)
from hybrid_recommendation_system_using_vector_db_spark.operators.dedup import (
    bucket_chain_links, connected_components)
from hybrid_recommendation_system_using_vector_db_spark.operators.evaluate import precision_at_k
from hybrid_recommendation_system_using_vector_db_spark.operators.graph import (
    weighted_sssp)
from hybrid_recommendation_system_using_vector_db_spark.operators.hybrid import hybrid_recommend
from hybrid_recommendation_system_using_vector_db_spark.operators.resolve import resolve_queries
from hybrid_recommendation_system_using_vector_db_spark.operators.sampling import seeded_sample
from hybrid_recommendation_system_using_vector_db_spark.operators.similarity import (
    cosine_topk_gemm, lsh_topk)
from hybrid_recommendation_system_using_vector_db_spark.pipeline import (
    append_lsh_index, catalog_doc_text, compact_lsh_index, load_dedup_clusters,
    load_lsh_index, write_dedup_clusters, write_lsh_index)
from hybrid_recommendation_system_using_vector_db_spark.sources.amazon_meta import (
    read_amazon_meta)
from hybrid_recommendation_system_using_vector_db_spark.streaming.events import (
    incremental_copurchase, read_edge_state)

from . import gen
from .trace import join_output_rows

SIZES = {
    "build_serve": {"full": dict(records=2000, sample=1000, batch=10),
                    "tiny": dict(records=800, sample=400, batch=10)},
    # families is a (low, high) range the seed draws from, so the duplicate
    # rate differs per seed; the chain depth is fixed, since it sets the
    # number of connected-components rounds
    "maintenance": {"full": dict(batches=2, orders=1000, items=1500, base=1500,
                                 appends=[500], docs=600, families=(24, 48),
                                 depth=4, nodes=1500, edges=4500),
                    "tiny": dict(batches=2, orders=100, items=200, base=400,
                                 appends=[100], docs=300, families=(15, 25),
                                 depth=3, nodes=300, edges=1200)},
}

# Popularity skew differs per input: the catalog is the flattest, the order
# stream the most concentrated on hub items. The exponents are unsourced
# sweep points, not fitted to a measured amazon-meta degree distribution.
ZIPF = {"catalog": 1.1, "edges": 1.3, "orders": 1.5}

LSH_BITS, LSH_TABLES = 4, 4
EMBED_DIM = 64


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping checksum/marker files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _tail(xs):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, samples) or None when there are fewer than 11."""
    n = len(xs)
    if n < 11:
        return None
    beyond = 10
    pct = 100.0 * (n - beyond) / n
    s = sorted(xs)
    return s[n - beyond - 1], pct, n


# --------------------------------------------------------------------------
class BuildServe:
    """A cold EP1 build (ingest → sample → edges → embed → LSH index
    write) in a fresh JVM, then closed-loop hybrid top-10 serving
    over that index and one Precision@10 pass over the served answers."""

    name = "build_serve"
    # the first batch of a session pays its plans' compilation (about twice
    # a later batch); it runs untimed
    WARMUP = True

    def inputs(self, cache, seed, size):
        path = os.path.join(cache, "amazon-meta.txt.gz")
        truth = gen.amazon_meta(path, size["records"], seed, ZIPF["catalog"])
        rng = np.random.default_rng(seed + 1)
        items = gen.expected_sample(truth["items"], size["sample"], seed)
        # the benchmark numbers sampled items densely in ASIN order (see
        # prepare)
        dense = {x: i for i, x in enumerate(sorted(items, key=gen.asin_of))}
        # queries: three in four name an item by id, the rest by its
        # title's unique token; each item is asked for at most once
        queries = [(dense[items[p]],
                    str(dense[items[p]]) if rng.random() < 0.75 else f"x{items[p]}q")
                   for p in rng.permutation(len(items))]
        return {"meta": path, **truth, "sample": items, "queries": queries}

    def prepare(self, ctx):
        """The cold build; its time is the run's ``build_s``."""

        t0 = time.perf_counter()
        spark, tr, inp = ctx.spark, ctx.tr, ctx.inputs
        out = os.path.join(ctx.work, "index")
        with tr.span("sources.amazon_meta", "read_amazon_meta"):
            products = tr.materialize(
                read_amazon_meta(spark, inp["meta"], num_partitions=ctx.cores))
        with tr.span("operators.sampling", "seeded_sample"):
            sample = tr.materialize(
                seeded_sample(products, ctx.size["sample"], "asin", ctx.seed))
        # dense ids 0..n-1 in ASIN order
        dense = (F.row_number().over(Window.orderBy("asin")) - 1).cast("long")
        sample.withColumn("item_id", dense).write.mode("overwrite") \
            .parquet(f"{out}/products")
        sample = spark.read.parquet(f"{out}/products")
        ids = sample.select("asin", "item_id")
        with tr.span("operators.copurchase", "edges_from_similar"):
            edges_from_similar(sample) \
                .join(ids.withColumnRenamed("asin", "src"), "src") \
                .join(ids.select(F.col("asin").alias("dst"), F.col("item_id").alias("d")),
                      "dst") \
                .select(F.col("item_id").alias("src"), F.col("d").alias("dst"), "weight") \
                .write.mode("overwrite").parquet(f"{out}/edges")
        with tr.span("pipeline", "catalog_doc_text"):
            docs = tr.materialize(catalog_doc_text(sample).select(
                F.col("item_id").alias("vec_id"), "doc"))
        with tr.span("embeddings", "hashing_embedder"):
            hashing_embedder(docs, id_col="vec_id", text_col="doc",
                                     dim=EMBED_DIM) \
                .write.mode("overwrite").parquet(f"{out}/embeddings")
        emb = spark.read.parquet(f"{out}/embeddings")
        with tr.span("pipeline", "write_lsh_index"):
            write_lsh_index(spark, emb, out, n_bits=LSH_BITS, n_tables=LSH_TABLES)
        build_s = time.perf_counter() - t0
        nbytes, nfiles = 0, 0
        for sub in ("lsh_buckets", "lsh_docs"):
            b, f = _dir_bytes(f"{out}/{sub}")
            nbytes, nfiles = nbytes + b, nfiles + f
        ctx.layer_extra("pipeline", bytes_written=nbytes, files_written=nfiles)
        ctx.prepared = out
        ctx.index_bytes = nbytes
        return build_s

    def setup(self, ctx):
        """Open the built index in a fresh session, as a serving process
        does when it starts."""

        spark, out = ctx.spark, ctx.prepared
        with ctx.tr.span("pipeline", "load_lsh_index"):
            idx = load_lsh_index(spark, out)
        products = spark.read.parquet(f"{out}/products")
        ctx.state.update(
            idx=idx, emb=spark.read.parquet(f"{out}/embeddings"),
            edges=spark.read.parquet(f"{out}/edges"), products=products,
            names=products.select("item_id", F.col("title").alias("name")),
            next_query=0, rows_short=0, wrong_resolution=0, gemm_seen=[],
            served=[], lsh=[], served_q=[])

    def _batch(self, ctx, query_rows):
        """One serve call: resolve → GEMM + multiprobe LSH → CF → hybrid.
        Returns (hybrid rows, LSH rows, the GEMM DataFrame, resolve rows,
        resolved item ids)."""

        spark, tr, st = ctx.spark, ctx.tr, ctx.state
        qdf = spark.createDataFrame(query_rows, "qid int, query_text string")
        with tr.span("operators.resolve", "resolve_queries"):
            resolved = resolve_queries(qdf, st["names"]).collect()
        ids = [r.item_id for r in resolved if r.item_id is not None]
        ids_df = spark.createDataFrame([(int(x),) for x in ids], "vec_id long")
        q_rows = st["emb"].join(F.broadcast(ids_df), "vec_id").collect()
        q_local = (np.array([r.vec_id for r in q_rows], dtype=np.int64),
                   np.array([r.embedding for r in q_rows], dtype=np.float64))
        qemb = spark.createDataFrame([(int(r.vec_id), list(r.embedding)) for r in q_rows],
                                     "vec_id long, embedding array<float>")
        with tr.span("operators.similarity", "cosine_topk_gemm"):
            gemm = tr.materialize(cosine_topk_gemm(
                qemb, st["emb"], CONTENT_TOP_N, q_local=q_local))
        with tr.span("operators.similarity", "lsh_topk"):
            lsh_df = lsh_topk(qemb, st["emb"], TOP_K, n_bits=LSH_BITS, n_tables=LSH_TABLES,
                              index=st["idx"], multiprobe=1, dim=EMBED_DIM)
            lsh = lsh_df.collect()
        if tr.enabled:
            st.setdefault("lsh_traced", []).append((lsh_df, len(lsh)))
        with tr.span("operators.copurchase", "cf_topn"):
            cf = tr.materialize(cf_topn(
                st["edges"].join(F.broadcast(ids_df.withColumnRenamed("vec_id", "src")),
                                 "src", "left_semi"), CF_TOP_N))
        with tr.span("operators.hybrid", "hybrid_recommend"):
            rows = hybrid_recommend(qemb, st["emb"], st["edges"], content_candidates=gemm,
                                    cf_candidates=cf, k=TOP_K).collect()
        return rows, lsh, gemm, resolved, ids

    def op(self, ctx, i):
        st = ctx.state
        queries = ctx.inputs["queries"]
        b = ctx.size["batch"]
        chunk = [queries[(st["next_query"] + j) % len(queries)] for j in range(b)]
        st["next_query"] += b
        rows = [(j, text) for j, (_, text) in enumerate(chunk)]
        t0 = time.perf_counter()
        hybrid, lsh, gemm, resolved, ids = self._batch(ctx, rows)
        dt = time.perf_counter() - t0
        st["served"] += [(r.qid, r.cand, r.rank) for r in hybrid]
        st["lsh"] += [(r.qid, r.cand) for r in lsh]
        st["served_q"] += ids
        want = {j: item for j, (item, _) in enumerate(chunk)}
        wrong = sum(1 for r in resolved if r.item_id != want[r.qid])
        per_q = {}
        for r in hybrid:
            per_q[r.qid] = per_q.get(r.qid, 0) + 1
        short = sum(1 for x in ids if per_q.get(x, 0) != TOP_K)
        st["rows_short"] += short
        st["wrong_resolution"] += wrong
        if not st["gemm_seen"]:
            st["gemm_seen"] = gemm.filter("rank <= 10").collect()
        if short or wrong:
            raise AssertionError(f"batch {i}: {wrong} queries resolved wrongly, "
                                 f"{short} without {TOP_K} rows")
        return [dt]

    def finish(self, ctx):
        """One Precision@10 pass over every answer the loop served."""
        spark, tr, st = ctx.spark, ctx.tr, ctx.state
        t0 = time.perf_counter()
        ranked = spark.createDataFrame(st["served"], "qid long, cand long, rank int")
        qdf = spark.createDataFrame([(int(x),) for x in set(st["served_q"])], "qid long")
        gt = st["edges"].join(F.broadcast(qdf.withColumnRenamed("qid", "src")),
                              "src", "left_semi")
        with tr.span("operators.evaluate", "precision_at_k"):
            prec = precision_at_k({"hybrid": ranked}, gt, qdf, ks=[10],
                                     broadcast_gt=True).collect()
        st["eval_s"] = time.perf_counter() - t0
        st["precision"] = float(prec[0].precision)

    def after_trace(self, ctx):
        """Candidates the traced ``lsh_topk`` calls examined: the output rows
        of their own bucket join, read from the executed plans."""
        for df, n_results in ctx.state.get("lsh_traced", []):
            ctx.layer_extra("operators.similarity",
                            candidates=join_output_rows(df, "bucket"), results=n_results)

    def checks(self, ctx):
        st = ctx.state
        emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
               for r in st["emb"].collect()}
        ids = np.array(sorted(emb))
        mat = np.stack([emb[x] for x in ids])
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        gemm_ok = True
        by_q = {}
        for r in st["gemm_seen"]:
            by_q.setdefault(r.qid, []).append((r.rank, r.score))
        for qid in sorted(by_q)[:3]:
            sims = np.round(mat @ mat[np.searchsorted(ids, qid)], 6)
            sims[np.searchsorted(ids, qid)] = -np.inf
            want = np.sort(sims)[::-1][:10]
            got = np.array([s for _, s in sorted(by_q[qid])])
            gemm_ok &= len(got) == 10 and bool(np.allclose(got, want, atol=2e-6))
        # LSH recall: the loop's LSH top-10 against the exact top-10
        hits = total = 0
        got: dict = {}
        for q, c in st["lsh"]:
            got.setdefault(q, set()).add(c)
        for qid in set(st["served_q"]):
            row = np.searchsorted(ids, qid)
            sims = np.round(mat @ mat[row], 6)
            sims[row] = -np.inf
            exact = set(ids[np.argsort(-sims, kind="stable")[:10]].tolist())
            hits += len(exact & got.get(qid, set()))
            total += len(exact)
        st["recall"] = hits / max(1, total)
        inp = ctx.inputs
        n = len(inp["sample"])
        asin_of = {r.item_id: int(r.asin[1:]) for r in
                   st["products"].select("asin", "item_id").collect()}
        edges = {(asin_of[r.src], asin_of[r.dst]): int(r.weight)
                 for r in st["edges"].collect()}
        return [
            ("sample_count", len(asin_of) == n == ctx.size["sample"]),
            # the rows the seeded md5 order picks from the ingested records
            ("sample_rows", set(asin_of.values()) == set(inp["sample"])),
            ("edges_match_generator",
             edges == gen.expected_edges(inp["similar"], set(asin_of.values()))),
            ("gemm_matches_numpy", gemm_ok and len(by_q) > 0),
            ("every_query_k_rows", st["rows_short"] == 0),
            ("resolution_exact", st["wrong_resolution"] == 0),
            ("lsh_index_count", st["idx"].count() == n * LSH_TABLES),
            ("precision_in_range", 0.0 < st["precision"] <= 1.0),
        ]

    def named(self, ctx, ops):
        st = ctx.state
        b = ctx.size["batch"]
        p50 = _median(ops) * 1000.0
        out = {
            "build.records_per_s": (ctx.inputs["n_records"] / ctx.build_s, "1/s"),
            "build.index_bytes_per_record": (
                ctx.index_bytes / len(ctx.inputs["sample"]), "B"),
            "serve.queries_per_s": (b * len(ops) / sum(ops), "1/s"),
            "serve.batch_ms.p50": (p50, "ms"),
            "serve.eval_queries_per_s": (len(set(st["served_q"])) / st["eval_s"], "1/s"),
            "serve.precision_at_10": (st["precision"], "ratio"),
            "serve.ann_recall_at_10": (st["recall"], "ratio"),
        }
        tail = _tail([x * 1000.0 for x in ops])
        if tail is None:
            out["serve.batch_ms.tail"] = (max(ops) * 1000.0, "ms")
            out["serve.batch_ms.tail_pct"] = (100.0, "%")
        else:
            out["serve.batch_ms.tail"] = (tail[0], "ms")
            out["serve.batch_ms.tail_pct"] = (tail[1], "%")
        out["serve.batch_ms.samples"] = (len(ops), "count")
        return out, b * len(ops) / sum(ops), p50


# --------------------------------------------------------------------------
class Maintenance:
    """The offline maintenance path, one round per operation: streamed
    order-line micro-batches folded into versioned co-purchase state, LSH
    appends and a compaction, near-dup clustering of a planted corpus, and
    the SSSP graph fixpoint over Zipf co-purchase edges."""

    name = "maintenance"
    # a round is long enough that one untimed round would double the run
    WARMUP = False
    GRAPH_ROUNDS = {"weighted_sssp": 2}

    def inputs(self, cache, seed, size):
        orders = os.path.join(cache, "orders")
        vectors = os.path.join(cache, "vectors")
        os.makedirs(orders)
        os.makedirs(vectors)
        docs = os.path.join(cache, "docs.parquet")
        edges = os.path.join(cache, "edges.parquet")
        t = gen.order_line_batches(orders, size["batches"], size["orders"],
                                   size["items"], ZIPF["orders"], seed)
        paths = gen.vector_batches(vectors, [size["base"], *size["appends"]],
                                   EMBED_DIM, 32, seed + 1)
        lo, hi = size["families"]
        families = int(np.random.default_rng(seed + 4).integers(lo, hi + 1))
        t1 = gen.dedup_corpus(docs, size["docs"], families, size["depth"], seed + 2)
        t2 = gen.zipf_edges(edges, size["nodes"], size["edges"], ZIPF["edges"], seed + 3)
        return {"orders": orders, "base": paths[0], "appends": paths[1:],
                "docs": docs, "edges": edges, **t, **t1, **t2}

    def prepare(self, ctx):
        """The LSH index the rounds append to, written once in the fresh
        JVM; its time is the run's ``build_s``."""
        spark = ctx.spark
        ctx.prepared = os.path.join(ctx.work, "base")
        t0 = time.perf_counter()
        with ctx.tr.span("pipeline", "write_lsh_index"):
            write_lsh_index(spark, spark.read.parquet(ctx.inputs["base"]),
                            ctx.prepared, n_bits=LSH_BITS, n_tables=LSH_TABLES)
        return time.perf_counter() - t0

    def setup(self, ctx):
        spark = ctx.spark
        ctx.state.update(
            docs=spark.read.parquet(ctx.inputs["docs"]),
            edges=spark.read.parquet(ctx.inputs["edges"]),
            seeds=spark.createDataFrame([(s,) for s in ctx.inputs["seeds"]], "node long"))

    def op(self, ctx, i):
        rd = os.path.join(ctx.work, f"round-{i}")
        t0 = time.perf_counter()
        self._update(ctx, rd)
        t1 = time.perf_counter()
        self._dedup_graph(ctx, rd)
        t2 = time.perf_counter()
        ctx.state.setdefault("rounds", []).append(dict(dt=t2 - t0, update_s=t1 - t0, rd=rd))
        return [t2 - t0]

    def _update(self, ctx, rd):
        spark, tr, st, inp = ctx.spark, ctx.tr, ctx.state, ctx.inputs
        shutil.copytree(ctx.prepared, f"{rd}/index")
        stream = (spark.readStream.schema("order_id long, item_id long")
                  .option("maxFilesPerTrigger", 1).parquet(inp["orders"]))
        with tr.span("streaming.events", "incremental_copurchase") as sp:
            a = time.perf_counter()
            q = incremental_copurchase(stream, f"{rd}/state", f"{rd}/ckpt")
            start_s = time.perf_counter() - a
            sp.also_group(str(q.runId))
            q.awaitTermination()
            a = time.perf_counter()
            q.stop()
            stop_s = time.perf_counter() - a
        prog = [p.durationMs for p in q.recentProgress if p.numInputRows > 0]
        add = [d.get("addBatch", 0) for d in prog]
        wal = [d.get("walCommit", 0) for d in prog]
        for path in inp["appends"]:
            with tr.span("pipeline", "append_lsh_index"):
                append_lsh_index(spark, spark.read.parquet(path), f"{rd}/index")
        with tr.span("pipeline", "compact_lsh_index"):
            st["compact"] = compact_lsh_index(spark, f"{rd}/index")
        b, f = _dir_bytes(f"{rd}/index")
        ctx.layer_extra("pipeline", bytes_written=b, files_written=f)
        ctx.layer_extra("streaming.events", start_s=start_s, stop_s=stop_s,
                        add_batch_ms=_median(add), wal_commit_ms=_median(wal),
                        batch_growth=add[-1] / add[0] if add and add[0] else 0.0,
                        input_bytes=inp["input_bytes"])
        st.setdefault("batch_s", []).extend(d["triggerExecution"] / 1000.0 for d in prog)
        st.setdefault("n_batches", []).append(len(prog))

    def _dedup_graph(self, ctx, rd):
        spark, tr, st = ctx.spark, ctx.tr, ctx.state
        out = f"{rd}/dedup"
        res = {}
        t0 = time.perf_counter()
        with tr.span("pipeline", "write_dedup_clusters"):
            write_dedup_clusters(spark, st["docs"], out, n_hashes=8, n_bands=4,
                                 threshold=0.5)
        pairs = spark.read.parquet(f"{out}/dedup_pairs")
        with tr.span("operators.dedup", "connected_components"):
            res["cc"] = connected_components(pairs, st["docs"].select("doc_id")).collect()
        t1 = time.perf_counter()
        with tr.span("operators.graph", "weighted_sssp"):
            res["weighted_sssp"] = weighted_sssp(
                st["edges"], st["seeds"],
                n_rounds=self.GRAPH_ROUNDS["weighted_sssp"]).collect()
        t2 = time.perf_counter()
        if tr.enabled:
            st.setdefault("dedup_traced", []).append(out)
        b, f = _dir_bytes(out)
        ctx.layer_extra("pipeline", bytes_written=b, files_written=f)
        st.setdefault("dedup_s", []).append(t1 - t0)
        st.setdefault("graph_s", []).append(t2 - t1)
        if "cc" not in st:
            st.update(out=out, **res)

    def finish(self, ctx):
        pass

    def after_trace(self, ctx):
        """Candidate and verified pairs of the traced dedup rounds, counted
        from what they wrote; the span is outside the package's layers."""
        spark = ctx.spark
        for out in ctx.state.get("dedup_traced", []):
            with ctx.tr.span("benchmark", "count_dedup_pairs"):
                cand = bucket_chain_links(
                    spark.read.parquet(f"{out}/dedup_bands")).distinct().count()
                verified = spark.read.parquet(f"{out}/dedup_pairs").count()
            ctx.layer_extra("operators.dedup", candidates=cand, verified=verified)

    def checks(self, ctx):
        spark, st, inp = ctx.spark, ctx.state, ctx.inputs
        rd = st["rounds"][0]["rd"]
        state = {(r.src, r.dst): int(r.weight)
                 for r in read_edge_state(spark, f"{rd}/state").collect()}
        n_vec = ctx.size["base"] + sum(ctx.size["appends"])
        idx = load_lsh_index(spark, f"{rd}/index").agg(
            F.count(F.lit(1)).alias("rows"), F.countDistinct("cand").alias("ids")).first()
        cc = {r.doc_id: r.cluster_id for r in st["cc"]}
        stored = {r.doc_id: r.cluster_id for r in
                  load_dedup_clusters(spark, st["out"]).collect()}
        planted = [(a, b) for ch in inp["families"] for a, b in zip(ch, ch[1:])]
        together = sum(1 for a, b in planted if cc.get(a) == cc.get(b) is not None)
        st["planted_recall"] = together / max(1, len(planted))
        fam_of = {d: k for k, ch in enumerate(inp["families"]) for d in ch}
        members: dict = {}
        for d, c in cc.items():
            members.setdefault(c, set()).add(fam_of.get(d, ("solo", d)))
        dist = {r["node"]: r["dist"] for r in st["weighted_sssp"]}
        return [
            ("stream_equals_one_shot", state == inp["aggregate"]),
            ("one_batch_per_file", all(n == ctx.size["batches"] for n in st["n_batches"])),
            ("index_count", idx.rows == n_vec * LSH_TABLES and idx.ids == n_vec),
            ("compaction_not_more_files", st["compact"]["files_out"]
             <= st["compact"]["files_in"]),
            ("doc_count", len(cc) == inp["n_docs"]),
            ("cc_matches_stored_clusters", cc == stored),
            ("planted_pair_recall", st["planted_recall"] >= 0.95),
            ("no_false_merge", all(len(m) == 1 for m in members.values())),
            ("sssp_seeds_at_zero", all(dist.get(s) == 0 for s in inp["seeds"])),
        ]

    def named(self, ctx, ops):
        st, inp = ctx.state, ctx.inputs
        rows = inp["n_lines"] + sum(ctx.size["appends"])
        per_round = _median(ops)
        items = rows + inp["n_docs"] + inp["n_edges"]
        return {
            "update.rows_per_s": (rows / _median([r["update_s"] for r in st["rounds"]]), "1/s"),
            "update.batch_ms.p50": (_median(st["batch_s"]) * 1000.0, "ms"),
            "dedup.docs_per_s": (inp["n_docs"] / _median(st["dedup_s"]), "1/s"),
            "dedup.planted_pair_recall": (st["planted_recall"], "ratio"),
            "graph.edges_per_s": (inp["n_edges"] / _median(st["graph_s"]), "1/s"),
        }, items / per_round, per_round * 1000.0


WORKLOADS = {w.name: w for w in (BuildServe(), Maintenance())}
