#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line to stdout:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Stdout carries ONLY that line (VERDICT r4 #1: per-iteration arrays grew the
line past the driver's tail capture and BENCH_r04 recorded parsed:null).
The full payload — per-iteration times, index-build timings, load average —
goes to stderr and to ``bench_full.json`` next to this file.

Headline set = every entry of ``queries()`` and ``extra_queries()`` in
``__spark_entry__``, in name order. Each query is timed end-to-end including
the action (count), after a warm-up of the input scans. The session comes
from ``session.get_spark`` — the same conf the tests run under.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.run import Contention, _psi_some_us  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# the 2000-char stdout window less 60 chars of slack (the line ends the
# stream, so line + newline <= 2000 is the hard bound)
_LINE_BUDGET = 1940


def stdout_line(headline: dict, timings: dict, driver: set) -> str:
    """The compact headline line for stdout, at most ``_LINE_BUDGET`` chars.

    The driver tail-captures the last ~2000 chars of stdout and
    json-parses the final line; rounds 6-7 recorded parsed=null because
    the line outgrew that window. So: compact separators, 2-decimal
    times, and while still too long, drop ``extra_queries()``-only keys
    (not in ``driver``) fastest first — a ``queries()`` key, which the
    driver checks, is never dropped. ``queries_omitted`` counts the
    dropped keys; bench_full.json always has every entry at full
    precision.
    """
    headline = dict(headline)
    kept = dict(timings)
    # slowest first, so pop() takes the fastest droppable key
    droppable = sorted((n for n in timings if n not in driver),
                       key=lambda n: timings[n], reverse=True)
    while True:
        headline["queries"] = {k: round(v, 2) for k, v in kept.items()}
        if len(kept) < len(timings):
            headline["queries_omitted"] = len(timings) - len(kept)
        line = json.dumps(headline, separators=(",", ":"))
        if len(line) <= _LINE_BUDGET or not droppable:
            return line
        kept.pop(droppable.pop())


def main() -> None:
    from hybrid_recommendation_system_using_vector_db_spark.session import get_spark, release

    spark = get_spark("spark-graft-bench", cpus=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    # the bench measures the whole implemented surface — driver-checked
    # entries plus the pytest-only extras — so headline membership stays
    # stable round-over-round even as entries move between surfaces
    qmap = {**entry_mod.extra_queries(), **entry_mod.queries()}
    names = sorted(qmap)

    # warm the file-scan + JVM (not counted): touch every input table once
    from hybrid_recommendation_system_using_vector_db_spark.datamodel import load_table

    for t in ("part", "orders", "lineitem", "events", "documents", "embeddings"):
        try:
            load_table(spark, SF_DIR, t).count()
        except Exception:
            pass

    # min of N runs per query: measures steady-state engine throughput, not
    # first-run JIT/codegen compilation (which amortizes to zero at scale).
    # ALL iteration times are reported (VERDICT r2 #4: a single min hid a
    # noisy-machine artifact in BENCH_r02), plus a load sentinel so a
    # loaded-host run is identifiable after the fact.
    #
    # Iterations run as FULL PASSES over the sweep, not back-to-back per
    # entry (r9): the VM host shows transient CPU-steal windows of a few
    # minutes that made CONTIGUOUS runs of entries 2-4x slower — with
    # back-to-back iterations both landed inside the window and min()
    # couldn't recover (observed as a different arbitrary regression set
    # on every run of identical code). Interleaved passes cost the same
    # total work, but a steal window hits DIFFERENT entries in each pass,
    # so the per-entry min rejects it. THREE passes (r10, VERDICT r9
    # wrong #1): min-of-2 recorded pq_topk at 4x its true warm cost when
    # one steal window spanned the same entry in both adjacent passes —
    # a third pass makes a window covering all of an entry's iterations
    # far less likely, and entries whose iteration spread still exceeds
    # 3x are flagged in the stderr report so a polluted record is
    # self-describing.
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    all_iters: dict[str, list] = {}
    rowcounts: dict[str, int] = {}
    failed: set = set()
    pass_load_avg: list[list[float]] = []   # host load at each pass start

    def _load() -> list[float]:
        try:
            return [round(x, 2) for x in os.getloadavg()]
        except OSError:
            return []

    # r14 (VERDICT r13 wrong #2): the warm-spread gate only catches steal
    # WINDOWS — a uniformly busy host inflates every pass equally and
    # sailed through as contended:false while shared-key totals drifted
    # +7.6%. Canary: a fixed SINGLE-THREADED numpy workload runs before
    # each pass while Spark is idle; one runnable thread on a 32-CPU box
    # cannot meaningfully self-stall, so any CPU pressure (PSI
    # /proc/pressure/cpu `some total` delta) during the canary window is
    # EXTERNAL load — exactly the signal loadavg can't give because
    # loadavg includes this bench's own local[32] work. Two gates:
    # stall fraction > 10% in any canary window (uniform external load),
    # canary max/min > 1.25 across passes (load that comes and goes).
    # A third gate, HYPERVISOR STEAL, is perfbench's Contention probe
    # around each pass: PSI only sees runnable-but-not-running inside
    # this kernel, while CPU stolen by the host shows up only in
    # /proc/stat's steal jiffies (measured here as exactly the failure
    # mode that inflated a sweep 1.5x while every canary stall read ~0).
    def _canary():
        import numpy as _np
        a = _np.random.default_rng(0).random(500_000)
        p0, t0 = _psi_some_us(), time.perf_counter()
        acc = 0.0
        for _ in range(40):
            acc += float(_np.sort(a)[0] + a.sum())
        dt = time.perf_counter() - t0
        p1 = _psi_some_us()
        stall = (None if p0 is None or p1 is None
                 else round((p1 - p0) / 1e6 / dt, 4))
        return round(dt * 1000.0, 1), stall

    canary_ms: list[float] = []
    canary_stall: list = []
    pass_steal_frac: list = []   # steal jiffies / all jiffies per pass
    for _pass in range(iters):
        pass_load_avg.append(_load())
        cms, cstall = _canary()
        canary_ms.append(cms)
        canary_stall.append(cstall)
        probe = Contention()
        for name in names:
            if name in failed:
                continue
            try:
                t0 = time.perf_counter()
                rowcounts[name] = qmap[name](spark, SF_DIR).count()
                all_iters.setdefault(name, []).append(
                    round(time.perf_counter() - t0, 3))
            except Exception as e:  # one broken query must not zero the report
                failed.add(name)
                all_iters.pop(name, None)
                print(f"# {name}: FAILED {type(e).__name__}: {str(e)[:120]}",
                      file=sys.stderr)
        steal = probe.report()["steal_frac"]
        pass_steal_frac.append(None if steal is None else round(steal, 4))
    timings: dict[str, float] = {}
    total = 0.0
    windowed: list[str] = []
    for name in names:
        if name not in all_iters:
            continue
        best = min(all_iters[name])
        timings[name] = best
        total += best
        # VERDICT r9 wrong #1: iteration spread >3x marks a probable
        # host CPU-steal window — the recorded min may still be polluted
        # if the window spanned every pass of this entry. The spread is
        # computed over the WARM passes only (iters[1:]): pass 1 is
        # expected-cold for every session-memoized entry, so including
        # it flags half the sweep on every clean run.
        warm = all_iters[name][1:] if len(all_iters[name]) > 2 \
            else all_iters[name]
        spread = (max(warm) / min(warm)) if min(warm) > 0 else 1.0
        flag = ""
        if len(warm) > 1 and spread > 3.0:
            flag = f"  ** warm spread {spread:.1f}x (steal-window suspect)"
            windowed.append(name)
        print(f"# {name}: {best:.3f}s ({rowcounts[name]} rows) "
              f"iters={all_iters[name]}{flag}", file=sys.stderr)
    if windowed:
        print(f"# steal-window suspects (iter spread >3x): {windowed}",
              file=sys.stderr)
    # VERDICT r11 next #1: the suspects list and the contention verdict
    # go INTO the JSON record (previously stderr-only, so a polluted
    # record wasn't machine-readably self-describing). `contended` keys
    # off the suspects + the canary gates — absolute load_avg includes
    # this bench's own local[32] work, so it is recorded for forensics,
    # not judged; the canary isolates EXTERNAL load (r14, VERDICT r13
    # wrong #2: a uniform +7.6% inflation passed as contended:false).
    stalls = [s for s in canary_stall if s is not None]
    canary_spread = (max(canary_ms) / min(canary_ms)
                     if canary_ms and min(canary_ms) > 0 else 1.0)
    canary_contended = (bool(stalls) and max(stalls) > 0.10) \
        or canary_spread > 1.25
    if canary_contended:
        print(f"# canary contention: ms={canary_ms} "
              f"stall_frac={canary_stall} spread={canary_spread:.2f}x",
              file=sys.stderr)
    # steal gate (r14): >1% of all CPU jiffies stolen during any pass.
    # A clean host measures ~0.1-0.6% at idle; the sweep that drifted
    # 1.5x measured 2.3-2.7% during its passes with every other gate
    # green. Hypervisor steal is invisible to PSI and to loadavg.
    steals = [s for s in pass_steal_frac if s is not None]
    steal_contended = bool(steals) and max(steals) > 0.01
    if steal_contended:
        print(f"# steal contention: pass_steal_frac={pass_steal_frac}",
              file=sys.stderr)
    contended = bool(windowed) or canary_contended or steal_contended

    # index build phases, timed separately (VERDICT r2 #8): the serve-path
    # entries above ride session-memoized persisted indexes, so the build
    # cost would otherwise be invisible in the headline numbers. These are
    # un-memoized single-shot builds (build cost is paid once per corpus
    # in production — min-of-iters would just measure the scan cache).
    from hybrid_recommendation_system_using_vector_db_spark.operators import (
        copurchase, linalg, mf, similarity,
    )

    def _lsh_lifecycle_build() -> int:
        # un-memoized persisted-lifecycle cost: write half, append half
        # through the staged commit, load back (the index_lifecycle
        # sweep entry above rides the session memo after pass 1)
        import shutil
        import tempfile

        from hybrid_recommendation_system_using_vector_db_spark import pipeline
        from pyspark.sql import functions as _F

        out = tempfile.mkdtemp(prefix="spark_graft_bench_lsh_")
        try:
            pipeline.write_lsh_index(
                spark, emb.filter(_F.col("vec_id") % 2 == 0), out,
                n_bits=5, n_tables=8)
            pipeline.append_lsh_index(
                spark, emb.filter(_F.col("vec_id") % 2 == 1), out)
            return pipeline.load_lsh_index(spark, out).count()
        finally:
            shutil.rmtree(out, ignore_errors=True)

    emb = load_table(spark, SF_DIR, "embeddings")
    builds = {
        "lsh_build": lambda: similarity.lsh_build_index(
            emb, n_bits=5, n_tables=8).count(),
        "lsh_lifecycle_build": _lsh_lifecycle_build,
        "ivf_build": lambda: similarity.ivf_build_lists(
            emb, similarity.kmeans_centroids_local(emb, 16, 2)).count(),
        "cf_build": lambda: copurchase.cf_topn(
            copurchase.copurchase_edges(
                load_table(spark, SF_DIR, "lineitem")), 60).count(),
        # PCA training = the gram_matrix corpus pass + driver eigh; the
        # pca_topk serve entry above rides the memoized components
        "pca_build": lambda: len(linalg.pca_components(
            [(r.i, r.j, r.g)
             for r in linalg.gram_matrix(emb, dim=64).collect()],
            n_components=16)),
        # implicit-ALS factorization over the co-purchase graph (the
        # als_recommend entry rides the session-memoized rec table)
        "als_train": lambda: mf.als_recommend(
            copurchase.copurchase_edges(
                load_table(spark, SF_DIR, "lineitem")),
            k=10, user_mod=20).count(),
    }
    # r7 trainers (their serve entries ride session memos, so the train
    # cost is only visible here): LID char-trigram profiles, KN word LM,
    # the LR quality classifier, and the unigram-LM EM loop
    from hybrid_recommendation_system_using_vector_db_spark.operators import (
        classifier, textops, unigram_lm,
    )

    docs = load_table(spark, SF_DIR, "documents")
    builds.update({
        "lid_train": lambda: textops.train_language_profiles(docs).count(),
        "kn_train": lambda: textops.kn_word_lm(docs).count(),
        "qclf_train": lambda: len(classifier.train_quality_classifier(
            docs.selectExpr("doc_id", "text",
                            "CAST(lang = 'en' AS DOUBLE) AS label"))[0]),
        "unigram_train": lambda: unigram_lm.unigram_lm_train(docs).count(),
    })
    build_timings: dict[str, float] = {}
    for name, fn in builds.items():
        try:
            t0 = time.perf_counter()
            n = fn()
            dt = round(time.perf_counter() - t0, 3)
        except Exception as e:
            print(f"# {name}: FAILED {type(e).__name__}: {str(e)[:120]}", file=sys.stderr)
            continue
        build_timings[name] = dt
        print(f"# {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)

    # amortized hybrid serve: BASELINE.md's published unit is PER-QUERY
    # latency over a batch (50 hybrid queries ≈ 0.168 s ≈ 3.4 ms/q
    # in-process). A 40-query Spark total is dominated by the per-action
    # scheduling floor, so measure ~500 queries through the memoized serve
    # chain in ONE batched action and report ms/query (VERDICT r6 next #6).
    #
    # Measurement discipline (VERDICT r8 What's-wrong #1): the r8 driver
    # record came in 4x slower than an identical-code snapshot three hours
    # earlier (8.65 vs 2.11 ms/q) — BOTH serve iterations slow, so not
    # cold-start; the serve batch ran last, after the 126-entry sweep had
    # accumulated ~30 persisted memo DataFrames and their cached blocks
    # (GC/memory-pressure suspects). Three changes: (1) quiesce the
    # session first — drop every sweep memo + cached relation and force a
    # JVM GC, so serving starts from the same state a fresh session has;
    # (2) >=5 timed iterations; (3) report the MEDIAN as the canonical
    # ms/q (min recorded alongside) so one noisy iteration cannot set the
    # round's number. Observed spread after quiescing at sf0.1/local[32]
    # (r9): iters [0.672..2.854] s — bimodal (occasional GC/scheduler
    # stall doubles an iteration), which is exactly why the canonical
    # number is the median of >=5, not a single run or the mean; the
    # median landed within 25% of min across repeated r9 runs.
    serve_per_q_ms = None
    serve_per_q_ms_min = None
    serve_iters: list[float] = []
    n_serve_q = 0
    try:
        release(spark)                      # drop sweep-phase memos
        spark.catalog.clearCache()          # and any stray cached plans
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        sdf = entry_mod.hybrid_serve_batch(spark, SF_DIR)
        n_serve_q = sdf.select("qid").distinct().count()  # warm run
        if n_serve_q:
            sdf.count()                     # second warm: indexes persisted
            for _ in range(max(iters, 5)):
                t0 = time.perf_counter()
                sdf.count()
                serve_iters.append(round(time.perf_counter() - t0, 3))
            srt = sorted(serve_iters)
            median = srt[len(srt) // 2] if len(srt) % 2 else \
                (srt[len(srt) // 2 - 1] + srt[len(srt) // 2]) / 2.0
            serve_per_q_ms = round(median / n_serve_q * 1000, 3)
            serve_per_q_ms_min = round(min(serve_iters) / n_serve_q * 1000, 3)
        print(f"# hybrid_serve_batch: {n_serve_q} queries, "
              f"median {serve_per_q_ms} ms/q, min {serve_per_q_ms_min} ms/q "
              f"iters={serve_iters}", file=sys.stderr)
    except Exception as e:
        print(f"# hybrid_serve_batch: FAILED {type(e).__name__}: "
              f"{str(e)[:120]}", file=sys.stderr)

    try:
        load_avg = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_avg = []

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    headline = {
        "metric": "headline_total_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # machine-readable contention record (VERDICT r11 next #1):
        # entries whose WARM iteration spread exceeded 3x, and the
        # one-bit verdict — a polluted sweep is self-describing
        "contended": contended,
        "suspects": windowed[:12],
        # r15 (VERDICT r14 next #2): the r14 per-pass gate ARRAYS cost the
        # stdout line ~11 per-query keys (queries_omitted 140 -> 151), so
        # the compact line now carries SCALAR summaries only — the full
        # arrays stay in bench_full.json. canary_ms_min = host per-core
        # speed floor (cross-round comparable); canary_spread + steal_max
        # are the values the contention gates actually judge.
        "canary_ms_min": min(canary_ms) if canary_ms else None,
        "canary_spread": round(canary_spread, 3),
        "steal_max": max(steals) if steals else None,
    }
    if serve_per_q_ms is not None:
        headline["hybrid_serve_per_query_ms"] = serve_per_q_ms
        headline["hybrid_serve_per_query_ms_min"] = serve_per_q_ms_min
    full = {**headline, "suspects": windowed, "iters": all_iters,
            "builds": build_timings, "serve_iters": serve_iters,
            "load_avg": load_avg, "pass_load_avg": pass_load_avg,
            # full per-pass gate arrays (scalar-summarized on stdout)
            "canary_ms": canary_ms, "canary_stall": canary_stall,
            "pass_steal_frac": pass_steal_frac,
            "hybrid_serve_n_queries": n_serve_q}
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_full.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    print(f"# full payload (iters/builds/load_avg): {full_path}", file=sys.stderr)
    print(json.dumps(full), file=sys.stderr)
    print(stdout_line(headline, timings, set(entry_mod.queries())))
    spark.stop()


if __name__ == "__main__":
    main()
