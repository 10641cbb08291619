"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files. The program under test only ever sees the
files written here; the generator also returns the facts the benchmark needs
to check the program's outputs (record counts, planted duplicate families,
the one-shot co-purchase aggregate).
"""

from __future__ import annotations

import functools
import gzip
import hashlib
import os

import numpy as np


@functools.cache
def _vocab(n: int = 4000) -> tuple[str, ...]:
    """A fixed, seed-independent word list (pronounceable consonant-vowel
    syllables), so titles and documents tokenize like natural text."""
    rng = np.random.default_rng(0)
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return tuple(words)


def _zipf_index(rng: np.random.Generator, a: float, n: int, size: int) -> np.ndarray:
    """``size`` draws from a Zipf(a) law truncated to ranks [0, n)."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    return rng.choice(n, size=size, p=p)


def asin_of(item: int) -> str:
    """ASIN string of a generated item id. The benchmark maps ASINs back to
    int64 ids with ``int(asin[1:])``."""
    return f"B{item:09d}"


def amazon_meta(path: str, n_records: int, seed: int, zipf_a: float,
                n_topics: int = 64, max_similar: int = 5,
                dangling_frac: float = 0.1, untitled_frac: float = 0.01) -> dict:
    """Write a SNAP amazon-meta style gzip and return its ground truth.

    Items fall into ``n_topics`` topics; titles draw two words from the
    topic's own vocabulary, so the hashing embedder sees topic structure.
    ``similar`` lists draw their targets from the same topic by a Zipf(a)
    popularity law (a higher ``zipf_a`` concentrates co-purchases on fewer
    hub items), plus a ``dangling_frac`` share of ASINs outside the catalog.
    An ``untitled_frac`` share of records has no title and must be dropped
    by ingest. Every title carries a unique ``X<item>Q`` token, so a query
    naming it resolves to exactly that item.

    Returns {"items": item ids kept by ingest, "similar": {item: [targets]},
    "n_records": records written}.
    """
    rng = np.random.default_rng(seed)
    words = _vocab()
    groups = np.array(["Book", "Music", "DVD", "Video", "Toy"])
    item_ids = rng.permutation(np.arange(10_000, 10_000 + 4 * n_records))[:n_records]
    topic = rng.integers(0, n_topics, n_records)
    members = [np.flatnonzero(topic == t) for t in range(n_topics)]
    # popularity order within a topic is a seeded shuffle of its members
    members = [rng.permutation(m) for m in members]
    untitled = rng.random(n_records) < untitled_frac
    n_sim = rng.integers(0, max_similar + 1, n_records)
    kept, similar = [], {}
    with gzip.open(path, "wt", encoding="utf-8", compresslevel=1) as fh:
        fh.write("# Full information about Amazon Share the Love products\n")
        fh.write(f"Total items: {n_records}\n\n")
        for i in range(n_records):
            item = int(item_ids[i])
            t = int(topic[i])
            fh.write(f"Id:   {i}\nASIN: {asin_of(item)}\n")
            if untitled[i]:
                fh.write("  discontinued product\n\n")
                continue
            tw = [words[(t * 37 + j) % len(words)] for j in rng.integers(0, 12, 2)]
            cw = [words[j] for j in rng.integers(0, len(words), int(rng.integers(1, 4)))]
            title = " ".join([tw[0], *cw, tw[1], f"X{item}Q"])
            grp = groups[t % len(groups)]
            pool = members[t]
            picks = pool[_zipf_index(rng, zipf_a, len(pool), int(n_sim[i]))]
            targets = [int(item_ids[p]) for p in picks]
            targets = [x if rng.random() >= dangling_frac else int(rng.integers(1, 9_999))
                       for x in targets]
            fh.write(f"  title: {title}\n  group: {grp}\n"
                     f"  salesrank: {int(rng.integers(1, 10**6))}\n")
            fh.write(f"  similar: {len(targets)}"
                     + "".join(f"  {asin_of(x)}" for x in targets) + "\n")
            fh.write(f"  categories: 1\n   |{grp}s[1000]|Subjects[2000]|Topic {t}[{3000 + t}]\n")
            fh.write("  reviews: total: 0  downloaded: 0  avg rating: 0\n\n")
            kept.append(item)
            similar[item] = targets
    return {"items": kept, "similar": similar, "n_records": n_records}


def expected_sample(items: list, n: int, seed: int) -> list:
    """The ``n`` items ``seeded_sample(products, n, "asin", seed)`` must
    keep: those whose md5 of ``"<seed>:<asin>"`` sorts first."""
    key = {x: hashlib.md5(f"{seed}:{asin_of(x)}".encode()).hexdigest() for x in items}
    return sorted(items, key=key.__getitem__)[:n]


def expected_edges(similar: dict, universe: set) -> dict:
    """The co-purchase edges ``edges_from_similar`` must build from the
    products in ``universe``: (src, dst) → occurrences, dst in universe,
    no self loops."""
    out: dict = {}
    for src, targets in similar.items():
        if src not in universe:
            continue
        for dst in targets:
            if dst != src and dst in universe:
                out[(src, dst)] = out.get((src, dst), 0) + 1
    return out


def dedup_corpus(path: str, n_docs: int, n_families: int, depth: int,
                 seed: int, doc_words: int = 60) -> dict:
    """Write a parquet corpus (doc_id, source, text) with planted near-dup
    chains.

    ``n_families`` families each form a chain of ``depth`` + 1 documents:
    every link rewrites one word of its predecessor, so neighbours are
    near-duplicates while the chain's ends may not be. The remaining
    documents are independent random word sequences. Returns the planted
    chains as lists of doc ids.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    words = _vocab()
    texts, families = [], []
    for _ in range(n_families):
        doc = list(rng.integers(0, len(words), doc_words))
        chain = []
        for _ in range(depth + 1):
            chain.append(len(texts))
            texts.append(" ".join(words[w] for w in doc))
            doc = list(doc)
            doc[int(rng.integers(doc_words))] = int(rng.integers(len(words)))
        families.append(chain)
    while len(texts) < n_docs:
        texts.append(" ".join(words[w] for w in rng.integers(0, len(words), doc_words)))
    order = rng.permutation(len(texts))          # scatter families over ids
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[order] = np.arange(1, len(texts) + 1)
    table = pa.table({"doc_id": doc_id[np.argsort(doc_id)],
                      "source": ["web"] * len(texts),
                      "text": [texts[i] for i in np.argsort(doc_id)]})
    pq.write_table(table, path)
    return {"families": [[int(doc_id[i]) for i in chain] for chain in families],
            "n_docs": len(texts)}


def zipf_edges(path: str, n_nodes: int, n_edges: int, zipf_a: float,
               seed: int) -> dict:
    """Write a parquet co-purchase graph (src, dst, weight, cost): both ends
    drawn by a Zipf(a) popularity law, duplicates folded into integer
    weights, ``cost`` an integer in [1, 9]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_nodes) + 1
    src = perm[_zipf_index(rng, zipf_a, n_nodes, n_edges)]
    dst = perm[_zipf_index(rng, zipf_a, n_nodes, n_edges)]
    keep = src != dst
    pairs, weight = np.unique(np.stack([src[keep], dst[keep]], axis=1),
                              axis=0, return_counts=True)
    cost = rng.integers(1, 10, len(pairs))
    pq.write_table(pa.table({"src": pairs[:, 0].astype(np.int64),
                             "dst": pairs[:, 1].astype(np.int64),
                             "weight": weight.astype(np.int64),
                             "cost": cost.astype(np.int64)}), path)
    nodes = np.union1d(pairs[:, 0], pairs[:, 1])
    return {"n_edges": int(len(pairs)), "n_nodes": int(len(nodes)),
            "seeds": [int(x) for x in perm[:4]]}


def order_line_batches(dir_path: str, n_batches: int, orders_per_batch: int,
                       n_items: int, zipf_a: float, seed: int) -> dict:
    """Write ``n_batches`` parquet files of order lines (order_id, item_id):
    2-5 lines per order, items by a Zipf(a) law. Returns the one-shot
    co-purchase aggregate {(src, dst): weight} of all lines together, and
    the line and byte counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    agg: dict = {}
    n_lines, n_bytes, next_order = 0, 0, 1
    for b in range(n_batches):
        sizes = rng.integers(2, 6, orders_per_batch)
        oid = np.repeat(np.arange(next_order, next_order + orders_per_batch), sizes)
        next_order += orders_per_batch
        item = _zipf_index(rng, zipf_a, n_items, int(sizes.sum())) + 1
        start = 0
        for s in sizes:
            basket = item[start:start + s]
            start += s
            for x in basket:
                for y in basket:
                    if x != y:
                        agg[(int(x), int(y))] = agg.get((int(x), int(y)), 0) + 1
        path = os.path.join(dir_path, f"batch-{b:03d}.parquet")
        pq.write_table(pa.table({"order_id": oid.astype(np.int64),
                                 "item_id": item.astype(np.int64)}), path)
        n_lines += len(oid)
        n_bytes += os.path.getsize(path)
    return {"aggregate": agg, "n_lines": n_lines, "input_bytes": n_bytes}


def vector_batches(dir_path: str, sizes: list[int], dim: int, n_clusters: int,
                   seed: int) -> list[str]:
    """Write one parquet file of (vec_id, embedding) per size in ``sizes``:
    unit vectors around ``n_clusters`` seeded centres, ids numbered on from
    1 across the files. Returns the file paths in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((n_clusters, dim))
    paths, next_id = [], 1
    for b, n in enumerate(sizes):
        v = centres[rng.integers(0, n_clusters, n)] + 0.5 * rng.standard_normal((n, dim))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        path = os.path.join(dir_path, f"vectors-{b:03d}.parquet")
        pq.write_table(pa.table({
            "vec_id": np.arange(next_id, next_id + n, dtype=np.int64),
            "embedding": pa.array(list(v.astype(np.float32)),
                                  type=pa.list_(pa.float32()))}), path)
        next_id += n
        paths.append(path)
    return paths
