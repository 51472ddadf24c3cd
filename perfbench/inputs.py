"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows. The program under test only ever sees the rows.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

# 30 of the 31 words of the sf0.1 ``documents`` table (a low-entropy
# vocabulary, so SimHash buckets and shingle postings are as skewed as
# there)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort source spark "
    "stream table the value vector window"
).split()
EMBED_DIM = 64


def documents(seed: int, n_docs: int, n_planted: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """(doc_id, text) rows plus the planted near-duplicate id pairs.

    Background documents are 12-60 random vocabulary words. Each planted
    pair is a 70-90 word document and a copy with its last word replaced,
    so the pair's word-3-gram Jaccard is at least 0.95 and the two share
    a repeated span of more than 50 tokens. Every fifth background
    document carries two identical boilerplate lines for the line-level
    repetition signals.
    """
    rng = random.Random(seed)
    rows: list[tuple[int, str]] = []
    for i in range(n_docs):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(12, 60))]
        text = " ".join(words)
        if i % 5 == 0:
            text += "\nrepeated boilerplate line\nrepeated boilerplate line"
        rows.append((i, text))
    planted: list[tuple[int, int]] = []
    next_id = n_docs
    for _ in range(n_planted):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(70, 90))]
        twin = words[:-1] + [rng.choice([w for w in VOCAB if w != words[-1]])]
        rows.append((next_id, " ".join(words)))
        rows.append((next_id + 1, " ".join(twin)))
        planted.append((next_id, next_id + 1))
        next_id += 2
    return pd.DataFrame(rows, columns=["doc_id", "text"]), planted


def embeddings(seed: int, n_vecs: int, n_planted: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """(vec_id, embedding) unit vectors plus planted near-duplicate pairs
    (a vector and a copy with 1e-3 noise, cosine above 0.999)."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_vecs, EMBED_DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    src = rng.choice(n_vecs, size=n_planted, replace=False)
    noisy = base[src] + 1e-3 * rng.standard_normal((n_planted, EMBED_DIM))
    vecs = np.vstack([base, noisy]).astype(np.float32)
    ids = list(range(n_vecs + n_planted))
    planted = [(int(s), n_vecs + k) for k, s in enumerate(src)]
    pdf = pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in vecs]})
    return pdf, planted


def link_graph(seed: int, n_nodes: int) -> pd.DataFrame:
    """Directed weighted web-link graph (src, dst, weight) with the shape
    ``datagen.generate_corpus`` plants: about 20% of pages link to one
    hub page, and every page links to 0-3 uniformly chosen others."""
    rng = random.Random(seed)
    rows: list[tuple[str, str, float]] = []
    for i in range(n_nodes):
        links: list[int] = []
        if i > 0 and rng.random() < 0.20:
            links.append(0)
        for _ in range(rng.randint(0, 3)):
            j = rng.randrange(n_nodes)
            if j != i and j not in links:
                links.append(j)
        for j in links:
            rows.append((f"n{i:06d}", f"n{j:06d}", float(rng.randint(1, 9))))
    return pd.DataFrame(rows, columns=["src", "dst", "weight"])


def graph_sources(seed: int, n_nodes: int, k: int) -> list[str]:
    """``k`` distinct seeded start vertices for the path searches."""
    rng = random.Random(seed + 1)
    return [f"n{i:06d}" for i in sorted(rng.sample(range(1, n_nodes), k))]


def crawl_delta(old: pd.DataFrame, fresh: pd.DataFrame, buckets: list[int],
                bucket_of: dict[str, int], per_bucket: int, seed: int) -> tuple[pd.DataFrame, list[str]]:
    """New corpus snapshot and its changed urls.

    ``old`` and ``fresh`` are two generated page tables over the same
    urls. In each of ``buckets``, ``per_bucket`` pages take their
    ``fresh`` content (updates) and one more page is deleted.
    """
    rng = random.Random(seed)
    updated: list[str] = []
    deleted: list[str] = []
    for b in buckets:
        urls = sorted(u for u, ub in bucket_of.items() if ub == b)
        pick = rng.sample(urls, per_bucket + 1)
        updated += pick[:-1]
        deleted.append(pick[-1])
    fresh_rows = fresh.set_index("url").loc[updated].reset_index()
    keep = old[~old["url"].isin(updated + deleted)]
    new = pd.concat([keep, fresh_rows[old.columns]], ignore_index=True)
    return new.sort_values("url", ignore_index=True), sorted(updated + deleted)
