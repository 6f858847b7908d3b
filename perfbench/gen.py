"""Seeded input generator for the benchmark workloads.

Self-contained on purpose: it does not import ``pyjedai_spark.synth``,
so a library change cannot shift the benchmark's inputs. The same
(workload, seed) always yields byte-identical rows.

Every workload writes one parquet file in the registry's ``documents``
schema (doc_id, text, lang, source, n_chars) plus an ``html`` column,
so registry queries and their DuckDB oracles run on it unchanged.
``extract_text(html) == text`` holds for every row: the html only adds
tag chrome and line breaks between paragraphs.

Near-duplicate clusters are planted: a base document plus 1-3 mutated
copies (token replace / delete / insert at ``mutation_rate``). All
intra-cluster pairs form the ground truth.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# The 56 most frequent words: English stopwords first (the Gopher gate
# needs two of them per document), then crawl/engine words. Generated
# words w00056.. form the long tail.
BASE_VOCAB = [
    "the", "and", "of", "to", "in", "is", "that", "with", "for", "a",
    "data", "web", "page", "crawl", "index", "search", "link", "site",
    "text", "train", "model", "token", "spark", "query", "table", "join",
    "hash", "shard", "batch", "corpus", "filter", "clean", "store",
    "cache", "graph", "node", "edge", "block", "match", "score", "rank",
    "merge", "split", "count", "group", "window", "stream", "stage",
    "task", "plan", "scan", "read", "write", "row", "column", "value",
]

LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# Per workload: corpus size, vocabulary size, planted-duplicate shape,
# document length range. Both corpora sample a Zipf(1.3) vocabulary of
# 20k words, the long tail real webtext has. (The dense 56-word
# vocabulary alone was tried for der_flagship: at 1,200 docs purging
# and filtering leave 3 blocks, CNP does no work, and shuffle bytes
# varied 24% between seeds.)
SPECS = {
    "der_flagship": dict(n_docs=1200, vocab=20000, dup_fraction=0.3,
                         mutation_rate=0.1, doc_len=(30, 120),
                         exact_fraction=0.0, url_dup_fraction=0.0),
    "web_dedup": dict(n_docs=600, vocab=20000, dup_fraction=0.3,
                      mutation_rate=0.03, doc_len=(30, 160),
                      exact_fraction=0.05, url_dup_fraction=0.05),
}


def _vocab(size):
    if size is None:
        return BASE_VOCAB
    return BASE_VOCAB + [f"w{i:05d}" for i in range(len(BASE_VOCAB), size)]


def _html(tokens, doc_id):
    """Tag-only chrome, one <p> per 12 tokens on its own line:
    stripping tags and collapsing whitespace gives back the text."""
    paras = [" ".join(tokens[i:i + 12]) for i in range(0, len(tokens), 12)]
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    return (f'<html><head><meta charset="utf-8" data-doc="{doc_id}"/>'
            f"<title></title></head>\n<body>\n{body}\n</body></html>"
            ).encode("utf-8")


def generate(workload: str, seed: int):
    """Return (docs, gt_pairs). ``docs`` is a pandas frame in the
    documents-plus-html schema; ``gt_pairs`` a set of (id1 < id2)."""
    spec = SPECS[workload]
    n_docs = spec["n_docs"]
    vocab = _vocab(spec["vocab"])
    nv = len(vocab)
    rng = np.random.RandomState(
        (seed * 1_000_003 + sorted(SPECS).index(workload)) % (2 ** 32))
    lo, hi = spec["doc_len"]

    def make_doc():
        ln = rng.randint(lo, hi)
        idx = np.empty(0, dtype=np.int64)
        while len(idx) < ln:
            z = rng.zipf(1.3, size=ln * 2) - 1
            idx = np.concatenate([idx, z[z < nv]])
        return [vocab[i] for i in idx[:ln]]

    def mutate(tokens):
        toks = list(tokens)
        for _ in range(max(1, int(len(toks) * spec["mutation_rate"]))):
            op, pos = rng.randint(3), rng.randint(len(toks))
            if op == 0:
                toks[pos] = vocab[rng.randint(nv)]
            elif op == 1 and len(toks) > 5:
                toks.pop(pos)
            else:
                toks.insert(pos, vocab[rng.randint(nv)])
        return toks

    texts, clusters = [], []
    while len(texts) < n_docs:
        base = make_doc()
        members = [len(texts)]
        texts.append(base)
        if rng.rand() < spec["dup_fraction"]:
            for _ in range(rng.randint(1, 4)):
                if len(texts) >= n_docs:
                    break
                exact = rng.rand() < spec["exact_fraction"] / spec["dup_fraction"]
                members.append(len(texts))
                texts.append(list(base) if exact else mutate(base))
        if len(members) > 1:
            clusters.append(members)

    # source: 50 consecutive ids share one, so the registry's derived url
    # (source, doc_id % 50) is unique unless a doc re-uses the source of
    # the doc 50 ids earlier (a planted re-crawl url collision)
    sources = [f"src{i // 50}" for i in range(n_docs)]
    for i in range(50, n_docs):
        if rng.rand() < spec["url_dup_fraction"]:
            sources[i] = sources[i - 50]
    text_str = [" ".join(t) for t in texts]
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text_str,
        "lang": [LANGS[rng.randint(len(LANGS))] for _ in range(n_docs)],
        "source": sources,
        "n_chars": np.array([len(t) for t in text_str], dtype=np.int64),
        "html": [_html(t, i) for i, t in enumerate(texts)],
    })
    gt = {(a, b) for m in clusters for i, a in enumerate(m) for b in m[i + 1:]}
    return docs, gt


def content_hash(docs: pd.DataFrame) -> str:
    """sha256 over the row values (not the parquet bytes, which carry
    writer metadata)."""
    h = pd.util.hash_pandas_object(docs, index=False).values
    return hashlib.sha256(h.tobytes()).hexdigest()[:16]
