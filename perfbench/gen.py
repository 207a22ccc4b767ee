"""Seeded input generator for the benchmark workloads.

The engine's gate queries read two tables from a directory: ``documents``
(doc_id, text, lang, source, n_chars) and ``embeddings`` (vec_id,
embedding, label). This module builds both from a seed alone, in the shape
of the repository's sf0.1 test fixture:

- text: 10-100 words drawn uniformly from a 30-word vocabulary; 5% of the
  documents are near-duplicates (an earlier document's text plus ``dup``);
- lang: ``en`` for half the documents, ``de``/``es``/``fr``/``zh`` for the
  rest; source: ``src<doc_id % 20>``;
- embeddings: ``N_VECS`` unit 64-d float32 vectors, label uniform in 0..9.

A base corpus is then amplified into ``copies`` copies, like
``bench/sf1_spot.py``: copy k > 0 prefixes every word with a per-copy tag
(so copies share no shingles and the dedup structure repeats per copy),
offsets doc_id and vec_id by a per-copy offset, and rotates each embedding
by a per-copy number of positions. The seed drives the base corpus, the
prefixes, the offsets and the rotations.

``hot_share`` sends that share of the base documents to a word count
inside one grid cell of the n_tok axis (``HOT_WORDS``), so one cell is hot.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)
DIM = 64
N_VECS = 64
NEAR_DUP_SHARE = 0.05
# n_tok == word count (the tokenizer maps one word to one token); the
# engine's grid has 8-wide cells, so 48..55 words is exactly cell 6, the
# cell the default q_mid query point sits in
HOT_WORDS = (48, 55)
ID_STRIDE = 1_000_000


def base_documents(rng: np.random.Generator, n: int, hot_share: float) -> dict:
    n_words = rng.integers(10, 101, size=n)
    hot = rng.random(n) < hot_share
    n_words[hot] = rng.integers(HOT_WORDS[0], HOT_WORDS[1] + 1, size=int(hot.sum()))
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), size=k)]) for k in n_words]
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return {"text": texts, "lang": [LANGS[j] for j in langs]}


def base_embeddings(rng: np.random.Generator, n: int) -> dict:
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {"embedding": x, "label": rng.integers(0, 10, size=n).astype(np.int32)}


def copy_plan(rng: np.random.Generator, copies: int) -> list[dict]:
    """Per-copy word prefix, id offset and embedding rotation; copy 0 is the
    base corpus unchanged."""
    plan = [{"prefix": "", "offset": 0, "rot": 0}]
    rots = rng.permutation(np.arange(1, DIM))
    for k in range(1, copies):
        tag = "".join(rng.choice(list(string.ascii_lowercase), size=3))
        plan.append(
            {
                "prefix": f"q{k}{tag}",
                "offset": k * ID_STRIDE + int(rng.integers(0, ID_STRIDE // 2)),
                "rot": int(rots[(k - 1) % len(rots)]),
            }
        )
    return plan


def generate(
    out_dir: str,
    seed: int,
    n_docs: int,
    copies: int = 1,
    hot_share: float = 0.0,
) -> str:
    """Write documents.parquet and embeddings.parquet under out_dir, once:
    a ``_SUCCESS`` marker written after the last file makes a complete
    directory reusable and a torn one regenerated. Returns out_dir."""
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = base_documents(rng, n_docs, hot_share)
    emb = base_embeddings(rng, N_VECS)
    plan = copy_plan(rng, copies)

    d_id, d_text, d_lang, d_src = [], [], [], []
    v_id, v_emb, v_label = [], [], []
    for c in plan:
        ids = np.arange(n_docs, dtype=np.int64) + c["offset"]
        d_id.append(ids)
        p = c["prefix"]
        d_text += (
            docs["text"]
            if not p
            else [" ".join(p + w for w in t.split(" ")) for t in docs["text"]]
        )
        d_lang += docs["lang"]
        d_src += [f"src{i % 20}" for i in ids]
        v_id.append(np.arange(N_VECS, dtype=np.int64) + c["offset"])
        v_emb.append(np.roll(emb["embedding"], -c["rot"], axis=1))
        v_label.append(emb["label"])

    documents = pa.table(
        {
            "doc_id": pa.array(np.concatenate(d_id)),
            "text": pa.array(d_text),
            "lang": pa.array(d_lang),
            "source": pa.array(d_src),
            "n_chars": pa.array([len(t) for t in d_text], type=pa.int64()),
        }
    )
    vecs = np.concatenate(v_emb)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.concatenate(v_id)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(v_label)),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out_dir
