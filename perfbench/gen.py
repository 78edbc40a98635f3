"""Seeded corpus generator for the benchmark.

Writes a ``documents`` + ``embeddings`` parquet pair in the schema the
engine's loaders read (``sources.tables``), shaped like the bundled sf0.1
test corpus: texts of 10-100 tokens drawn from a 30-word vocabulary, the
sf0.1 language mix, 20 round-robin sources, and unit-norm 64-dim vectors
around 10 label centroids with the sf0.1 per-label spread.  Nothing is read
from disk; the same seed and properties give byte-identical files.

The input properties the curation and dedup gates depend on are parameters
and are recorded next to the data in ``gen_meta.json``:

- ``exact_dup_share``: docs whose text copies an earlier doc verbatim;
- ``near_dup_share`` / ``near_dup_edit_rate``: docs that copy an earlier doc
  with that share of tokens substituted (at least one), plus an appended
  marker token, as in sf0.1;
- ``embedded_share``: docs that get a vector (``vec_id = doc_id``); every
  vector is a fresh draw, never a copy, so dense clusters of identical
  vectors cannot trip the semantic-dedup candidate budget;
- ``hot_docs``: the number of docs that carry one fixed boilerplate
  phrase.  Its shingles occur in exactly that many docs; above the dedup
  gates' hot-shingle cap (``operators.dedup.HOT_SHINGLE_CAP``) they count
  as corpus-wide boilerplate.  A count rather than a share, so that the
  corpus size does not move a corpus across the cap.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.150, 0.149, 0.148, 0.141)
N_SOURCES = 20
NEAR_DUP_MARK = "dup"
BOILERPLATE = "subscribe newsletter cookie policy terms privacy notice".split()
DIM = 64
N_LABELS = 10
CENTROID_NORM = 0.07  # |mean vector| of one sf0.1 label
LABEL_SPREAD = 0.125  # per-coordinate std within one sf0.1 label


@dataclass(frozen=True)
class CorpusSpec:
    """The controlled input properties; recorded with every corpus."""

    docs: int = 5000
    exact_dup_share: float = 0.002
    near_dup_share: float = 0.05
    near_dup_edit_rate: float = 0.02
    embedded_share: float = 0.4
    hot_docs: int = 0


def _texts(rng: np.random.Generator, spec: CorpusSpec) -> tuple[list[str], dict]:
    n = spec.docs
    lens = rng.integers(10, 101, size=n)
    words = np.asarray(VOCAB)
    base = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in lens]
    # exact counts rather than per-doc coin flips, so corpora of different
    # seeds carry the same number of copies; doc 0 has nothing to copy
    others = rng.permutation(np.arange(1, n))
    n_exact = round(spec.exact_dup_share * n)
    n_near = round(spec.near_dup_share * n)
    exact = np.zeros(n, bool)
    near = np.zeros(n, bool)
    exact[others[:n_exact]] = True
    near[others[n_exact:n_exact + n_near]] = True
    src = [int(rng.integers(0, i)) if i else 0 for i in range(n)]
    texts: list[str] = []
    for i in range(n):
        if exact[i]:
            texts.append(texts[src[i]])
        elif near[i]:
            toks = texts[src[i]].split(" ")
            k = max(1, int(round(spec.near_dup_edit_rate * len(toks))))
            for j in rng.choice(len(toks), size=min(k, len(toks)), replace=False):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks + [NEAR_DUP_MARK]))
        else:
            texts.append(base[i])
    hot = np.zeros(n, bool)
    hot[rng.choice(n, spec.hot_docs, replace=False)] = True
    for i in np.flatnonzero(hot):
        toks = texts[i].split(" ")
        at = int(rng.integers(0, len(toks) + 1))
        texts[i] = " ".join(toks[:at] + BOILERPLATE + toks[at:])
    stats = {
        "exact_dups": int(exact.sum()),
        "near_dups": int(near.sum()),
        "hot_docs": int(hot.sum()),
    }
    return texts, stats


def _embeddings(rng: np.random.Generator, spec: CorpusSpec) -> pa.Table:
    n = spec.docs
    ids = np.sort(rng.choice(n, round(spec.embedded_share * n), replace=False))
    cent = rng.standard_normal((N_LABELS, DIM))
    cent *= CENTROID_NORM / np.linalg.norm(cent, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=len(ids))
    vecs = cent[labels] + LABEL_SPREAD * rng.standard_normal((len(ids), DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(seed: int, spec: CorpusSpec, out_dir: str) -> dict:
    """Write ``documents.parquet``, ``embeddings.parquet`` and
    ``gen_meta.json`` under ``out_dir``; return the metadata."""
    rng = np.random.default_rng([seed, spec.docs])
    texts, stats = _texts(rng, spec)
    n = spec.docs
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = _embeddings(rng, spec)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    meta = {
        "seed": seed,
        "spec": asdict(spec),
        **stats,
        "embedded": emb.num_rows,
    }
    with open(os.path.join(out_dir, "gen_meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta
