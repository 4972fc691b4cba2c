"""Seeded inputs for the workloads. The same seed gives the same
inputs; the program under test only ever sees the generated frames.

- ``sf_documents``: documents shaped like the sf0.1 ``documents`` table
  (30-word vocabulary, 10-100 words, ~300 chars on average, five languages
  with English at ~41%), generated here so the benchmark needs no data
  outside its checkout.
- ``blocked_pairs``: bench.py's ``pairs()`` blocking (same language and the
  same 50-char length band, ``id_1 < id_2``) over those documents, then a
  seeded character-edit perturbation of the second text of every pair.
- ``late_documents``: a seeded micro-batch of late documents for a synth
  corpus: held-out documents of base entities and documents of unseen
  entities.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ALPHA = "abcdefghijklmnopqrstuvwxyz "
# the documents are fixed; the seed picks the perturbation (score_long) or
# the late documents (er_batch), so the work per job barely moves with it
CORPUS_SEED = 20260417


def sf_documents(n_docs: int) -> pd.DataFrame:
    rng = np.random.default_rng(CORPUS_SEED)
    n_words = rng.integers(10, 101, size=n_docs)
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    texts = [" ".join(rng.choice(VOCAB, size=int(k))) for k in n_words]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _perturb(rng: np.random.Generator, s: str) -> str:
    """1-12 random character substitutions, insertions and deletions."""
    chars = list(s)
    for _ in range(int(rng.integers(1, 13))):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(chars) + (op == 1)))
        if op == 0 and chars:
            chars[min(i, len(chars) - 1)] = ALPHA[int(rng.integers(0, 27))]
        elif op == 1:
            chars.insert(i, ALPHA[int(rng.integers(0, 27))])
        elif chars:
            del chars[min(i, len(chars) - 1)]
    return "".join(chars)


def blocked_pairs(docs: pd.DataFrame, seed: int, n_check: int) -> pd.DataFrame:
    """(id_1, id_2, t1, t2, chk): every same-language, same-length-band pair,
    t2 perturbed by ``seed``; ``chk`` marks a seeded sample of ``n_check``
    pairs for the scalar re-scoring check."""
    d = docs.assign(band=docs["n_chars"] // 50)
    m = d.merge(d, on=["lang", "band"], suffixes=("_1", "_2"))
    m = m[m["doc_id_1"] < m["doc_id_2"]].sort_values(["doc_id_1", "doc_id_2"])
    rng = np.random.default_rng(seed)
    t2 = [_perturb(rng, s) for s in m["text_2"]]
    chk = np.zeros(len(m), dtype=bool)
    chk[rng.choice(len(m), size=min(n_check, len(m)), replace=False)] = True
    return pd.DataFrame(
        {
            "id_1": m["doc_id_1"].to_numpy(),
            "id_2": m["doc_id_2"].to_numpy(),
            "t1": m["text_1"].to_numpy(),
            "t2": t2,
            "chk": chk,
        }
    )


def late_documents(
    corpus: pd.DataFrame,
    n_base_entities: int,
    held_share: float,
    n_docs: int,
    seed: int,
) -> pd.DataFrame:
    """corpus: synth (doc_id, entity_id) over entities
    ``0 .. n_base_entities + unseen``. One seeded document of a
    ``held_share`` of the multi-document base entities is held out; every
    document of an entity >= n_base_entities is unseen. Returns ``n_docs``
    of those, seeded, with a ``held`` flag."""
    rng = np.random.default_rng(seed)
    ent = corpus["entity_id"].str[1:].astype(int)
    base = corpus[ent < n_base_entities]
    sizes = base.groupby("entity_id")["doc_id"].transform("size")
    multi = base[sizes >= 2]
    ents = sorted(multi["entity_id"].unique())
    picked = set(rng.choice(ents, size=int(len(ents) * held_share), replace=False))
    held = []
    for _, grp in multi[multi["entity_id"].isin(picked)].groupby("entity_id"):
        ids = sorted(grp["doc_id"])
        held.append(ids[int(rng.integers(0, len(ids)))])
    late = pd.concat(
        [corpus[corpus["doc_id"].isin(held)], corpus[ent >= n_base_entities]]
    )
    if len(late) < n_docs:
        raise ValueError(f"only {len(late)} late documents for a batch of {n_docs}")
    late = late.iloc[rng.permutation(len(late))[:n_docs]].copy()
    late["held"] = late["doc_id"].isin(held)
    return late.reset_index(drop=True)
