"""Seeded JSONL document dump for the ``training_jsonl`` workload.

Writes ``<out>/docs.jsonl`` (one conformed document per line:
doc_id, text, lang, source, n_chars) and ``<out>/truth.json`` with the
ground-truth counts the output checks compare against.  The same
arguments give byte-identical files.

Duplicate structure, so dedup has shared work to find:

- ``exact_share`` of the docs are verbatim copies of an earlier base
  doc.  Each copy gets a larger doc_id than its base, so the engine's
  group-min representative rule keeps the base and must reject the
  copy; the copies' ids are listed in ``truth.json``.
- ``near_share`` of the docs are copies of a base doc with one word
  replaced.

Base texts draw words from a large synthetic vocabulary, so two base
docs never collide by accident.
"""

from __future__ import annotations

import json
import os
import random

LANGS = ("en", "de", "fr", "es", "zh")
SOURCES = ("web", "books", "code", "news")


def _vocab(rng: random.Random, n: int = 4000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 9))))
    return sorted(words)


def generate(out_dir: str, seed: int, n_docs: int = 2000,
             exact_share: float = 0.1, near_share: float = 0.1,
             min_words: int = 40, max_words: int = 160) -> dict:
    """Write the dump and its truth file; return the truth dict."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    base = [" ".join(rng.choice(vocab) for _ in
                     range(rng.randint(min_words, max_words)))
            for _ in range(n_base)]
    texts = list(base)
    for _ in range(n_exact):
        texts.append(base[rng.randrange(n_base)])
    for _ in range(n_near):
        words = base[rng.randrange(n_base)].split(" ")
        words[rng.randrange(len(words))] = rng.choice(vocab)
        texts.append(" ".join(words))
    # ids: bases keep the low ids in shuffled order, copies follow, so
    # every copy's id is larger than its base's
    base_ids = list(range(n_base))
    rng.shuffle(base_ids)
    copy_ids = list(range(n_base, n_docs))
    rng.shuffle(copy_ids)
    ids = base_ids + copy_ids
    docs = [{"doc_id": doc_id, "text": text, "lang": rng.choice(LANGS),
             "source": rng.choice(SOURCES), "n_chars": len(text)}
            for doc_id, text in zip(ids, texts)]
    exact_ids = sorted(ids[n_base:n_base + n_exact])
    order = list(range(n_docs))
    rng.shuffle(order)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.jsonl")
    with open(path, "w", encoding="utf-8") as fh:
        for k in order:
            fh.write(json.dumps(docs[k], sort_keys=True) + "\n")
    truth = {
        "n_docs": n_docs,
        "n_base": n_base,
        "n_exact_dups": n_exact,
        "n_near_dups": n_near,
        "exact_dup_ids": exact_ids,
        "input_bytes": os.path.getsize(path),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth
