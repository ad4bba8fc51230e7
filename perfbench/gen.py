"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, size)``. Outputs are
cached under the work dir, keyed by ``GEN_VERSION``, seed and size, so a
rerun with the same seed reads the same files without regenerating them.
The program under test only ever sees the files written here.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

# Bump when any generator's output changes for a given (seed, size).
GEN_VERSION = 1

TURNS_PER_FILE = {"ingest": 500, "stateful": 250}
ERROR_FRAC = 0.03  # turns whose text mentions "error" (routing counter)


def _cached(cache_dir: str, key: str, build) -> str:
    """Return ``cache_dir/key``, building it with ``build(tmp_dir)`` into a
    temporary sibling first so a killed run never leaves a half cache."""
    out = os.path.join(cache_dir, key)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, out)
    return out


def transcripts(cache_dir: str, workload: str, seed: int, n_files: int) -> str:
    """A backlog of ``n_files`` transcript parquet files, in rough event
    order, from the repo's fixture generator: a Zipf hot conversation,
    5% late rows, 1% duplicated rows and PII e-mails in the text. A seeded
    3% of turns also mention "error". Returns the directory."""
    per_file = TURNS_PER_FILE[workload]
    key = f"v{GEN_VERSION}-transcripts-{workload}-s{seed}-f{n_files}"

    def build(tmp: str) -> None:
        from vaero_spark.testing.fixtures import make_transcripts_pdf

        n_turns = per_file * n_files
        pdf = make_transcripts_pdf(
            n_turns=int(n_turns / 1.01),  # the fixture adds 1% duplicates
            n_convs=max(50, n_turns // 150),
            seed=seed,
        )
        rng = np.random.default_rng(seed + 1)
        err = rng.random(len(pdf)) < ERROR_FRAC
        pdf.loc[err, "text"] = pdf.loc[err, "text"] + " tool error"
        order = np.argsort(pdf["ts"].to_numpy(), kind="stable")
        for i, idx in enumerate(np.array_split(order, n_files)):
            chunk = pdf.iloc[idx[rng.permutation(len(idx))]]
            chunk.to_parquet(os.path.join(tmp, f"part-{i:05d}.parquet"), index=False)

    return _cached(cache_dir, key, build)


def documents(cache_dir: str, seed: int, n_docs: int) -> tuple[str, list[tuple[int, int]]]:
    """A corpus dir holding ``documents.parquet`` (the ``documents``
    table schema ``doc_id, text, lang, source, n_chars``) with planted
    near-duplicates: every 20th doc is copied under a new id with one or
    two tokens replaced. Returns (dir, ground-truth pairs). The pairs also include
    the ones ``sources.corpus.documents_with_neardups`` plants on read."""
    key = f"v{GEN_VERSION}-documents-s{seed}-n{n_docs}"

    def build(tmp: str) -> None:
        from vaero_spark.sources.corpus import DOC_ND_EVERY, ND_OFFSET

        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(3000)]
        weights = 1.0 / np.arange(1, len(vocab) + 1)
        weights /= weights.sum()
        texts, pairs = [], []
        for _ in range(n_docs):
            n = int(rng.integers(30, 90))
            texts.append(list(rng.choice(len(vocab), n, p=weights)))
        n_base = len(texts)
        for src in range(0, n_base, 20):
            copy = list(texts[src])
            for pos in rng.choice(len(copy), int(rng.integers(1, 3)), replace=False):
                copy[pos] = int(rng.integers(len(vocab)))
            pairs.append((src, len(texts)))
            texts.append(copy)
        text = [" ".join(vocab[t] for t in doc) for doc in texts]
        pdf = pd.DataFrame(
            {
                "doc_id": np.arange(len(text), dtype=np.int64),
                "text": text,
                "lang": rng.choice(["en", "de", "fr"], len(text)),
                "source": rng.choice(["web", "books", "forum"], len(text)),
                "n_chars": np.array([len(t) for t in text], dtype=np.int64),
            }
        )
        pdf.to_parquet(os.path.join(tmp, "documents.parquet"), index=False)
        pairs += [(d, d + ND_OFFSET) for d in range(0, len(text), DOC_ND_EVERY)]
        with open(os.path.join(tmp, "pairs.json"), "w") as f:
            json.dump(pairs, f)

    out = _cached(cache_dir, key, build)
    with open(os.path.join(out, "pairs.json")) as f:
        return out, [tuple(p) for p in json.load(f)]
