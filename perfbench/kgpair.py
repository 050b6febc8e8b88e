"""Seeded knowledge-graph pair shaped like an OpenEA entity-alignment task.

OpenEA's 15K/100K benchmarks pair two KGs with the same number of
entities, 1:1 gold links, attribute triples under side-specific property
names and about two relation triples per entity.  The real datasets are
not shipped with this repository, so the pipeline workloads run on this
generator instead.  The same ``(n, seed)`` always gives the same files.

Each gold pair is one underlying entity rendered twice, once per side:

- ``name``/``label``: 2 tokens from a name vocabulary of ``n`` words,
  Zipf exponent 0.5 (mostly rare, discriminative tokens).
- ``description``/``comment``: 4 tokens from a vocabulary of ``4 n``
  words, Zipf exponent 1.0 with the 100 most frequent ranks cut off.
- ``category``/``type``: 60 classes, Zipf exponent 0.7, each side
  naming them from its own vocabulary (as when one KG gives a class
  label and the other an identifier), so they add tokens but no
  cross-side blocks.
- ``country``/``nation``: 400 uniform values, shared vocabulary.
- ``year`` on both sides (1700..2019): the one shared property name,
  the key of ``StandardBlocker("year")``.

Per side, every name/description token is replaced by a misspelt copy
with probability 0.1 and every attribute is dropped with probability
0.1, so no blocker reaches full recall.

Why this skew: block sizes follow token frequencies, and block sizes
set the cost of purge and of ``Evaluation``.  With the description
head cut at rank 100 and no cross-side category blocks, the largest
token block holds under 2% of a side's entities, and unpurged token
blocking yields 51k distinct candidate pairs at 2,000 entities (26 per
entity) and 1.7M at 15,000 (114 per entity), spread over description,
year, country and name blocks; the cumulative-CC purge keeps 1-5% of
the comparisons.  A steeper head (no cut-off, or categories shared
across sides with Zipf exponent 1.0) puts a quarter to a third of all
entities into one block: over 10M candidate pairs at 15,000 entities,
whose ``Evaluation`` alone outlasts a run of this benchmark.

Relations: every left entity has 2 out-edges to uniformly drawn
entities under one of 8 relation names.  The right side carries the
image of each edge under the gold mapping with probability 0.8 and a
random edge otherwise, under its own 8 relation names.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("left_attrs", "right_attrs", "left_rels", "right_rels", "gold")

_PROPS = {
    "left": ("name", "description", "category", "country", "year"),
    "right": ("label", "comment", "type", "nation", "year"),
}
_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
_N_CATEGORIES = 60
_N_COUNTRIES = 400
_DESC_HEAD_CUT = 100
_NOISE = 0.1
_DROP = 0.1
_EDGES_PER_ENTITY = 2
_N_RELS = 8
_EDGE_KEPT = 0.8


def _word(i: int) -> str:
    """Pronounceable lowercase word for a non-negative integer: one
    consonant-vowel syllable per base-85 digit, at least two syllables,
    so every word survives the tokenizer's length-3 filter and none
    collides with a stopword."""
    syl = []
    while True:
        i, d = divmod(i, len(_CONSONANTS) * len(_VOWELS))
        syl.append(_CONSONANTS[d // len(_VOWELS)] + _VOWELS[d % len(_VOWELS)])
        if i == 0 and len(syl) >= 2:
            return "".join(syl)


def _zipf(rng: np.random.Generator, size, n_values: int, s: float, skip: int = 0) -> np.ndarray:
    ranks = np.arange(1 + skip, n_values + 1 + skip, dtype=np.float64)
    p = ranks**-s
    return rng.choice(n_values, size=size, p=p / p.sum())


def _render(rng: np.random.Generator, words: np.ndarray) -> np.ndarray:
    """One side's view of token words: each replaced by a misspelt copy
    (last letter doubled plus a side-random suffix) with prob ``_NOISE``."""
    out = words.astype(object)
    noisy = rng.random(words.shape) < _NOISE
    suffix = rng.integers(0, 10_000, words.shape)
    out[noisy] = [f"{w}{w[-1]}{s}" for w, s in zip(words[noisy], suffix[noisy])]
    return out


def generate(n: int, out_dir: str, seed: int) -> dict[str, str]:
    """Write the KG pair as parquet tables under ``out_dir`` and return
    ``{table: path}``.

    - ``{left,right}_attrs``: ``(id, prop, value)`` attribute triples.
    - ``{left,right}_rels``: ``(head, rel, tail)`` relation triples.
    - ``gold``: ``(left_id, right_id)``, one row per entity.
    """
    rng = np.random.default_rng(seed)
    vocab_name = n
    vocab_desc = 4 * n
    word_base = {
        "name": 0,
        "desc": vocab_name,
        "cat": vocab_name + vocab_desc,
        "cat_right": vocab_name + vocab_desc + _N_CATEGORIES,
        "country": vocab_name + vocab_desc + 2 * _N_CATEGORIES,
    }
    n_words = word_base["country"] + _N_COUNTRIES
    words = np.array([_word(i) for i in range(n_words)], dtype=object)

    name = words[word_base["name"] + _zipf(rng, (n, 2), vocab_name, 0.5)]
    desc = words[word_base["desc"] + _zipf(rng, (n, 4), vocab_desc, 1.0, _DESC_HEAD_CUT)]
    cat = _zipf(rng, n, _N_CATEGORIES, 0.7)
    country = words[word_base["country"] + rng.integers(0, _N_COUNTRIES, n)]
    year = (1700 + rng.integers(0, 320, n)).astype(str)

    perm = rng.permutation(n)
    ids = {
        "left": np.array([f"a{i}" for i in range(n)], dtype=object),
        "right": np.array([f"b{j}" for j in perm], dtype=object),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in TABLES}

    for side in ("left", "right"):
        values = (
            [" ".join(r) for r in _render(rng, name)],
            [" ".join(r) for r in _render(rng, desc)],
            words[word_base["cat" if side == "left" else "cat_right"] + cat],
            country,
            year,
        )
        frames = []
        for prop, vals in zip(_PROPS[side], values):
            keep = rng.random(n) >= _DROP
            frames.append(
                pd.DataFrame(
                    {"id": ids[side][keep], "prop": prop, "value": np.asarray(vals, dtype=object)[keep]}
                )
            )
        _write(pd.concat(frames, ignore_index=True), paths[f"{side}_attrs"])

    heads = np.repeat(np.arange(n), _EDGES_PER_ENTITY)
    tails = rng.integers(0, n, heads.size)
    rels = rng.integers(0, _N_RELS, heads.size)
    _write(
        pd.DataFrame(
            {
                "head": ids["left"][heads],
                "rel": [f"rel_{r}" for r in rels],
                "tail": ids["left"][tails],
            }
        ),
        paths["left_rels"],
    )
    kept = rng.random(heads.size) < _EDGE_KEPT
    r_heads = np.where(kept, heads, rng.integers(0, n, heads.size))
    r_tails = np.where(kept, tails, rng.integers(0, n, heads.size))
    _write(
        pd.DataFrame(
            {
                "head": ids["right"][r_heads],
                "rel": [f"p{r}" for r in rels],
                "tail": ids["right"][r_tails],
            }
        ),
        paths["right_rels"],
    )
    _write(pd.DataFrame({"left_id": ids["left"], "right_id": ids["right"]}), paths["gold"])
    return paths


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def fingerprint(paths: list[str]) -> str:
    """md5 over the bytes of the given files (or every file under the
    given directories), in path order — changes whenever a generator's
    output changes."""
    h = hashlib.md5()
    for p in paths:
        files = (
            sorted(os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs)
            if os.path.isdir(p)
            else [p]
        )
        for f in files:
            h.update(os.path.relpath(f, os.path.dirname(p)).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
