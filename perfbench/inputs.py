"""Seeded input generators. The same seed gives byte-identical inputs; the
package under test only ever sees the parquet files written here.

Sizes are fixed per workload, and the seeded draws are stratified (page
lengths, group sizes) so that the amount of work barely moves between
seeds while the content does.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import string
from dataclasses import dataclass
from typing import Dict, List

LANGS = ["en", "fr", "es", "de", "zh"]
N_SOURCES = 8


def _vocabulary(gazetteer: Dict[str, str], size: int = 400) -> List[str]:
    """Fixed pseudo-words (independent of the run seed) that never collide
    with a gazetteer surface, so only planted surfaces become mentions."""
    rng = random.Random(20261016)
    cons, vows = "bdfgklmnprstvz", "aeiou"
    words: List[str] = []
    seen = set(gazetteer)
    while len(words) < size:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _stratified_lognormal(rng: random.Random, n: int, median: float, sigma: float, cap: int) -> List[int]:
    """n long-tail lengths at evenly spaced quantiles (jittered, shuffled):
    the distribution is the same for every seed, the order is not."""
    out = []
    for i in range(n):
        z = _norm_ppf((i + rng.random()) / n)
        out.append(max(3, min(cap, int(round(median * math.exp(sigma * z))))))
    rng.shuffle(out)
    return out


def _norm_ppf(q: float) -> float:
    from statistics import NormalDist

    return NormalDist().inv_cdf(min(max(q, 1e-9), 1 - 1e-9))


@dataclass
class Pages:
    """Generated web pages: one documents.parquet (doc_id, text, lang,
    source, n_chars), the shape ``sources.corpus.web_corpus`` reads."""

    doc_id: List[int]
    text: List[str]
    lang: List[str]
    source: List[str]

    def __len__(self) -> int:
        return len(self.doc_id)

    def url(self, i: int) -> str:
        return f"https://{self.source[i]}.example.org/doc/{self.doc_id[i]}"

    def digest(self) -> str:
        h = hashlib.sha256()
        for row in zip(self.doc_id, self.text, self.lang, self.source):
            h.update(repr(row).encode())
        return h.hexdigest()

    def write(self, sf_dir: str, files: int) -> str:
        """Write ``sf_dir/documents.parquet`` as ``files`` parquet parts."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, "documents.parquet")
        os.makedirs(path, exist_ok=True)
        n = len(self)
        step = -(-n // files)
        for k, lo in enumerate(range(0, n, step)):
            hi = min(n, lo + step)
            table = pa.table(
                {
                    "doc_id": pa.array(self.doc_id[lo:hi], pa.int64()),
                    "text": pa.array(self.text[lo:hi], pa.string()),
                    "lang": pa.array(self.lang[lo:hi], pa.string()),
                    "source": pa.array(self.source[lo:hi], pa.string()),
                    "n_chars": pa.array([len(t) for t in self.text[lo:hi]], pa.int64()),
                }
            )
            pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
        return path


def make_pages(
    seed: int,
    n: int,
    gazetteer: Dict[str, str],
    dup_share: float = 0.08,
    near_dup_share: float = 0.08,
    planted_share: float = 0.6,
    median_words: float = 60.0,
) -> Pages:
    """Seeded pages with exact duplicates, one-token near duplicates,
    long-tail lengths, and planted gazetteer surfaces (1-3 per planted
    page, Zipf-skewed over a seeded subset of the gazetteer) so that
    mention linking and canonicalize get real work."""
    rng = random.Random(seed)
    vocab = _vocabulary(gazetteer)
    surfaces = sorted(gazetteer)
    rng.shuffle(surfaces)
    surfaces = surfaces[:240]
    zipf = [1.0 / (k + 1) for k in range(len(surfaces))]
    lengths = _stratified_lognormal(rng, n, median_words, 0.9, 1500)
    kinds = (
        ["dup"] * int(n * dup_share)
        + ["near"] * int(n * near_dup_share)
        + ["fresh"] * n
    )[:n]
    plant = ([True] * int(n * planted_share) + [False] * n)[:n]
    rng.shuffle(kinds)
    rng.shuffle(plant)
    base = rng.randrange(1, 10**6)
    pages = Pages([], [], [], [])
    for i in range(n):
        kind = kinds[i] if i > 0 else "fresh"
        if kind == "dup":
            words = pages.text[rng.randrange(i)].split(" ")
        elif kind == "near":
            words = pages.text[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(lengths[i])]
            if plant[i]:
                for s in rng.choices(surfaces, weights=zipf, k=rng.randint(1, 3)):
                    words.insert(rng.randrange(len(words) + 1), s)
        pages.doc_id.append(base + i)
        pages.text.append(" ".join(words))
        pages.lang.append(rng.choice(LANGS))
        pages.source.append(f"src{rng.randrange(N_SOURCES)}")
    return pages


@dataclass
class Entities:
    """Seeded entity keys in planted groups. ``group[i]`` names the planted
    group of row i; prior rows come first, the delta rows follow."""

    entity_id: List[int]
    entity_key: List[str]
    group: List[int]
    n_prior: int

    def digest(self) -> str:
        h = hashlib.sha256()
        for row in zip(self.entity_id, self.entity_key, self.group):
            h.update(repr(row).encode())
        return h.hexdigest()

    def write(self, path: str, lo: int, hi: int, files: int) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        step = -(-(hi - lo) // files)
        for k, a in enumerate(range(lo, hi, step)):
            b = min(hi, a + step)
            pq.write_table(
                pa.table(
                    {
                        "entity_id": pa.array(self.entity_id[a:b], pa.int64()),
                        "entity_key": pa.array(self.entity_key[a:b], pa.string()),
                    }
                ),
                os.path.join(path, f"part-{k:05d}.parquet"),
            )
        return path


KEY_LEN = 28
_ALPHA = string.ascii_lowercase + string.digits


def _edit(rng: random.Random, key: str, avoid: set) -> str:
    """One-character substitution at a seeded position, new to ``avoid``."""
    while True:
        p = rng.randrange(len(key))
        c = rng.choice(_ALPHA)
        if c != key[p]:
            out = key[:p] + c + key[p + 1:]
            if out not in avoid:
                return out


def make_entities(
    seed: int,
    n_prior: int,
    delta_share: float = 0.05,
    hot_groups: int = 2,
    hot_size: int = 430,
    chain_share: float = 0.25,
) -> Entities:
    """Planted groups over random 28-char base keys (unrelated bases share
    almost no char-3-grams, so groups never merge):

    - Pareto-sized star groups: one-char variants of one base key;
    - drifting chain groups: each member one edit from the previous, so
      connected components needs several rounds;
    - ``hot_groups`` star groups of ``hot_size`` members, just below the
      default LSH ``max_bucket`` (500) even after the delta lands;
    - a delta of ``delta_share`` × n_prior rows: 80% new variants of
      existing groups, 20% new singletons.
    """
    rng = random.Random(seed)
    keys: List[str] = []
    groups: List[int] = []
    seen: set = set()
    bases: List[str] = []

    def new_base() -> str:
        while True:
            k = "".join(rng.choice(_ALPHA) for _ in range(KEY_LEN))
            if k not in seen:
                return k

    def add(key: str, g: int) -> None:
        seen.add(key)
        keys.append(key)
        groups.append(g)

    def star(size: int) -> None:
        g = len(bases)
        b = new_base()
        bases.append(b)
        add(b, g)
        for _ in range(size - 1):
            add(_edit(rng, b, seen), g)

    for _ in range(hot_groups):
        star(hot_size)
    n_chain = int(n_prior * chain_share)
    while len(keys) < hot_groups * hot_size + n_chain:
        g = len(bases)
        k = new_base()
        bases.append(k)
        add(k, g)
        for _ in range(rng.randint(3, 15)):
            k = _edit(rng, k, seen)
            add(k, g)
    # Pareto star sizes (alpha 1.6, capped at 80) at quantiles stratified
    # in shuffled blocks of 100, so the size mix is nearly seed-independent
    block: List[float] = []
    while len(keys) < n_prior:
        if not block:
            block = [(j + rng.random()) / 100 for j in range(100)]
            rng.shuffle(block)
        star(min(80, int(1.0 / (1.0 - block.pop()) ** (1 / 1.6))))
    del keys[n_prior:], groups[n_prior:]
    n_delta = int(n_prior * delta_share)
    hot_room = [hot_size] * hot_groups
    for _ in range(n_delta):
        if rng.random() < 0.8:
            g = rng.randrange(len(bases))
            if g < hot_groups:
                if hot_room[g] >= hot_size + 20:
                    g = rng.randrange(hot_groups, len(bases))
                else:
                    hot_room[g] += 1
            add(_edit(rng, bases[g], seen), g)
        else:
            g = len(bases)
            b = new_base()
            bases.append(b)
            add(b, g)
    ids = rng.sample(range(1, 2**62), len(keys))
    return Entities(ids, keys, groups, n_prior)
