"""Seeded curation corpus for the ``curate_corpus`` workload.

The package's ``sources.datagen`` draws text from a 38-word vocabulary,
so almost every pair of its documents shares MinHash bands and the
near-dedup stage degenerates into an all-pairs verify. This generator
writes sentence-shaped documents over a large pseudo-word vocabulary
instead, with planted structure whose effect on every curation stage
has a closed form:

* ``n_bad`` short documents fail the Gopher word-count rule;
* ``n_exact`` documents have an exact copy under another key;
* ``n_families`` families of ``family_size`` documents differ from one
  another by single-word substitutions (Jaccard over 5-byte shingles
  ~0.95, far above the 0.8 verify threshold);
* ``n_boiler`` unique documents carry one shared boilerplate line,
  more than ``--min-line-docs``, so the line stage removes it without
  changing the document count.

Everything else is unique, passes Gopher and C4, and shares almost no
shingles with any other document.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "of", "and", "to", "with", "that", "have", "be"]
LANGS = ["en", "de", "fr"]
BOILERPLATE = "Subscribe to the weekly digest and share it with the team."
# words that would trip a C4 phrase rule or the javascript rule if the
# syllable generator produced them
_BANNED = {"terms", "use", "uses", "privacy", "policy", "lorem", "ipsum",
           "cookies", "javascript"}
_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr gr pl st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()


@dataclass(frozen=True)
class CorpusShape:
    """Planted structure; ``expected_stage_rows`` gives its closed form."""

    n_docs: int
    bad_share: float = 0.10
    exact_share: float = 0.05
    family_share: float = 0.06
    family_size: int = 3
    boiler_share: float = 0.05

    @property
    def n_bad(self) -> int:
        return int(self.n_docs * self.bad_share)

    @property
    def n_exact(self) -> int:
        return int(self.n_docs * self.exact_share) // 2

    @property
    def n_families(self) -> int:
        return int(self.n_docs * self.family_share) // self.family_size

    @property
    def n_unique(self) -> int:
        return (self.n_docs - self.n_bad - 2 * self.n_exact
                - self.n_families * self.family_size)

    @property
    def n_boiler(self) -> int:
        return int(self.n_docs * self.boiler_share)

    def expected_stage_rows(self) -> dict[str, int]:
        """Rows out of each curation stage whose count is closed-form
        (``mix`` depends on token counts and is checked for stability)."""
        n = self.n_docs
        after_quality = n - self.n_bad
        after_exact = after_quality - self.n_exact
        return {
            "normalize": n,
            "redact": n,
            "quality": after_quality,
            "lines": after_quality,
            "exact_dedup": after_exact,
            "near_dedup": after_exact - self.n_families * (self.family_size - 1),
        }


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS)
            for _ in range(rng.randint(2, 3))
        )
        if w not in _BANNED:
            words.add(w)
    return sorted(words)


def _sentence(rng: random.Random, vocab: list[str]) -> list[str]:
    words = [rng.choice(vocab) for _ in range(rng.randint(8, 13))]
    for _ in range(2):
        words.insert(rng.randrange(1, len(words)), rng.choice(STOPWORDS))
    words[0] = words[0].capitalize()
    words[-1] += "."
    return words


def _document(rng: random.Random, vocab: list[str], n_lines: int) -> list[list[str]]:
    """A document as lines of words; each line holds two sentences."""
    return [
        _sentence(rng, vocab) + _sentence(rng, vocab) for _ in range(n_lines)
    ]


def _render(lines: list[list[str]]) -> str:
    return "\n".join(" ".join(ws) for ws in lines)


def make_corpus(shape: CorpusShape, seed: int) -> pa.Table:
    """``(doc_id, url, lang, text)`` rows in a seeded shuffled order."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 20_000)
    texts: list[str] = []
    for _ in range(shape.n_bad):
        texts.append(_render([_sentence(rng, vocab)]))
    for _ in range(shape.n_exact):
        t = _render(_document(rng, vocab, rng.randint(3, 5)))
        texts += [t, t]
    for _ in range(shape.n_families):
        base = _document(rng, vocab, rng.randint(3, 5))
        for member in range(shape.family_size):
            doc = [list(line) for line in base]
            if member:
                # one substituted word per member, each at its own spot
                line = doc[(member - 1) % len(doc)]
                pos = 1 + (member * 3) % (len(line) - 2)
                old = line[pos]
                while line[pos] == old:
                    line[pos] = rng.choice(vocab)
            texts.append(_render(doc))
    for i in range(shape.n_unique):
        doc = _document(rng, vocab, rng.randint(3, 5))
        t = _render(doc)
        if i < shape.n_boiler:
            t += "\n" + BOILERPLATE
        texts.append(t)
    order = list(range(len(texts)))
    rng.shuffle(order)
    ids = [f"d{j:07d}" for j in range(len(texts))]
    return pa.table({
        "doc_id": ids,
        "url": [f"https://site{j % 97}.example.org/a/{j}" for j in range(len(texts))],
        "lang": [LANGS[j % len(LANGS)] for j in range(len(texts))],
        "text": [texts[k] for k in order],
    })


def write_corpus(path: str, shape: CorpusShape, seed: int) -> pa.Table:
    """Write the corpus as one parquet file under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = make_corpus(shape, seed)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return table
