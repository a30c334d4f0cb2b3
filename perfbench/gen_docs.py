"""Seeded document stream for the ``dedup_stream`` workload.

Documents arrive in micro-batches with increasing integer ids.  Each new
document is, by fixed shares, an exact copy of an earlier live document, a
near-duplicate of one (one word replaced, so its 5-word shingle Jaccard with
the source is about 0.8), or fresh random text.  A document and everything
copied from it form a family.  Every ``delete_every``-th batch deletes whole
families: all their documents ingested so far.  A deleted family is never
copied again, so deletion cannot split a surviving cluster.

Ground truth per batch: the ids the exact-dedup store must mark duplicate.
That is every document whose text a live earlier document already carries,
where "live" follows the hash store's contract: deleting a document forgets
its content.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field


@dataclass(frozen=True)
class DocSpec:
    # chosen, not measured: see "Where the input shapes come from" in README.md
    batch_docs: int = 300
    words: int = 50  # words per fresh document
    vocab: int = 3000
    exact_dup: float = 0.1  # share of documents copied verbatim
    near_dup: float = 0.1  # share of documents copied with one word replaced
    delete_every: int = 2  # a deletion runs after every k-th batch
    delete_families: int = 3  # families deleted per deletion


@dataclass
class DocBatch:
    index: int
    docs: list[tuple[int, str]]  # (doc_id, text)
    duplicates: set[int]  # ids an exact-dedup verdict must flag
    deletes: list[tuple[int, str]] = field(default_factory=list)  # run after ingest


class DocStream:
    """Deterministic for a given (spec, seed)."""

    def __init__(self, seed: int, spec: DocSpec = DocSpec()):
        self.spec = spec
        self.rng = random.Random(seed)
        self._vocab = [f"w{i}" for i in range(spec.vocab)]
        self._next_id = 0
        self._family_of: dict[int, int] = {}  # doc id -> family id
        self._members: dict[int, list[tuple[int, str]]] = {}  # live families
        self._live_texts: set[str] = set()
        self.batches: list[DocBatch] = []

    def _fresh(self) -> str:
        return " ".join(self.rng.choice(self._vocab) for _ in range(self.spec.words))

    def _near(self, text: str) -> str:
        words = text.split(" ")
        words[self.rng.randrange(5, len(words) - 5)] = self.rng.choice(self._vocab)
        return " ".join(words)

    def next_batch(self) -> DocBatch:
        r, spec = self.rng, self.spec
        docs, dups = [], set()
        for _ in range(spec.batch_docs):
            doc_id = self._next_id
            self._next_id += 1
            x = r.random()
            families = list(self._members)
            if families and x < spec.exact_dup + spec.near_dup:
                fam = r.choice(families)
                _src_id, src = r.choice(self._members[fam])
                text = src if x < spec.exact_dup else self._near(src)
            else:
                fam = doc_id
                text = self._fresh()
            if text in self._live_texts:
                dups.add(doc_id)
            self._live_texts.add(text)
            self._members.setdefault(fam, []).append((doc_id, text))
            docs.append((doc_id, text))
        batch = DocBatch(index=len(self.batches), docs=docs, duplicates=dups)
        if (batch.index + 1) % spec.delete_every == 0:
            for fam in r.sample(sorted(self._members), spec.delete_families):
                batch.deletes.extend(self._members.pop(fam))
            for _doc_id, text in batch.deletes:
                self._live_texts.discard(text)
        self.batches.append(batch)
        return batch

    def survivors(self) -> list[tuple[int, str]]:
        """Every ingested document that no deletion removed, by id."""
        return sorted(d for members in self._members.values() for d in members)
