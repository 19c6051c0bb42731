"""Seeded workload inputs and their planted-truth manifest.

Everything here is plain Python driven by one ``random.Random(seed)``:
the same seed gives byte-identical inputs. The engine only ever sees the
rows these functions return (written to parquet by the workloads).

Documents are topical so that hashing embeddings cluster the way real
text does: each doc draws most words from one of ``N_TOPICS`` topic
vocabularies and the rest from a shared background vocabulary. Texts are
ASCII only, so the Java and Python regex classes the checks mirror agree.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

N_TOPICS = 16
TOPIC_WORDS = 100
BACKGROUND_WORDS = 1500
#: a few engine stopwords mixed in, so the quality score's stopword term
#: is exercised
STOP_MIX = ("the", "and", "for", "with", "from")
SOURCES = ("web", "wiki", "forum")
NOISE = ("#", "*", "@@", "~", "|", "^")
MIN_WORDS, MAX_WORDS = 40, 70
#: near copies replace this many trailing words: 3-shingle Jaccard stays
#: around 0.85, far above the 0.5 thresholds, so every planted near copy
#: is caught with probability > 1 - 1e-5 under 8x2 banding
NEAR_EDIT_WORDS = 2

_ONSETS = "b c d f g h j k l m n p r s t v w z br cl dr fl gr pl st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()


class _Vocab:
    def __init__(self, rng: random.Random):
        seen: set[str] = set(STOP_MIX)
        words: list[str] = []
        while len(words) < N_TOPICS * TOPIC_WORDS + BACKGROUND_WORDS:
            w = "".join(
                rng.choice(_ONSETS) + rng.choice(_VOWELS)
                for _ in range(rng.randint(2, 4))
            )
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.topics = [
            words[t * TOPIC_WORDS : (t + 1) * TOPIC_WORDS] for t in range(N_TOPICS)
        ]
        self.background = words[N_TOPICS * TOPIC_WORDS :]


def _words(rng: random.Random, vocab: _Vocab, topic: int, n: int) -> list[str]:
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.8:
            out.append(rng.choice(vocab.topics[topic]))
        elif r < 0.95:
            out.append(rng.choice(vocab.background))
        else:
            out.append(rng.choice(STOP_MIX))
    return out


class DocMaker:
    """Fresh, distinct documents from one seeded stream."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.vocab = _Vocab(rng)

    def text(self) -> str:
        rng = self.rng
        n = rng.randint(MIN_WORDS, MAX_WORDS)
        return " ".join(_words(rng, self.vocab, rng.randrange(N_TOPICS), n))

    def near_copy(self, text: str) -> str:
        words = text.split(" ")
        tail = _words(self.rng, self.vocab, self.rng.randrange(N_TOPICS), NEAR_EDIT_WORDS)
        return " ".join(words[:-NEAR_EDIT_WORDS] + tail)

    def short_text(self) -> str:
        rng = self.rng
        return " ".join(_words(rng, self.vocab, rng.randrange(N_TOPICS), rng.randint(3, 8)))

    def noisy(self, text: str) -> str:
        """Raw-crawl form of ``text``: noise characters glued onto some
        words and runs of whitespace. ``clean_content`` restores ``text``
        exactly (noise is outside its keep-class; whitespace collapses)."""
        rng = self.rng
        out = []
        for w in text.split(" "):
            if rng.random() < 0.08:
                w = rng.choice(NOISE) + w if rng.random() < 0.5 else w + rng.choice(NOISE)
            out.append(w)
        sep = [" " if rng.random() < 0.9 else rng.choice(("  ", " \t ", "   ")) for _ in out]
        return "".join(s + w for s, w in zip(sep, out))


@dataclass
class RawCorpus:
    """``curate_build`` input: (doc_id, source, text) rows plus truth."""

    rows: list[tuple[int, str, str]]
    manifest: dict = field(default_factory=dict)


def raw_corpus(seed: int, n_fresh: int) -> RawCorpus:
    """A multi-source raw corpus with planted exact duplicates
    (case-changed copies), near duplicates (trailing-word edits) and
    short low-quality docs. Every plant is derived from its own fresh
    doc, so the curation survivors are exactly the fresh docs."""
    rng = random.Random(seed)
    mk = DocMaker(rng)
    fresh = [mk.text() for _ in range(n_fresh)]
    n_exact, n_near, n_short = n_fresh // 10, n_fresh // 10, n_fresh // 20
    picks = rng.sample(range(n_fresh), n_exact + n_near)
    exact_src, near_src = picks[:n_exact], picks[n_exact:]
    texts: list[tuple[str, str]] = [("fresh", t) for t in fresh]
    texts += [("exact_dup", fresh[i].upper() if i % 2 else fresh[i].title()) for i in exact_src]
    texts += [("near_dup", mk.near_copy(fresh[i])) for i in near_src]
    texts += [("low_quality", mk.short_text()) for _ in range(n_short)]
    order = list(range(len(texts)))
    rng.shuffle(order)
    rows, near_pairs = [], []
    new_id = {old: new for new, old in enumerate(order)}
    for new, old in enumerate(order):
        rows.append((new, SOURCES[rng.randrange(len(SOURCES))], mk.noisy(texts[old][1])))
    for j, i in enumerate(near_src):
        a, b = new_id[i], new_id[n_fresh + n_exact + j]
        near_pairs.append((min(a, b), max(a, b)))
    manifest = {
        "raw_docs": len(rows),
        "fresh": n_fresh,
        "exact_dup": n_exact,
        "near_dup": n_near,
        "low_quality": n_short,
        "near_pairs": sorted(near_pairs),
        "survivors": n_fresh,
        "input_bytes": sum(len(r[2].encode()) for r in rows),
    }
    return RawCorpus(rows, manifest)


@dataclass
class Collection:
    """A clean base collection (what curation produces) plus queries."""

    docs: list[tuple[int, str, str]]  # (doc_id, chapter, content)
    maker: DocMaker
    rng: random.Random

    def queries(self, n: int, miss_share: float = 0.2, words: int = 6) -> list[str]:
        """The leading ``words`` words of seeded docs, plus a share of
        queries whose words occur in no document."""
        out = []
        for _ in range(n):
            if self.rng.random() < miss_share:
                out.append(" ".join(f"zq{self.rng.randrange(10**6)}x" for _ in range(words)))
            else:
                text = self.rng.choice(self.docs)[2]
                out.append(" ".join(text.split(" ")[:words]))
        return out


def collection(seed: int, n_docs: int) -> Collection:
    rng = random.Random(seed)
    mk = DocMaker(rng)
    docs = [(i, SOURCES[rng.randrange(len(SOURCES))], mk.text()) for i in range(n_docs)]
    return Collection(docs, mk, rng)


def crawl_batches(coll: Collection, n_batches: int, batch_docs: int, n_eval: int):
    """Micro-batches for the crawl intake, with a planted verdict mix per
    batch. Returns ``(batches, eval_texts, manifest)``: batches are lists
    of (doc_id, content); ``eval_texts`` are the held-out benchmark docs
    whose fingerprints form the decontamination set.

    Plants per batch (ids increase within a batch, so a within-batch
    repeat always carries the larger id and is the one flagged):
    ~10% exact copies and ~10% near copies of collection docs and ~5%
    repeats of an earlier batch's fresh docs (all corpus_dup), ~5%
    within-batch repeats (within_dup), ~5% copies of held-out benchmark
    docs (contaminated); the rest are fresh and admitted."""
    rng, mk = coll.rng, coll.maker
    eval_texts = [mk.text() for _ in range(n_eval)]
    next_id = 10_000_000
    batches, per_batch, admitted_before = [], [], []
    for b in range(n_batches):
        n_exact = n_near = batch_docs // 10
        n_cross = batch_docs // 20 if admitted_before else 0
        n_within = n_contam = batch_docs // 20
        n_fresh = batch_docs - n_exact - n_near - n_cross - n_within - n_contam
        fresh = [mk.text() for _ in range(n_fresh)]
        plants = (
            [("corpus_dup", rng.choice(coll.docs)[2]) for _ in range(n_exact)]
            + [("corpus_dup", mk.near_copy(rng.choice(coll.docs)[2])) for _ in range(n_near)]
            + [("corpus_dup", rng.choice(admitted_before)) for _ in range(n_cross)]
            + [("contaminated", t) for t in rng.sample(eval_texts, n_contam)]
        )
        items = [("fresh", t) for t in fresh] + plants
        rng.shuffle(items)
        # within-batch repeats go last, so they carry the larger ids
        items += [("within_dup", t) for t in rng.sample(fresh, n_within)]
        rows = []
        for _, t in items:
            rows.append((next_id, t))
            next_id += 1
        batches.append(rows)
        per_batch.append(
            {
                "seen": len(rows),
                "fresh": n_fresh,
                "corpus_dup": n_exact + n_near + n_cross,
                "exact_copy": n_exact,
                "near_copy": n_near,
                "cross_batch_repeat": n_cross,
                "within_dup": n_within,
                "contaminated": n_contam,
                "accepted": n_fresh,
            }
        )
        admitted_before.extend(fresh)
    manifest = {
        "batches": per_batch,
        "input_bytes": sum(len(t.encode()) for rows in batches for _, t in rows),
    }
    return batches, eval_texts, manifest
