"""Independent computations the benchmark checks the engine against.

Nothing here imports the engine: each function re-derives an expected
output from the generated inputs with numpy or plain Python, following
the semantics the engine documents (feature-hashing embedder, L2 top-k,
IVF cell probing, BM25, MinHash-LSH, the curation gates, multi-strategy
retrieval).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import numpy as np

# Java regex semantics: \s and \w are ASCII classes (inputs are ASCII).
_CLEAN_RE = re.compile(r"[^\w一-鿿\s.,!?;:，。！？；：]")
_WS_RE = re.compile(r"[ \t\n\x0B\f\r]+")
_TOKEN_RE = re.compile(r"[一-龥]{2,}|[a-zA-Z]{3,}")
_CHUNK_RE = re.compile(r"[，。！？；:,\.!?;]")
STOPWORDS = (
    "the", "and", "for", "that", "this", "with", "are", "was", "were",
    "from", "have", "has", "had", "not", "but", "all", "can", "will",
)


# ---- embedding + vector search ------------------------------------------

def embed(texts, dim: int) -> np.ndarray:
    """Feature hashing: md5(token) picks a bucket and a sign, counts are
    summed and the row is L2-normalised; float32 like the stored vectors."""
    memo: dict[str, tuple[int, int]] = {}
    mat = np.zeros((len(texts), dim), dtype=np.int64)
    for row, text in enumerate(texts):
        for tok in str(text or "").lower().split():
            hit = memo.get(tok)
            if hit is None:
                h = hashlib.md5(tok.encode("utf-8")).digest()
                hit = memo[tok] = (int.from_bytes(h[:4], "little") % dim, 1 if h[4] & 1 else -1)
            mat[row, hit[0]] += hit[1]
    vecs = mat.astype(np.float64)
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    np.divide(vecs, norms, out=vecs, where=norms > 0)
    return vecs.astype(np.float32)


class VectorOracle:
    """Exact L2 search over a growing set of (id, vector) rows, plus the
    IVF cell each row belongs to under fixed centroids."""

    def __init__(self, dim: int):
        self.dim = dim
        self.ids = np.zeros(0, dtype=np.int64)
        self.X = np.zeros((0, dim), dtype=np.float64)
        self.cells = np.zeros(0, dtype=np.int64)
        self.centroids: np.ndarray | None = None

    def add(self, ids, texts) -> None:
        X = embed(texts, self.dim).astype(np.float64)
        self.ids = np.concatenate([self.ids, np.asarray(ids, dtype=np.int64)])
        self.X = np.vstack([self.X, X])
        if self.centroids is not None:
            self.cells = np.concatenate([self.cells, self._assign(X)])

    def set_centroids(self, centroids) -> None:
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.cells = self._assign(self.X)

    def _assign(self, X: np.ndarray) -> np.ndarray:
        d2 = ((X[:, None, :] - self.centroids[None, :, :]) ** 2).sum(axis=2)
        return d2.argmin(axis=1)

    def probe(self, q: np.ndarray, nprobe: int) -> list[int]:
        d2 = ((self.centroids - q) ** 2).sum(axis=1)
        return [int(c) for c in np.argsort(d2, kind="stable")[:nprobe]]

    def topk(self, q, k: int, nprobe: int | None = None):
        """[(id, distance)] nearest first, ties by id; restricted to the
        ``nprobe`` nearest cells when given."""
        q = np.asarray(q, dtype=np.float64)
        mask = np.ones(len(self.ids), dtype=bool)
        if nprobe is not None:
            mask = np.isin(self.cells, self.probe(q, nprobe))
        ids, X = self.ids[mask], self.X[mask]
        d = np.sqrt(((X - q) ** 2).sum(axis=1))
        order = np.lexsort((ids, d))[:k]
        return [(int(ids[i]), float(d[i])) for i in order]

    def cell_rows(self, cells) -> int:
        return int(np.isin(self.cells, list(cells)).sum())


def same_ranking(got, want, k: int, tol: float) -> bool:
    """The engine's top-``k`` [(id, score)] agrees with a reference ranking
    ``want`` that runs one entry past ``k`` where it can: the lengths
    match, scores agree within ``tol`` position by position, and each id
    is the reference's id at that position or one whose score ties with
    it within ``tol`` (the two sides sum floats in different orders, so
    near-ties may swap, also across the k-th place)."""
    if len(got) != min(k, len(want)) or len({i for i, _ in got}) != len(got):
        return False
    for pos, (gi, gs) in enumerate(got):
        ws = want[pos][1]
        if abs(gs - ws) > tol:
            return False
        if gi != want[pos][0] and gi not in {i for i, s in want if abs(s - ws) <= tol}:
            return False
    return True


def recall(got_ids, exact_ids) -> float:
    return len(set(got_ids) & set(exact_ids)) / max(1, len(exact_ids))


# ---- BM25 ---------------------------------------------------------------

def tokens(text: str) -> list[str]:
    return _TOKEN_RE.findall(text or "")


class BM25Oracle:
    """BM25 (k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + .5) / (df + .5)))
    over regex tokens, scores rounded to 6 places, ties by id."""

    def __init__(self):
        self.postings: dict[str, dict[int, int]] = defaultdict(dict)
        self.dl: dict[int, int] = {}

    def add(self, ids, texts) -> None:
        for i, t in zip(ids, texts):
            toks = tokens(t)
            self.dl[int(i)] = len(toks)
            for term, tf in Counter(toks).items():
                self.postings[term][int(i)] = tf

    def search(self, terms, k: int):
        terms = list(dict.fromkeys(terms))
        n = float(len(self.dl))
        avgdl = float(sum(self.dl.values())) / n
        scores: dict[int, float] = {}
        cand = {d for t in terms for d in self.postings.get(t, {})}
        for d in cand:
            dl = float(self.dl[d])
            s = 0.0
            for t in terms:
                post = self.postings.get(t, {})
                df = float(len(post))
                tf = float(post.get(d, 0))
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                s += idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
            scores[d] = round(s, 6)
        ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
        return ranked[:k]


# ---- curation -----------------------------------------------------------

def clean(text: str) -> str:
    t = _CLEAN_RE.sub("", text or "")
    return _WS_RE.sub(" ", t).strip(" \t\n\x0b\f\r")


def ws_tokens(text: str) -> list[str]:
    return _WS_RE.split(text.strip(" "))


def quality(text: str) -> float:
    toks = ws_tokens(text)
    n = float(len(toks))
    n_stop = sum(1 for t in toks if t in STOPWORDS)
    return 0.4 * (len(set(toks)) / n) + 0.3 * (1.0 - n_stop / n) + 0.3 * min(n / 100.0, 1.0)


def shingles(text: str, k: int = 3) -> list[str]:
    toks = ws_tokens(text)
    if len(toks) > k - 1:
        return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))
    return [" ".join(toks)]


def minhash(sh: list[str], n_hashes: int = 16) -> list[str]:
    enc = [s.encode("utf-8") for s in sh]
    return [
        min(hashlib.md5(f"{seed}|".encode() + s).hexdigest() for s in enc)
        for seed in range(1, n_hashes + 1)
    ]


def near_duplicate_pairs(docs: dict[int, str], bands: int, n_hashes: int = 16, threshold: float = 0.5):
    """MinHash-LSH candidates (pairs sharing a band key, the key being
    md5 of the concatenated signature slice) and the candidates whose
    exact shingle Jaccard reaches ``threshold``: ``(n_candidates,
    {(a, b): jaccard})`` with a < b."""
    rows = n_hashes // bands
    sh = {i: shingles(t) for i, t in docs.items()}
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for i, s in sh.items():
        sig = minhash(s, n_hashes)
        for b in range(bands):
            key = hashlib.md5("".join(sig[b * rows : (b + 1) * rows]).encode()).hexdigest()
            buckets[(b, key)].append(i)
    cands = set()
    for members in buckets.values():
        members = sorted(set(members))
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cands.add((members[x], members[y]))
    verified = {}
    for a, b in cands:
        sa, sb = set(sh[a]), set(sh[b])
        inter = float(len(sa & sb))
        j = inter / (len(sa) + len(sb) - inter)
        if j >= threshold:
            verified[(a, b)] = j
    return len(cands), verified


def curate(raw_rows, min_words: int, min_quality: float, bands: int):
    """Expected curation: clean → quality gate → exact dedup on the
    lower-cased text (lowest id kept) → drop the larger id of every
    verified near-duplicate pair. Returns (survivor {id: content},
    verified pairs, candidate count)."""
    cleaned = {i: clean(t) for i, _, t in raw_rows}
    gated = {
        i: t for i, t in cleaned.items()
        if len(ws_tokens(t)) >= min_words and quality(t) >= min_quality
    }
    first: dict[str, int] = {}
    for i in sorted(gated):
        first.setdefault(gated[i].lower(), i)
    exact = {i: gated[i] for i in first.values()}
    n_cand, pairs = near_duplicate_pairs(exact, bands)
    dropped = {b for _, b in pairs}
    survivors = {i: t for i, t in exact.items() if i not in dropped}
    return survivors, pairs, n_cand


# ---- multi-strategy retrieval -------------------------------------------

def strategy_queries(question: str, top_k: int):
    """(priority, qtext, k) rows the multi-strategy fan-out produces."""
    if not question.strip():
        return []
    out = [(0, question, top_k * 2)]
    toks = list(dict.fromkeys(t for t in tokens(question) if t not in STOPWORDS))
    toks.sort(key=lambda t: (-len(t), t))
    out += [(1, t, 2) for t in toks[:3]]
    if len(question) > 20:
        chunks = [c.strip() for c in _CHUNK_RE.split(question)]
        out += [(2, c, 1) for c in [c for c in chunks if len(c) > 5][:2]]
    return out


def multi_strategy(vo: VectorOracle, content: dict[int, str], question: str, top_k: int):
    """Expected final [(id, score)] for one question with no score
    threshold: per-strategy exact top-k, first-occurrence dedup on the
    content's first 50 chars (priority, score desc, id), final top-k by
    (score desc, priority, id), plus the next hit for tie checks."""
    hits = []
    for prio, qtext, k in strategy_queries(question, top_k):
        q = embed([qtext], vo.dim)[0]
        for i, d in vo.topk(q, k):
            hits.append((prio, 1.0 - d, i))
    kept: dict[str, tuple] = {}
    for prio, score, i in sorted(hits, key=lambda h: (h[0], -h[1], h[2])):
        kept.setdefault(content[i][:50], (prio, score, i))
    final = sorted(kept.values(), key=lambda h: (-h[1], h[0], h[2]))[: top_k + 1]
    return [(i, s) for _, s, i in final]
