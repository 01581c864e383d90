"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, sizes)``: texts and metadata are
sampled from ``fixture_profile.json`` (the word, length, ``lang`` and
``source`` distributions of the sf0.1 ``documents`` fixture), vectors are
drawn around seeded cluster centres, and duplicates are planted at known
ids. The ground truth the workloads check against is computed here too:
brute-force top-k (squared L2, ties by id, summed in the same left-to-right
order as the engine's ``l2sq``), filter masks, and the planted duplicate
groups. Request ``i`` of a stream depends only on ``(seed, i)``, so a run
that stops after any number of requests saw a prefix of the same stream.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture_profile.json")
DIM = 64

# stream tags keep the workloads' random streams independent of each other
_SERVE, _INSERT, _DEDUP, _REQ, _BATCH = 1, 2, 3, 4, 5


def _rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tags])


@dataclass(frozen=True)
class Profile:
    words: np.ndarray
    word_p: np.ndarray
    doc_words: np.ndarray
    doc_words_p: np.ndarray
    langs: np.ndarray
    lang_p: np.ndarray
    sources: np.ndarray
    source_p: np.ndarray


def _dist(d: dict[str, int]) -> tuple[np.ndarray, np.ndarray]:
    keys = sorted(d)
    p = np.array([d[k] for k in keys], dtype=np.float64)
    return np.array(keys, dtype=object), p / p.sum()


def load_profile(path: str = PROFILE_PATH) -> Profile:
    with open(path) as f:
        prof = json.load(f)
    words, word_p = _dist(prof["words"])
    lens, lens_p = _dist(prof["doc_words"])
    langs, lang_p = _dist(prof["langs"])
    sources, source_p = _dist(prof["sources"])
    return Profile(
        words, word_p, np.array([int(x) for x in lens]), lens_p,
        langs, lang_p, sources, source_p,
    )


class TextSampler:
    """Word-salad documents with the fixture's vocabulary and lengths."""

    def __init__(self, profile: Profile, rng: np.random.Generator):
        self.p = profile
        self.rng = rng

    def words(self, n: int) -> list[str]:
        return list(self.rng.choice(self.p.words, size=n, p=self.p.word_p))

    def texts(self, n: int) -> list[str]:
        lens = self.rng.choice(self.p.doc_words, size=n, p=self.p.doc_words_p)
        flat = self.words(int(lens.sum()))
        out, pos = [], 0
        for ln in lens:
            out.append(" ".join(flat[pos : pos + ln]))
            pos += ln
        return out

    def mutate(self, text: str, edits: int = 3) -> str:
        """A near duplicate: ``edits`` words replaced, never the same text."""
        toks = text.split()
        while True:
            new = list(toks)
            for i in self.rng.choice(len(toks), size=min(edits, len(toks)), replace=False):
                new[i] = str(self.rng.choice(self.p.words))
            out = " ".join(new)
            if out != text:
                return out


@dataclass
class Docs:
    """Collection rows: ``doc_key`` is the generator's id, equal to the
    ``_m_id`` the collection assigns when the rows are inserted in order."""

    key: np.ndarray
    text: list[str]
    lang: np.ndarray
    source: np.ndarray
    score: np.ndarray
    rare: np.ndarray
    batch: np.ndarray
    vec: np.ndarray | None = None

    def __len__(self) -> int:
        return len(self.text)

    def table(self) -> pa.Table:
        cols: dict[str, Any] = {
            "_m_doc": pa.array(self.text, pa.string()),
            "doc_key": pa.array(self.key, pa.int64()),
            "lang": pa.array(self.lang.tolist(), pa.string()),
            "source": pa.array(self.source.tolist(), pa.string()),
            "score": pa.array(self.score, pa.int32()),
            "rare": pa.array(self.rare, pa.int32()),
            "batch": pa.array(self.batch, pa.int32()),
        }
        if self.vec is not None:
            flat = pa.array(self.vec.ravel(), pa.float32())
            cols["_m_embedding"] = pa.ListArray.from_arrays(
                pa.array(np.arange(0, self.vec.size + 1, self.vec.shape[1], dtype=np.int32)), flat
            )
        return pa.table(cols)

    def write(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        pq.write_table(self.table(), os.path.join(path, "part-00000.parquet"))

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.text)

    def concat(self, other: "Docs") -> "Docs":
        return Docs(*(
            a + b if isinstance(a, list) else np.concatenate([a, b])
            for a, b in ((getattr(self, f), getattr(other, f))
                         for f in ("key", "text", "lang", "source", "score", "rare", "batch", "vec"))
        ))

    def digest(self, h) -> None:
        for t in self.text:
            h.update(t.encode("utf-8") + b"\0")
        for a in (self.key, self.score, self.rare, self.batch):
            h.update(np.ascontiguousarray(a).tobytes())
        h.update("\0".join(self.lang.tolist() + self.source.tolist()).encode())
        if self.vec is not None:
            h.update(self.vec.tobytes())


def _metadata(profile: Profile, rng: np.random.Generator, n: int, rare_groups: int):
    lang = rng.choice(profile.langs, size=n, p=profile.lang_p)
    source = rng.choice(profile.sources, size=n, p=profile.source_p)
    score = rng.integers(0, 100, size=n).astype(np.int32)
    rare = rng.integers(0, max(1, rare_groups), size=n).astype(np.int32)
    return lang, source, score, rare


def make_docs(profile: Profile, rng: np.random.Generator, n: int, start: int,
              batch: int, rare_per_value: int) -> Docs:
    lang, source, score, rare = _metadata(profile, rng, n, n // rare_per_value)
    return Docs(
        key=np.arange(start, start + n, dtype=np.int64),
        text=TextSampler(profile, rng).texts(n),
        lang=lang, source=source, score=score, rare=rare,
        batch=np.full(n, batch, dtype=np.int32),
    )


# ---------------------------------------------------------------------------
# Filters: the Mongo-dialect subset the requests use, evaluated in numpy.
# ---------------------------------------------------------------------------
def filter_mask(docs: Docs, filt: dict | None) -> np.ndarray:
    if not filt:
        return np.ones(len(docs), dtype=bool)
    mask = np.ones(len(docs), dtype=bool)
    for key, val in filt.items():
        if key == "$and":
            for sub in val:
                mask &= filter_mask(docs, sub)
        elif key == "$or":
            anyof = np.zeros(len(docs), dtype=bool)
            for sub in val:
                anyof |= filter_mask(docs, sub)
            mask &= anyof
        else:
            col = getattr(docs, key)
            if isinstance(val, dict):
                for op, v in val.items():
                    if op == "$in":
                        mask &= np.isin(col, v)
                    elif op == "$gt":
                        mask &= col > v
                    elif op == "$eq":
                        mask &= col == v
                    else:
                        raise ValueError(f"unsupported operator {op}")
            else:
                mask &= col == val
    return mask


def _random_filter(kind: str, profile: Profile, docs: Docs, rng: np.random.Generator) -> dict | None:
    """A filter of the given kind with seeded operands. ``rare`` matches so
    few rows that an IVF query must escalate ``nprobe`` to fill k."""
    if kind == "none":
        return None
    if kind == "eq":
        return {"lang": str(rng.choice(profile.langs))}
    if kind == "in":
        return {"source": {"$in": [str(s) for s in rng.choice(profile.sources, 3, replace=False)]}}
    if kind == "gt":
        return {"score": {"$gt": int(rng.integers(20, 80))}}
    if kind == "and":
        return {"$and": [{"lang": {"$in": [str(x) for x in rng.choice(profile.langs, 2, replace=False)]}},
                         {"score": {"$gt": int(rng.integers(10, 60))}}]}
    if kind == "or":
        return {"$or": [{"source": str(rng.choice(profile.sources))},
                        {"score": {"$gt": int(rng.integers(85, 99))}}]}
    return {"rare": int(docs.rare[int(rng.integers(0, len(docs)))])}


def l2sq_rows(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared L2 of each float32 row against ``q`` in float64, summed left
    to right like the engine's ``aggregate(zip_with(...))`` fold."""
    d = vecs.astype(np.float64) - np.asarray(q, dtype=np.float64)
    return np.cumsum(d * d, axis=1)[:, -1]


def exact_topk(docs: Docs, q: np.ndarray, k: int, mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(keys, distances) of the k nearest rows passing ``mask``."""
    idx = np.flatnonzero(mask)
    dist = l2sq_rows(docs.vec[idx], q)
    order = np.lexsort((docs.key[idx], dist))[:k]
    return docs.key[idx][order], dist[order]


# ---------------------------------------------------------------------------
# serve: the user's insert -> query loop
# ---------------------------------------------------------------------------
#: one cycle of the closed-loop request mix, (kind, filter kind, k) per
#: slot; every run measures at least one whole cycle. Fixing the filter kind
#: and k of each slot gives every seed the same mix of query shapes; the
#: seed draws operands, query vectors and data.
SERVE_CYCLE = (
    ("exact", "eq", 1), ("ann", "in", 1), ("batch_exact", "none", 10),
    ("exact", "and", 10), ("ann", "or", 50), ("batch_ann", "none", 10),
    ("exact", "gt", 50), ("ann", "rare", 10), ("insert", "none", 0),
)


@dataclass
class Request:
    kind: str
    k: int
    filter: dict | None
    vectors: np.ndarray  # (1, DIM) for single queries, (Q, DIM) for batches


@dataclass
class ServeInputs:
    seed: int
    base: Docs
    profile: Profile
    batch_queries: int
    batch_docs: int
    rare_per_value: int
    near_fraction: float
    dup_fraction: float

    def request(self, i: int) -> Request:
        """Request ``i`` of the stream (``insert`` requests carry no query)."""
        rng = _rng(self.seed, _SERVE, _REQ, i)
        kind, filter_kind, k = SERVE_CYCLE[i % len(SERVE_CYCLE)]
        filt = _random_filter(filter_kind, self.profile, self.base, rng)
        nq = self.batch_queries if kind.startswith("batch") else 1
        anchors = rng.integers(0, len(self.base), size=nq)
        vecs = (self.base.vec[anchors] + 0.1 * rng.standard_normal((nq, DIM))).astype(np.float32)
        return Request(kind, k, filt, vecs)

    def batch(self, b: int) -> Docs:
        """Text-only batch ``b``: fresh documents tagged ``batch=b`` plus
        planted near and exact duplicates of base documents."""
        rng = _rng(self.seed, _INSERT, _BATCH, b)
        start = len(self.base) + b * self.batch_docs
        docs = make_docs(self.profile, rng, self.batch_docs, start, b, self.rare_per_value)
        sampler = TextSampler(self.profile, rng)
        n_near = int(self.batch_docs * self.near_fraction)
        n_dup = int(self.batch_docs * self.dup_fraction)
        slots = rng.choice(self.batch_docs, size=n_near + n_dup, replace=False)
        src = rng.integers(0, len(self.base), size=n_near + n_dup)
        for j, (slot, s) in enumerate(zip(slots, src)):
            base_text = self.base.text[int(s)]
            docs.text[int(slot)] = sampler.mutate(base_text) if j < n_near else base_text
        return docs

    def probe_text(self, b: int, batch: Docs) -> str:
        return batch.text[int(_rng(self.seed, _INSERT, _REQ, b).integers(0, len(batch)))]

    def digest(self, n_requests: int, n_batches: int) -> str:
        h = hashlib.sha256()
        self.base.digest(h)
        for i in range(n_requests):
            r = self.request(i)
            h.update(json.dumps([r.kind, r.k, r.filter], sort_keys=True).encode())
            h.update(r.vectors.tobytes())
        for b in range(n_batches):
            batch = self.batch(b)
            batch.digest(h)
            h.update(self.probe_text(b, batch).encode())
        return h.hexdigest()


def serve_inputs(seed: int, docs: int, clusters: int, batch_queries: int, batch_docs: int,
                 rare_per_value: int, dup_fraction: float, near_fraction: float) -> ServeInputs:
    """A base collection with clustered vectors (planted exact vector
    duplicates make ranks fall back to the id tie-break) and the request
    stream over it."""
    profile = load_profile()
    rng = _rng(seed, _SERVE)
    base = make_docs(profile, rng, docs, 0, -1, rare_per_value)
    centres = 2.0 * rng.standard_normal((clusters, DIM))
    label = rng.integers(0, clusters, size=docs)
    vec = (centres[label] + 0.5 * rng.standard_normal((docs, DIM))).astype(np.float32)
    n_dup = int(docs * dup_fraction)
    dst = rng.choice(docs, size=n_dup, replace=False)
    vec[dst] = vec[rng.integers(0, docs, size=n_dup)]
    base.vec = vec
    return ServeInputs(seed, base, profile, batch_queries, batch_docs, rare_per_value,
                       near_fraction, dup_fraction)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------
@dataclass
class DedupInputs:
    seed: int
    doc_id: np.ndarray
    text: list[str]
    exact_groups: list[list[int]]  # ids sharing one text (every group ≥ 2)
    near_groups: list[list[int]]  # a source id and its mutated copies
    passages: list[str]  # boilerplate appended to several documents

    def write(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table({"doc_id": pa.array(self.doc_id, pa.int64()),
                      "text": pa.array(self.text, pa.string())}),
            os.path.join(path, "part-00000.parquet"),
        )

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.text)

    def digest(self) -> str:
        h = hashlib.sha256()
        h.update(self.doc_id.tobytes())
        for t in self.text:
            h.update(t.encode("utf-8") + b"\0")
        h.update(json.dumps([self.exact_groups, self.near_groups, self.passages]).encode())
        return h.hexdigest()


def dedup_inputs(seed: int, n_docs: int, exact_groups: int, near_groups: int,
                 passages: int, passage_words: int, passage_fraction: float) -> DedupInputs:
    """A corpus of ``n_docs`` with planted exact-duplicate groups (2-4
    copies), near-duplicate groups (1-2 copies with three words replaced)
    and boilerplate passages appended to long unrelated documents. Planted
    groups draw from disjoint source documents, so no two groups can merge
    into one cluster."""
    profile = load_profile()
    rng = _rng(seed, _DEDUP)
    sampler = TextSampler(profile, rng)
    copies_e = rng.integers(1, 4, size=exact_groups)
    copies_n = rng.integers(1, 3, size=near_groups)
    n_unique = n_docs - int(copies_e.sum()) - int(copies_n.sum())
    texts = sampler.texts(n_unique)
    rows: list[tuple[str, int]] = []  # (text, group tag); tag 0 = ungrouped
    for i, t in enumerate(texts):
        if i < exact_groups:
            rows += [(t, 1 + i)] * (1 + int(copies_e[i]))
        elif i < exact_groups + near_groups:
            j = i - exact_groups
            rows.append((t, -(1 + j)))
            rows += [(sampler.mutate(t), -(1 + j)) for _ in range(int(copies_n[j]))]
        else:
            rows.append((t, 0))
    boiler = [" ".join(sampler.words(passage_words)) for _ in range(passages)]
    free = [i for i, (t, g) in enumerate(rows) if g == 0 and len(t.split()) >= 40]
    for i in rng.choice(free, size=min(len(free), int(n_docs * passage_fraction)), replace=False):
        t, g = rows[int(i)]
        rows[int(i)] = (t + " " + boiler[int(rng.integers(0, passages))], g)
    order = rng.permutation(len(rows))
    text = [rows[int(j)][0] for j in order]
    tags = np.array([rows[int(j)][1] for j in order])
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(text):
        by_text.setdefault(t, []).append(i)
    exact = sorted(ids for ids in by_text.values() if len(ids) > 1)
    near = [np.flatnonzero(tags == -(1 + j)).tolist() for j in range(near_groups)]
    return DedupInputs(seed, np.arange(len(text), dtype=np.int64), text, exact, near, boiler)
