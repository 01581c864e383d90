"""The benchmark workloads, driven through kaer_spark's public API.

Each workload is a closed loop with one client: the next request is sent
when the previous one returned. ``setup`` builds the workload's state and
pays the cold start (the first Spark jobs, Python workers and code
generation); ``request`` runs one timed operation and returns a checker
that verifies its output against the generator's ground truth outside the
timed region. A failed check or an exception fails the operation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from perfbench import gen


#: the warm-up requests come from this cycle of the stream, which the
#: measured loop never reaches
WARM_UP_CYCLE = 1_000_000


class CheckFailed(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's checksum and marker files
    are not data."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


@dataclass
class Result:
    """What one request reports besides its latency."""

    kind: str
    items: int  # queries answered or documents processed
    recall: list[float] = field(default_factory=list)
    parts: dict[str, float] = field(default_factory=dict)  # seconds per call kind


class Workload:
    #: the request kind of each slot of one cycle of the mix
    mix: list[str] = []

    def __init__(self, spark, tracer, work: str, sizes: dict, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.sizes = sizes
        self.seed = seed

    def setup(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Requests run before the measured loop; checked but not timed."""

    def request(self, i: int) -> tuple[Result, Callable[[], None]]:
        raise NotImplementedError

    def storage(self) -> dict[str, float]:
        raise NotImplementedError

    def stored_and_input_bytes(self) -> tuple[int, int]:
        """Bytes on disk and raw input bytes behind them, taken at a point
        every run reaches, so the ratio does not depend on the run's length."""
        raise NotImplementedError

    def _action(self, df):
        rows = df.collect()
        self.tracer.note_plan(df)
        return rows


# ---------------------------------------------------------------------------
def _same_topk(keys: list[int], exp_keys: np.ndarray, exp_dist: np.ndarray,
               dist_of: Callable[[list[int]], np.ndarray]) -> bool:
    """Equal to the brute-force top-k, up to reordering within ties."""
    if len(keys) != len(exp_keys) or len(set(keys)) != len(keys):
        return False
    if list(keys) == exp_keys.tolist():
        return True
    return bool(np.allclose(dist_of(keys), exp_dist, rtol=1e-9, atol=1e-12))


def _recall(got: list[int], exact: np.ndarray) -> float:
    want = set(exact[:10].tolist())
    return len(want & set(got[:10])) / len(want) if want else 1.0


class Serve(Workload):
    """The user's insert -> query loop: filtered exact and IVF ``query`` and
    ``query_batch`` over a collection stored with generated clustered
    vectors, and once per cycle a text-only batch through ``insert_df``
    (embedding stage, IVF and MinHash catch-up) followed by
    read-your-writes checks."""

    mix = [kind for kind, _filter, _k in gen.SERVE_CYCLE]
    #: stored bytes are taken once this many batches are in (the warm-up
    #: inserts the first), so their ratio does not depend on the run's length
    STORAGE_AFTER_BATCHES = 2

    def setup(self) -> None:
        from kaer_spark import KaerContext

        s = self.sizes
        self.inputs = gen.serve_inputs(
            self.seed, s["docs"], s["clusters"], s["batch_queries"], s["batch_docs"],
            s["rare_per_value"], s["dup_fraction"], s["near_fraction"],
        )
        self.docs = self.inputs.base  # grows with every insert
        src = os.path.join(self.work, "base")
        self.docs.write(src)
        root = os.path.join(self.work, "collections")
        self.coll = KaerContext(self.spark, root).create_collection("docs")
        self.coll.insert_df(self.spark.read.parquet(src))
        self.coll.build_index(cells=s["cells"], fit="spread")
        self.coll.build_minhash_index()
        self.embedder = self.coll.ctx.provider_for(self.coll.meta)
        self.path = self.coll.path
        self.batches = 0
        self.inserted_bytes = self.docs.text_bytes() + self.docs.vec.nbytes
        self.stored = None
        ids = self.coll.df().select("_m_id", "doc_key").toPandas()
        check(len(ids) == len(self.docs), f"collection holds {len(ids)} rows, inserted {len(self.docs)}")
        check(bool((ids["_m_id"] == ids["doc_key"]).all()), "_m_id is not the insertion order")

    def warm_up(self) -> None:
        # one request of each kind
        for kind in dict.fromkeys(self.mix):
            _res, checker = self.request(WARM_UP_CYCLE * len(self.mix) + self.mix.index(kind))
            checker()

    def _dist_of(self, q: np.ndarray) -> Callable[[list[int]], np.ndarray]:
        vec = self.docs.vec  # keys are row positions: doc_key == _m_id == row
        return lambda keys: gen.l2sq_rows(vec[np.asarray(keys, dtype=np.int64)], q)

    def request(self, i: int):
        req = self.inputs.request(i)
        if req.kind == "insert":
            return self._insert()
        ann = req.kind.endswith("ann")
        docs = self.docs
        mask = gen.filter_mask(docs, req.filter)
        if req.kind.startswith("batch"):
            qdf = self.spark.createDataFrame(
                [(j, [float(x) for x in v]) for j, v in enumerate(req.vectors)],
                "query_id long, embedding array<float>",
            )
            df = self.coll.query_batch(qdf, k=req.k, filter=req.filter, approximate=ann)
            rows = self._action(df.select("query_id", "_m_id", "rank"))
            res = Result(req.kind, len(req.vectors))

            def checker() -> None:
                per_q: dict[int, list[tuple[int, int]]] = {}
                for r in rows:
                    per_q.setdefault(r["query_id"], []).append((r["rank"], r["_m_id"]))
                for j, q in enumerate(req.vectors):
                    keys = [key for _rank, key in sorted(per_q.get(j, []))]
                    self._check_rows(req, q, keys, docs, mask, res)

            return res, checker

        q = req.vectors[0]
        df = self.coll.query(
            query_vector=[float(x) for x in q], k=req.k, filter=req.filter, approximate=ann
        )
        rows = self._action(df.select("doc_key", "_dist"))
        res = Result(req.kind, 1)

        def checker() -> None:
            keys = [r["doc_key"] for r in rows]
            self._check_rows(req, q, keys, docs, mask, res)
            got = np.array([r["_dist"] for r in rows], dtype=np.float64)
            check(np.allclose(got, self._dist_of(q)(keys), rtol=1e-9, atol=1e-12),
                  f"request {i}: reported distances differ from brute force")

        return res, checker

    def _check_rows(self, req, q, keys, docs, mask, res) -> None:
        exp_keys, exp_dist = gen.exact_topk(docs, q, req.k, mask)
        dist_of = self._dist_of(q)
        what = f"{req.kind} k={req.k} filter={req.filter}"
        if not req.kind.endswith("ann"):
            check(_same_topk(keys, exp_keys, exp_dist, dist_of),
                  f"{what}: {keys[:5]} != {exp_keys[:5].tolist()}")
            return
        check(len(set(keys)) == len(keys), f"{what}: duplicate rows")
        check(bool(mask[np.asarray(keys, dtype=np.int64)].all()), f"{what}: row outside the filter")
        if req.filter is not None and not req.kind.startswith("batch"):
            # a filtered query escalates nprobe until k rows match
            check(len(keys) == len(exp_keys), f"{what}: {len(keys)} rows, {len(exp_keys)} match")
        else:
            check(len(keys) <= req.k, f"{what}: more than k rows")
        check(bool(np.all(np.diff(dist_of(keys)) >= -1e-12)), f"{what}: rows not in distance order")
        if req.k >= 10:
            res.recall.append(_recall(keys, exp_keys))

    def _insert(self):
        b = self.batches
        self.batches += 1
        batch = self.inputs.batch(b)
        src = os.path.join(self.work, "batches", str(b))
        batch.write(src)
        batch.vec = np.array(self.embedder.embed(batch.text), dtype=np.float32)
        self.docs = self.docs.concat(batch)
        self.inserted_bytes += batch.text_bytes()
        expected = len(self.docs)
        probe = self.inputs.probe_text(b, batch)
        tag = {"batch": b}
        res = Result("insert", 2)
        t0 = time.perf_counter()
        self.coll.insert_df(self.spark.read.parquet(src))
        t1 = time.perf_counter()
        count = self.coll.count()
        t2 = time.perf_counter()
        exact = self._action(
            self.coll.query(probe, k=len(batch), filter=tag).select("doc_key", "_m_id", "_dist")
        )
        t3 = time.perf_counter()
        ann = self._action(
            self.coll.query(probe, k=len(batch), filter=tag, approximate=True)
            .select("doc_key", "_m_id", "_dist")
        )
        res.parts = {"insert_df": t1 - t0, "count": t2 - t1, "query_exact_ryw": t3 - t2,
                     "query_ann_ryw": time.perf_counter() - t3}
        want = set(batch.key.tolist())

        def checker() -> None:
            if self.batches == self.STORAGE_AFTER_BATCHES:
                self.stored = self.stored_and_input_bytes()
            check(count == expected, f"batch {b}: count {count} != {expected}")
            for mode, rows in (("exact", exact), ("ann", ann)):
                keys = [r["doc_key"] for r in rows]
                check(len(keys) == len(want) and set(keys) == want,
                      f"batch {b}: {mode} query on the batch tag returned {len(set(keys) & want)}/{len(want)}")
                check(rows[0]["_dist"] == 0.0, f"batch {b}: {mode} query misses the probe document")
                check(all(r["_m_id"] == r["doc_key"] for r in rows), f"batch {b}: ids not in insertion order")

        return res, checker

    def storage(self) -> dict[str, float]:
        data, _files = dir_bytes(os.path.join(self.path, "data"))
        total, files = dir_bytes(self.path)
        return {"storage.data_bytes": data, "storage.index_bytes": total - data,
                "storage.files": files}

    def stored_and_input_bytes(self) -> tuple[int, int]:
        if self.stored is not None:
            return self.stored
        return dir_bytes(self.path)[0], self.inserted_bytes


# ---------------------------------------------------------------------------
class Dedup(Workload):
    """Repeated passes of prepare_training_corpus → minhash_near_dups →
    dedup_clusters → dedup_representatives → remove_duplicate_passages →
    parquet write over a corpus with planted duplicates."""

    mix = ["pass"]

    def setup(self) -> None:
        s = self.sizes
        self.inputs = gen.dedup_inputs(
            self.seed, s["docs"], s["exact_groups"], s["near_groups"],
            s["passages"], s["passage_words"], s["passage_fraction"],
        )
        self.src = os.path.join(self.work, "corpus")
        self.inputs.write(self.src)
        self.out = os.path.join(self.work, "deduped")

    def warm_up(self) -> None:
        # one pass pays the cold start (first jobs, Python workers, code
        # generation); a second would cost a tenth of the time budget
        _res, checker = self.request(-1)
        checker()

    def request(self, i: int):
        from kaer_spark import pipelines
        from kaer_spark.operators import dedup

        s = self.sizes
        docs = self.spark.read.parquet(self.src)
        corpus = pipelines.prepare_training_corpus(docs, text_col="text", id_col="doc_id", min_quality=0.0)
        pairs = dedup.minhash_near_dups(corpus, id_col="doc_id", text_col="text")
        clusters = dedup.dedup_clusters(pairs)
        kept = dedup.dedup_representatives(corpus, clusters, id_col="doc_id")
        clean = dedup.remove_duplicate_passages(
            kept.select("doc_id", "text"), id_col="doc_id", text_col="text", length=s["passage_window"]
        )
        clean.write.mode("overwrite").parquet(self.out)
        res = Result("pass", len(self.inputs.text))

        def checker() -> None:
            import pyarrow.parquet as pq

            t = pq.read_table(self.out, columns=["doc_id", "text_clean"]).to_pydict()
            self._check(t["doc_id"], t["text_clean"])

        return res, checker

    def _check(self, ids: list[int], texts: list[str]) -> None:
        inp = self.inputs
        kept = set(ids)
        check(len(kept) == len(ids), "a document id is written twice")
        check(kept <= set(inp.doc_id.tolist()), "an output id is not an input id")
        for g in inp.exact_groups:
            n = len(kept & set(g))
            check(n == 1, f"exact-duplicate group {g[:4]} keeps {n} members")
        for g in inp.near_groups:
            check(bool(kept & set(g)), f"near-duplicate group {g} lost every member")
        grouped = {i for g in inp.exact_groups + inp.near_groups for i in g}
        lost = [i for i in inp.doc_id.tolist() if i not in grouped and i not in kept]
        check(not lost, f"{len(lost)} unique documents dropped, e.g. {lost[:3]}")
        for p in inp.passages:
            check(not any(p in t for t in texts), "a boilerplate passage survived")

    def storage(self) -> dict[str, float]:
        total, files = dir_bytes(self.out)
        return {"storage.data_bytes": total, "storage.index_bytes": 0, "storage.files": files}

    def stored_and_input_bytes(self) -> tuple[int, int]:
        return dir_bytes(self.out)[0], self.inputs.text_bytes()


WORKLOADS = {"serve": Serve, "dedup": Dedup}

