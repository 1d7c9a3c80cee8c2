"""The benchmark's workloads.

Each workload is a closed loop with one client: every call is issued
after the previous one returns.  A workload has

- ``setup()``: the set-up a user pays before the first call (timed, and
  repeated to give ``setup_s``), returning the state the calls run on;
- ``warm_up(state)``: untimed units, so the timed ones see a warm JVM;
- ``unit(state, i, tr)``: one timed op (an ``ingest_mixed`` round on a
  fresh collection, a ``dedup_batch`` pass), checked against a
  driver-side oracle;
- ``sweep(state, tr)``: the traced run's extra per-layer probes;
- ``finish(state, tr)``: end-of-run correctness checks.

The library is called only through its public API, exactly as a user
does.  ``tr`` is a ``spans.Tracer``; with tracing off its spans are
no-ops.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from spans import Tracer

K = 10                 # results per query (the reference's headline k)
BLOCK_QUERIES = 16     # query block size for knn_block / routed batch probes
DEDUP_THRESHOLD = 0.5  # Jaccard threshold for both dedup operators
SHINGLE_K = 5          # char shingle size (the operators' default)
SIM_TOL = 1e-5         # similarity tolerance against the numpy oracle


class OpLog:
    """Timed ops of one run: wall, documents processed, and failures.
    An op fails when its call raises or any of its checks fails."""

    def __init__(self):
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.outside_ops = 0  # failed checks outside any recorded op
        self._cur: dict | None = None
        self.record = True
        # () -> a CPU snapshot; two of them give an op's CPU time
        self.cpu_clock = None
        self.cpu_seconds = None

    @contextmanager
    def op(self, kind: str, docs: int = 0):
        rec = {"kind": kind, "docs": docs, "ok": True, "t0": time.perf_counter()}
        if self.cpu_clock:
            rec["c0"] = self.cpu_clock()
        self._cur = rec
        try:
            yield rec
        except Exception as e:  # a failed library call is a failed op
            self.fail(f"{kind}: {type(e).__name__}: {e}")
        finally:
            self.stop_clock()
            self._cur = None
            if self.record:
                self.ops.append(rec)

    def stop_clock(self) -> None:
        """End the current op's timing; the oracle checks that follow
        still count toward its failures."""
        rec = self._cur
        if "ms" not in rec:
            rec["ms"] = (time.perf_counter() - rec.pop("t0")) * 1000.0
            if "c0" in rec:
                rec["cpu_ms"] = self.cpu_seconds(rec.pop("c0"), self.cpu_clock()) * 1000.0

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        if self._cur is not None:
            self._cur["ok"] = False
        if self._cur is None or not self.record:
            self.outside_ops += 1

    def check(self, cond: bool, msg: str) -> None:
        if not cond:
            self.fail(msg)


# ---------------------------------------------------------------- oracles

def numpy_topk(ids: list[str], mat: np.ndarray, q: np.ndarray, k: int):
    """Exact top-k by cosine over unit rows: (ids, sims), ties by id."""
    qn = q.astype(np.float64)
    qn /= np.linalg.norm(qn)
    sims = mat.astype(np.float64) @ qn
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:k]
    return [ids[i] for i in order], [float(sims[i]) for i in order]


def check_topk(log: OpLog, rows, want_ids, want_sims, what: str) -> None:
    got_ids = [r["id"] for r in rows]
    log.check(got_ids == want_ids, f"{what}: ids {got_ids[:3]}... != oracle {want_ids[:3]}...")
    if got_ids == want_ids:
        worst = max((abs(r["similarity"] - s) for r, s in zip(rows, want_sims)), default=0.0)
        log.check(worst <= SIM_TOL, f"{what}: similarity off by {worst:.2e}")


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingles(text: str, k: int = SHINGLE_K) -> frozenset:
    """The operators' char k-shingle set: lower-case, whitespace runs
    collapsed to one space, trimmed."""
    t = _WS.sub(" ", text.lower()).strip(" ")
    return frozenset(t[i:i + k] for i in range(len(t) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def _matrix(col) -> np.ndarray:
    """A list<float> column of equal-length rows as a float32 matrix."""
    flat = col.combine_chunks()
    return flat.flatten().to_numpy().astype(np.float32).reshape(len(flat), -1)


def _plan_counts(df) -> tuple[int, int]:
    """(nodes, Window nodes) in the optimized logical plan of ``df``."""
    lines = df._jdf.queryExecution().optimizedPlan().treeString().splitlines()
    nodes = [ln.lstrip(" :+-") for ln in lines if ln.strip()]
    return len(nodes), sum(1 for n in nodes if n.startswith("Window "))


# ---------------------------------------------------------- ingest_mixed

class IngestMixed:
    """An in-memory collection (n ~ 1k, d = 1536) loaded with ``add_df``
    from the generated parquet file, then one write round: add new ids,
    upsert existing ids, delete a few ids, then one ``query_embedding``
    (cycling unfiltered, ``where`` metadata equality, ``where_document``
    ``$contains`` across rounds) timed through ``.collect()``.  One op is
    one round on a freshly loaded collection, so every op sees the same
    write debt: the lineage one round of writes leaves behind."""

    fresh_state_per_unit = True

    def __init__(self, spark, inputs: dict, log: OpLog):
        from chromem_go_spark import DB

        self.spark, self.log, self.DB = spark, log, DB
        t = {name: pq.read_table(m["path"]) for name, m in inputs["tables"].items()}
        self.docs_path = inputs["tables"]["docs"]["path"]
        docs = t["docs"]
        vecs = _matrix(docs.column("embedding"))
        self.base = {
            i: (dict(m), v, c) for i, m, v, c in zip(
                docs.column("id").to_pylist(), docs.column("metadata").to_pylist(),
                vecs, docs.column("content").to_pylist())
        }
        q = t["queries"]
        self.queries = list(zip(_matrix(q.column("qvec")), q.column("lang").to_pylist(),
                                q.column("word").to_pylist()))
        self.new = self._by_round(t["new"].to_pylist())
        self.n_rounds = len(self.new)
        self.ups = self._by_round(t["upserts"].to_pylist())
        self.dels: dict[int, list[str]] = {}
        for r in t["deletes"].to_pylist():
            self.dels.setdefault(r["round"], []).append(r["id"])
        self._n_coll = 0

    @staticmethod
    def _by_round(rows):
        out: dict[int, list[dict]] = {}
        for r in rows:
            out.setdefault(r["round"], []).append(r)
        return out

    # -- set-up: DB + collection + add_df from the file + first count
    def setup(self, tr):
        self._n_coll += 1
        with tr.span("db.DB"):
            db = self.DB(self.spark)
        with tr.span("db.create_collection"):
            coll = db.create_collection(f"kb{self._n_coll}")
        with tr.span("collection.add_df", spark=True):
            coll.add_df(self.spark.read.parquet(self.docs_path))
        with tr.span("collection.count", spark=True):
            n = coll.count()
        if n != len(self.base):
            raise RuntimeError(f"loaded {n} docs, expected {len(self.base)}")
        return {"coll": coll, "model": dict(self.base)}

    def _query_args(self, qi: int, shape: int):
        vec, lang, word = self.queries[qi % len(self.queries)]
        if shape == 0:
            return vec, {}, "plain"
        if shape == 1:
            return vec, {"where": {"lang": lang}}, "where"
        return vec, {"where_document": {"$contains": word}}, "contains"

    def _oracle(self, model, vec, kw):
        where = kw.get("where", {})
        word = kw.get("where_document", {}).get("$contains")
        ids = sorted(
            i for i, (m, _, c) in model.items()
            if all(m.get(k) == v for k, v in where.items()) and (word is None or word in c)
        )
        if not ids:
            return [], []
        mat = np.stack([model[i][1] for i in ids])
        return numpy_topk(ids, mat, vec, K)

    def _write(self, coll, model, g: int, tr) -> None:
        new, ups, dels = self.new[g], self.ups[g], self.dels[g]
        for label, rows in (("collection.add", new), ("collection.upsert", ups)):
            with tr.span(label, spark=True):
                coll.add(
                    ids=[r["id"] for r in rows],
                    embeddings=[r["embedding"] for r in rows],
                    metadatas=[dict(r["metadata"]) for r in rows],
                    contents=[r["content"] for r in rows],
                )
            for r in rows:
                model[r["id"]] = (dict(r["metadata"]), np.asarray(r["embedding"], np.float32),
                                  r["content"])
        with tr.span("collection.delete", spark=True):
            coll.delete(ids=dels)
        for i in dels:
            model.pop(i, None)

    def warm_up(self, state) -> None:
        # each query shape compiles its own plan: warm all three
        for i in (-3, -2, -1):
            self.unit(state if i == -3 else self.setup(Tracer()), i, Tracer())

    def unit(self, state, i: int, tr) -> None:
        coll, model = state["coll"], state["model"]
        g = i % self.n_rounds
        vec, kw, shape = self._query_args(i, i % 3)
        with self.log.op("round") as op, tr.span("round", request=f"u{i}") as sp:
            with tr.span("collection.write"):
                self._write(coll, model, g, tr)
            state["upserted"] = self.ups[g][0]["id"]
            if sp is not None:
                sp["plan_nodes"], sp["plan_window_nodes"] = _plan_counts(coll.df)
                with tr.span("collection.count", spark=True, probe=True):
                    coll.count()
            with tr.span("collection.query_call", spark=True, shape=shape):
                df = coll.query_embedding(vec.tolist(), K, **kw)
            with tr.span("spark.collect", spark=True, shape=shape):
                rows = df.collect()
            self.log.stop_clock()
            check_topk(self.log, rows, *self._oracle(model, vec, kw), f"round {g} {shape} query")
            op["docs"] = len(model)

    def sweep(self, state, tr) -> None:
        """Per-layer probes on the collection as the traced round left it
        (the lineage depth its query saw)."""
        from chromem_go_spark.operators import filters, knn, router

        coll, model = state["coll"], state["model"]
        vec, lang, word = self.queries[0]
        ids = sorted(model)
        mat = np.stack([model[i][1] for i in ids])
        for _ in range(3):
            with tr.span("filters.compile"):
                filters.where_predicate({"lang": lang})
                filters.where_document_predicate({"$contains": word})
            with tr.span("knn.numpy_floor"):
                want = numpy_topk(ids, mat, vec, K)
        with tr.span("knn.single", spark=True):
            rows = knn.knn_single(coll.df, vec.tolist(), K).collect()
        check_topk(self.log, rows, *want, "knn_single probe")
        block = [self.queries[j][0].tolist() for j in range(BLOCK_QUERIES)]
        qids = [str(j) for j in range(BLOCK_QUERIES)]
        with tr.span("collection.count", spark=True, probe=True):
            n = coll.count()
        with tr.span("knn.block", spark=True, rows_scored=n * BLOCK_QUERIES):
            got = knn.knn_block(coll.df, qids, block, K).collect()
        self._check_block(got, ids, mat, block, "knn_block probe")
        with tr.span("router.choose_tier"):
            decision = router.choose_tier(n, len(block[0]), k=K)
        with tr.span("router.routed_batch", spark=True, rows_scored=n * BLOCK_QUERIES):
            got = router.routed_search_batch(
                coll.df, qids, block, K, id_col="id", decision=decision, n_docs=n
            ).collect()
        self._check_block(got, ids, mat, block, "routed_search_batch probe")
        with tr.span("collection.query_batch", spark=True):
            got = coll.query_batch(query_embeddings=block, n_results=K, index="auto").collect()
        self._check_block(got, ids, mat, block, "query_batch probe")

    def _check_block(self, rows, ids, mat, block, what) -> None:
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(str(r["query_id"]), []).append(r)
        for j, q in enumerate(block):
            got = sorted(by_q.get(str(j), []), key=lambda r: (-r["similarity"], r["id"]))
            check_topk(self.log, got, *numpy_topk(ids, mat, np.asarray(q, np.float32), K),
                       f"{what} q{j}")

    def finish(self, state, tr) -> None:
        """The collection must match the driver-side model built from the
        same calls: count, full state (last writer wins, deletes gone),
        and ``get_by_id`` on an upserted id."""
        coll, model = state["coll"], state["model"]
        log = self.log
        with tr.span("collection.count", spark=True):
            n = coll.count()
        log.check(n == len(model), f"count {n} != model {len(model)}")
        rows = coll.df.select("id", "metadata", "content").collect()
        got = {r["id"]: (dict(r["metadata"] or {}), r["content"]) for r in rows}
        want = {i: (m, c) for i, (m, _, c) in model.items()}
        log.check(len(rows) == len(got), "duplicate ids in the collection")
        log.check(got.keys() == want.keys(),
                  f"ids differ from the model: {len(got.keys() ^ want.keys())} ids")
        stale = [i for i in got.keys() & want.keys() if got[i] != want[i]]
        log.check(not stale, f"{len(stale)} docs are not their last write, e.g. {stale[:3]}")
        upserted = state.get("upserted")
        if upserted in model:
            with tr.span("collection.get_by_id", spark=True):
                doc = coll.get_by_id(upserted)
            m, v, c = model[upserted]
            log.check(doc.metadata == m and doc.content == c,
                      f"get_by_id({upserted}) is not the last write")
            log.check(float(np.max(np.abs(np.asarray(doc.embedding) - v))) <= SIM_TOL,
                      f"get_by_id({upserted}) embedding differs")


# ------------------------------------------------------------ dedup_batch

class DedupBatch:
    """A seeded document corpus with ~5% planted near-copies, run through
    ``dedup_clusters`` (exact n-gram Jaccard pairs -> connected
    components) and ``minhash_lsh_pairs`` (MinHash + banded LSH,
    verified).  One op is one pass of both operators.  It bypasses
    ``collection`` entirely."""

    fresh_state_per_unit = False

    def __init__(self, spark, inputs: dict, log: OpLog):
        self.spark, self.log = spark, log
        self.path = inputs["tables"]["corpus"]["path"]
        corpus = pq.read_table(self.path).to_pylist()
        self.sh = {d["doc_id"]: shingles(d["text"]) for d in corpus}
        planted = pq.read_table(inputs["tables"]["planted"]["path"]).to_pylist()
        self.planted = [(p["src_id"], p["copy_id"]) for p in planted]
        self.n_docs = len(corpus)
        self._first: tuple | None = None

    def setup(self, tr):
        with tr.span("spark.read_corpus", spark=True):
            df = self.spark.read.parquet(self.path)
            n = df.count()
        if n != self.n_docs:
            raise RuntimeError(f"read {n} docs, expected {self.n_docs}")
        return {"df": df}

    def warm_up(self, state) -> None:
        # the first passes of a fresh JVM run interpreted and freshly
        # compiled code: a pass's CPU time still falls after two of them
        for i in (-3, -2, -1):
            self.unit(state, i, Tracer())

    def _j(self, a: int, b: int) -> float:
        return jaccard(self.sh[a], self.sh[b])

    def unit(self, state, i: int, tr) -> None:
        from chromem_go_spark.operators import dedup

        df, log = state["df"], self.log
        with log.op("pass", docs=self.n_docs), tr.span("pass", request=f"u{i}"):
            with tr.span("dedup.dedup_clusters", spark=True):
                rows = dedup.dedup_clusters(df, DEDUP_THRESHOLD).collect()
            clusters = {r["doc_id"]: r["cluster_rep"] for r in rows}
            with tr.span("dedup.minhash_lsh_pairs", spark=True) as sp:
                rows = dedup.minhash_lsh_pairs(df, DEDUP_THRESHOLD).collect()
            log.stop_clock()
            pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows]
            if sp is not None:
                sp["pairs"] = len(pairs)
            self._check(clusters, pairs)

    def _check(self, clusters: dict, pairs: list) -> None:
        log, t = self.log, DEDUP_THRESHOLD
        result = (tuple(sorted(clusters.items())), tuple(sorted(pairs)))
        if self._first is not None and result == self._first:
            return  # identical to an already verified pass
        log.check(set(clusters) == set(self.sh), "dedup_clusters lost or invented docs")
        for a, b, jac in pairs:
            true = self._j(a, b)
            log.check(true >= t and abs(true - jac) <= 1e-9,
                      f"lsh pair ({a},{b}) jaccard {jac} vs recomputed {true}")
        members: dict[int, list[int]] = {}
        for d, rep in clusters.items():
            members.setdefault(rep, []).append(d)
        for rep, ms in members.items():
            log.check(rep == min(ms), f"cluster rep {rep} is not its min id")
            if len(ms) > 1:
                for d in ms:
                    log.check(any(self._j(d, o) >= t for o in ms if o != d),
                              f"doc {d} in cluster {rep} has no near-dup partner")
        for a, b in self.planted:
            if self._j(a, b) >= t:
                log.check(clusters.get(a) == clusters.get(b),
                          f"planted pair ({a},{b}) split across clusters")
        if self._first is None and not log.failures:
            self._first = result

    def sweep(self, state, tr) -> None:
        """The pass's building blocks, each called on its own."""
        from chromem_go_spark.operators import dedup

        df = state["df"]
        with tr.span("dedup.shingle", spark=True) as sp:
            sp["rows"] = dedup.shingle_table(df).count()
        with tr.span("dedup.jaccard", spark=True) as sp:
            pairs = dedup.ngram_jaccard_pairs(df, DEDUP_THRESHOLD).collect()
            sp["verified"] = len(pairs)
        for r in pairs:
            self.log.check(self._j(r["id_a"], r["id_b"]) >= DEDUP_THRESHOLD,
                           f"jaccard pair ({r['id_a']},{r['id_b']}) below threshold")
        with tr.span("dedup.minhash", spark=True) as sp:
            sp["rows"] = dedup.minhash_signatures(df).count()
        edges = self.spark.createDataFrame(
            [(r["id_a"], r["id_b"]) for r in pairs], "id_a long, id_b long"
        )
        with tr.span("dedup.cc", spark=True) as sp:
            sp["rows"] = len(dedup.connected_components(edges).collect())

    def finish(self, state, tr) -> None:
        """Nothing left to check: every pass was checked as it ran."""


WORKLOADS = {"ingest_mixed": (IngestMixed, "collection"), "dedup_batch": (DedupBatch, "corpus")}
