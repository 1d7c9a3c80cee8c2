"""Approximate nearest-neighbor search: one IVF (inverted-file) core,
three row formats.

The reference is FLAT-only (exhaustive scan; HNSW/IVFFlat are roadmap
items, reference README.md:176-178). At 100 TB, brute force over every
query is the bottleneck, so this adds the classic IVF design mapped onto
Spark's storage model:

- **build**: k-means centroids (deterministic seed) fitted on a bounded
  driver-side sample, then every vector assigned to its nearest centroid
  JVM-side. The index is the same table **written partitioned by
  ``cluster_id``** — so probing clusters at query time is *partition
  pruning at the Parquet scan*, not a filter over all data.
- **search**: rank centroids against the query on the driver (tiny), pick
  ``nprobe``, scan only those partitions, brute-force within.

Three tiers share one core — the coarse quantizer, the
``(__batch, cluster_id)``-partitioned tables and meta file, save/load,
replay-idempotent appends, tombstone deletes, compaction — and differ
only in what a row stores: :class:`IVFIndex` the full vectors (plus
every input column), :class:`IVFSQIndex` one uint8 per dimension (SQ8
codec), :class:`IVFPQIndex` ``m`` uint8 subspace codes (PQ codec).  A
codec supplies its fit, one encode function (build and append both call
it) and its approximate score; both quantized tiers share the Arrow
code-matrix unpack and the shortlist -> exact re-rank join.
``IVF_CLASSES`` maps each tier name to its class.

With ``nprobe == n_clusters`` the search is exact (identical results to
FLAT), which is how the DuckDB oracle validates it.
"""

from __future__ import annotations

import json
import os
from itertools import repeat
from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..batchstate import drop_batch_partition, fold_batch_partitions, read_live
from ..functions import vector as V
from . import knn as knn_ops


# Max rows fed to each PQ subquantizer's k-means fit (r15): 100x the
# default 256-code budget.  Every tested SF samples far fewer rows, so
# results there are bit-identical; at scale the codebook fit stops
# growing with sample_size.
_PQ_FIT_CAP = 25_600


class EmptyCorpusError(ValueError):
    """Raised when a quantizer trainer is asked to fit an EMPTY corpus
    frame.  A dedicated type (r11, ADVICE) so the router's demote-to-FLAT
    path catches exactly this condition instead of substring-matching the
    message — a zero-row hash sample over a NON-empty frame (degenerate id
    distribution) must NOT masquerade as an empty corpus.  Subclasses
    ``ValueError`` so existing callers (and the golden-error tests) keep
    their contract."""


def _kmeanspp_init(sample: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii, SODA'07 — public
    method): each next center is drawn proportional to squared distance
    from the chosen set. Balanced initial centers -> balanced IVF cells,
    which matters because probe cost follows the largest cells."""
    n = sample.shape[0]
    k = min(k, n)
    centers = [sample[rng.integers(n)]]
    d2 = ((sample - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers.append(sample[rng.choice(n, p=probs)])
        d2 = np.minimum(d2, ((sample - centers[-1]) ** 2).sum(axis=1))
    return np.stack(centers)


def _hash_sample(
    df: DataFrame, vec_col: str, id_col: str, sample_size: int
) -> np.ndarray:
    """Deterministic driver-side sample spread across ALL partitions: a
    bare limit() would take rows from the first partitions only, biasing
    trainers on clustered storage. xxhash64(id) % 997 < p keeps
    ~sample_size rows uniformly wherever they live. ONE count + ONE
    collect — shared by the coarse quantizer and the PQ codebooks."""
    n_rows = df.count()
    if n_rows == 0:
        # training a quantizer on nothing is meaningless, and numpy's
        # downstream failure (AxisError in the k-means GEMM) hides the
        # actual problem — fail with the cause, as a TYPE the router can
        # catch (r11: substring-matching this message was brittle)
        raise EmptyCorpusError(
            "cannot train a quantizer over an empty corpus frame"
        )
    cand = df
    if n_rows > sample_size:
        p = max(1, int(997 * sample_size / n_rows))
        cand = df.filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(997)) < p
        )
    rows = cand.select(vec_col).limit(sample_size).collect()
    if not rows:
        # degenerate id distribution: the modular hash filter selected
        # nothing on a NON-empty frame.  This is a sampling anomaly, not
        # an empty corpus — fall back to the unfiltered (first-partitions)
        # sample rather than mis-signal emptiness (r11, ADVICE)
        rows = df.select(vec_col).limit(sample_size).collect()
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def _kmeans(sample: np.ndarray, n_clusters: int, seed: int = 42, n_iter: int = 20) -> np.ndarray:
    """Deterministic Lloyd's k-means on normalized vectors (spherical-ish:
    centroids re-normalized each step so assignment is by cosine);
    k-means++ seeded."""
    rng = np.random.default_rng(seed)
    cents = _kmeanspp_init(sample, n_clusters, rng)
    for _ in range(n_iter):
        sims = sample @ cents.T
        assign = np.argmax(sims, axis=1)
        for c in range(cents.shape[0]):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    cents[c] = m / nrm
    return cents


def _assign_clusters(
    df: DataFrame,
    cents: np.ndarray,
    vec_col: str,
    ids: np.ndarray | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as one GEMM-argmax per Arrow batch
    (``mapInPandas``). Rendering the centroid matrix as Catalyst literal
    arrays (n_clusters x dim literal nodes) generates code that blows out
    the JVM code cache and degrades the whole session; the kernel keeps
    the plan a single node and the math one ``mat @ cents.T``.

    ``ids`` (r12) optionally maps the argmax INDEX to an arbitrary id
    per row (``cluster_id = ids[argmax]``) — the sharded sink's
    sparse active-cell routing, done here in NumPy for the same
    reason: an ``element_at(array(<lits>), ...)`` mapping would
    re-grow a Catalyst literal with the active-cell count as splits
    accumulate."""
    import pandas as pd

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{fields}, cluster_id int"
    cmat = cents.T.copy()  # (dim, n_clusters)
    idmap = None if ids is None else np.asarray(ids, dtype=np.int32)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            pdf = pdf.copy()
            arg = np.argmax(mat @ cmat, axis=1)
            pdf["cluster_id"] = (
                idmap[arg] if idmap is not None else arg.astype(np.int32)
            )
            yield pdf

    return df.mapInPandas(gen, out_schema)


def _kmeans_l2(sample: np.ndarray, k: int, seed: int = 42, n_iter: int = 15) -> np.ndarray:
    """Deterministic Lloyd's k-means under Euclidean distance — the PQ
    codebook trainer (subspace quantizers minimize L2 error)."""
    rng = np.random.default_rng(seed)
    cents = _kmeanspp_init(sample, k, rng).copy()
    for _ in range(n_iter):
        d2 = (
            (sample**2).sum(axis=1, keepdims=True)
            - 2.0 * sample @ cents.T
            + (cents**2).sum(axis=1)
        )
        assign = np.argmin(d2, axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _unit(v) -> np.ndarray:
    """``v`` as a float64 vector scaled to unit length (zero stays zero)."""
    q = np.asarray(v, dtype=np.float64)
    nrm = np.linalg.norm(q)
    return q / nrm if nrm > 0 else q


def _code_matrix(col, n: int, width: int, tier: str) -> np.ndarray:
    """The ``(n, width)`` uint8 code matrix of an Arrow binary column.

    Zero-copy: a no-null Arrow binary array stores all values
    contiguously in one data buffer; when every entry is exactly
    ``width`` bytes the matrix is just a reshape of that buffer — no
    per-row Python objects, no copy."""
    import pyarrow as pa

    off_dt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    bufs = col.buffers()
    offs = np.frombuffer(bufs[1], dtype=off_dt)[col.offset : col.offset + n + 1]
    if col.null_count == 0 and np.all(np.diff(offs) == width):
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        return data[offs[0] : offs[-1]].reshape(n, width)
    vals = col.to_pylist()  # ragged rows — correctness fallback
    if any(v is None for v in vals):
        raise ValueError(f"NULL code row in {tier} codes table (corrupt index)")
    return np.frombuffer(b"".join(vals), dtype=np.uint8).reshape(n, width)


def _write_batch(frame: DataFrame, batch_id: int, mode: str, parts, path: str) -> None:
    """Write ``frame`` as partition ``__batch=<batch_id>`` of the table
    at ``path``, partitioned by ``parts``."""
    (
        frame.withColumn("__batch", F.lit(int(batch_id)))
        .write.mode(mode)
        .partitionBy(*parts)
        .parquet(path)
    )


class _IVFCore:
    """The coarse quantizer and on-disk lifecycle shared by the three
    IVF tiers.  A tier names its meta file (``_META``), its tables
    (``_TABLES``: attribute, sub-directory, partition columns) and the
    quantizer arrays its meta carries (``_QUANT``); build, save/load,
    append, delete, compact and probing are all here."""

    tier: str
    _QUANT: tuple = ()
    _BASE_BATCH = -1  # reserved __batch id: initial build / compacted history

    @staticmethod
    def _fit(sample: np.ndarray, seed: int) -> tuple:
        """The codec's quantizer arrays, in ``_QUANT`` order."""
        return ()

    @classmethod
    def _frames(cls, assigned, rows, quant, vec_col, id_col) -> list:
        """The tier's tables (``_TABLES`` order) for cluster-assigned
        rows; ``rows`` is the same input as bare (id, vector)."""
        return [assigned]

    @classmethod
    def _build(cls, df, n_clusters, vec_col, id_col, seed, sample_size, **params):
        # ONE hash-spread sample feeds the coarse quantizer AND the
        # codec fit (one sample per trainer would be redundant
        # full-table jobs per index build)
        sample = _hash_sample(df, vec_col, id_col, sample_size)
        norms = np.linalg.norm(sample, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = _kmeans(sample / norms, n_clusters, seed)
        quant = cls._fit(sample, seed, **params)
        frames = cls._frames(
            _assign_clusters(df, cents, vec_col), df.select(id_col, vec_col),
            quant, vec_col, id_col,
        )
        return cls(cents, *quant, *frames, vec_col, id_col)

    @classmethod
    def _paths(cls, path: str) -> list:
        return [
            (attr, os.path.join(path, sub) if sub else path, parts)
            for attr, sub, parts in cls._TABLES
        ]

    def _meta(self):
        return {
            "centroids": self.centroids.tolist(),
            **{a: getattr(self, a).tolist() for a in self._QUANT},
            "vec_col": self.vec_col,
            "id_col": self.id_col,
        }

    def save(self, path: str) -> None:
        """Persist every table partitioned by ``__batch`` (plus
        ``cluster_id`` where rows carry it: probing == partition
        pruning) as the ``__batch=-1`` base — the ``__batch`` level
        makes the saved index APPENDABLE (streaming ingest adds
        micro-batch partitions beside the base, :meth:`append_batch`)
        — then the quantizer as JSON under the tier's meta name."""
        for attr, p, parts in self._paths(path):
            _write_batch(getattr(self, attr), self._BASE_BATCH, "overwrite", parts, p)
        with open(os.path.join(path, self._META), "w") as f:
            json.dump(self._meta(), f)

    @classmethod
    def _read_meta(cls, path: str, vec_col=None, id_col=None) -> dict:
        with open(os.path.join(path, cls._META)) as f:
            meta = json.load(f)
        if isinstance(meta, list):
            # flat IVF's _centroids.json is the bare centroid list; the
            # caller names the columns
            meta = {"centroids": meta, "vec_col": vec_col, "id_col": id_col}
        return meta

    @classmethod
    def _arrays(cls, meta: dict) -> list:
        return [
            np.asarray(meta[a], dtype=np.float64)
            for a in ("centroids", *cls._QUANT)
        ]

    @classmethod
    def _load(cls, spark: SparkSession, path: str, vec_col=None, id_col=None):
        meta = cls._read_meta(path, vec_col, id_col)
        id_col = meta["id_col"]
        tombs = load_tombstones(spark, path, id_col)
        tables = []
        for _attr, p, _parts in cls._paths(path):
            # manifest-aware: filters uncommitted/obsolete fold dirs,
            # then anti-joins tombstoned ids (logical deletes, applied
            # physically by the next compact)
            df = read_live(spark, p)
            if "__batch" in df.columns:
                df = df.drop("__batch")
            tables.append(apply_tombstones(df, tombs, id_col))
        return cls(*cls._arrays(meta), *tables, meta["vec_col"], id_col)

    @classmethod
    def _append(cls, batch_df: DataFrame, path: str, batch_id: int, vec_col=None, id_col=None):
        meta = cls._read_meta(path, vec_col, id_col)
        vec_col, id_col = meta["vec_col"], meta["id_col"]
        cents, *quant = cls._arrays(meta)
        rows = batch_df.select(id_col, vec_col)
        frames = cls._frames(
            _assign_clusters(rows, cents, vec_col), rows, quant, vec_col, id_col
        )
        spark = batch_df.sparkSession
        paths = cls._paths(path)
        for _attr, p, _parts in paths:
            drop_batch_partition(spark, p, batch_id)  # replay: replace
        for frame, (_attr, p, parts) in zip(frames, paths):
            _write_batch(frame, batch_id, "append", parts, p)

    @classmethod
    def _compact(cls, spark: SparkSession, path: str, commit_mode: str, id_col: str) -> None:
        tombs = load_tombstones(spark, path, id_col)
        xf = None if tombs is None else (lambda df: apply_tombstones(df, tombs, id_col))
        # with tombstones pending, fold even if no history dirs wait
        # (the base alone must rewrite to apply them physically)
        folded = [
            fold_batch_partitions(
                spark, p, list(parts), cls._BASE_BATCH,
                commit_mode=commit_mode, transform=xf, force=tombs is not None,
            )
            for _attr, p, parts in cls._paths(path)
        ]
        if tombs is not None and all(folded):
            # cleared ONLY after every table's fold committed — a crash
            # before this re-applies the tombstones next time (idempotent)
            clear_tombstones(spark, path)

    def probe_clusters(self, query_vec: Sequence[float], nprobe: int) -> list[int]:
        sims = self.centroids @ _unit(query_vec)
        return [int(c) for c in np.argsort(-sims)[: int(nprobe)]]


class IVFIndex(_IVFCore):
    """IVF over full vectors: every input column rides in the
    cluster-partitioned table, so probed rows score exactly and
    metadata predicates run below scoring."""

    tier = "ivf"
    _META = "_centroids.json"
    _TABLES = (("assigned", "", ("__batch", "cluster_id")),)

    def __init__(self, centroids: np.ndarray, assigned: DataFrame, vec_col: str, id_col: str):
        self.centroids = centroids
        self.assigned = assigned  # has cluster_id column
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_clusters: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        sample_size: int = 50_000,
    ) -> "IVFIndex":
        return cls._build(df, n_clusters, vec_col, id_col, seed, sample_size)

    def _meta(self):
        return self.centroids.tolist()

    @classmethod
    def load(cls, spark: SparkSession, path: str, vec_col: str = "embedding", id_col: str = "vec_id") -> "IVFIndex":
        return cls._load(spark, path, vec_col, id_col)

    @classmethod
    def append_batch(
        cls,
        batch_df: DataFrame,
        path: str,
        batch_id: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> None:
        """Incremental index maintenance: assign one micro-batch of new
        vectors to the SAVED index's (frozen) centroids and add it as
        partition ``__batch=<batch_id>`` — O(batch) work, the corpus is
        never rescanned, and probing still prunes on cluster_id.

        IDEMPOTENT per batch_id: the batch's own partition dir is
        dropped before writing, so an at-least-once replay (foreachBatch)
        replaces itself instead of duplicating vectors.  Appends are
        append-only by id (same contract as a segment file); re-ingested
        ids are the caller's dedup responsibility.

        Centroids are FROZEN at build time: appends keep recall for
        in-distribution data, but a drifting embedding distribution
        degrades it — monitor with tools/recall_report.py and rebuild
        (or :meth:`compact` + rebuild) on a cadence.  This mirrors how
        serving systems run IVF: static coarse quantizer, growing
        posting lists, periodic retrain.
        """
        cls._append(batch_df, path, batch_id, vec_col, id_col)

    @classmethod
    def delete_ids(
        cls, spark: SparkSession, path: str, ids: Sequence, id_col: str = "vec_id"
    ) -> None:
        """Logical delete by id (tombstone): O(ids), index untouched;
        ``load`` anti-joins immediately, ``compact`` applies physically."""
        append_tombstones(spark, path, ids, id_col)

    @classmethod
    def compact(
        cls,
        spark: SparkSession,
        path: str,
        commit_mode: str = "rename",
        id_col: str = "vec_id",
    ) -> None:
        """Fold every appended ``__batch=N`` partition into the
        ``__batch=-1`` base, bounding partition count (file-listing cost
        grows with micro-batch count otherwise), and PHYSICALLY apply
        any tombstoned deletes (crash-safe: the filter runs inside the
        fold's stage-then-promote, and tombstones are cleared only after
        the fold commits — a crash re-applies them, which is a no-op).
        Run between ingest sessions — not concurrently with an active
        append.  ``commit_mode="manifest"`` for object stores (see
        batchstate.py)."""
        cls._compact(spark, path, commit_mode, id_col)

    def search(self, query_vec: Sequence[float], k: int, nprobe: int = 4) -> DataFrame:
        """Filter to probed clusters (partition-prunable) then exact top-k
        within them."""
        return self.search_filtered(query_vec, k, nprobe)

    def search_filtered(
        self,
        query_vec: Sequence[float],
        k: int,
        nprobe: int = 4,
        where=None,
        allowed_ids: DataFrame | None = None,
    ) -> DataFrame:
        """Filtered vector search over the IVF index: a metadata
        predicate (``where``, a Column over the index's carried
        columns — :meth:`build` keeps every input column) and/or an
        ``allowed_ids`` frame (left-semi joined) applied BELOW the
        scoring projection, INSIDE the probed partitions.

        The filter composes with partition pruning at the scan —
        Catalyst pushes the predicate into the cluster-pruned parquet
        read, so selective filters reduce scanned rows, not just
        scored rows (the reference's pre-filter-below-scoring
        semantics, collection.go:521, lifted to the ANN path).  Note
        the standard ANN caveat: k results are the top-k of the
        FILTERED probed clusters; at low nprobe a harsh filter can
        empty a probe — raise nprobe with filter selectivity."""
        probes = self.probe_clusters(query_vec, nprobe)
        cand = self.assigned.filter(F.col("cluster_id").isin(probes))
        if where is not None:
            cand = cand.filter(where)
        if allowed_ids is not None:
            cand = cand.join(
                F.broadcast(allowed_ids.select(self.id_col)), self.id_col, "left_semi"
            )
        return knn_ops.knn_single(
            cand, list(query_vec), k, vec_col=self.vec_col, id_col=self.id_col
        ).drop("cluster_id")

    def search_batch(
        self,
        query_ids: Sequence,
        query_vecs: Sequence[Sequence[float]],
        k: int,
        nprobe: int = 4,
        where=None,
    ) -> DataFrame:
        """Batch IVF search: every query is routed to its ``nprobe``
        nearest clusters on the driver (centroids are MB-scale), the
        (query, cluster) probe table is broadcast-joined against the
        cluster-partitioned corpus, and scoring+top-k runs per query.

        The corpus is scanned ONCE for all queries; only rows whose
        cluster is probed by at least one query are touched (semi-join
        pruning), and each (doc, query) pair scored is restricted to
        probed clusters — versus the full docs x queries cross product
        of brute force.

        ``where`` is an optional metadata predicate Column over the
        index's carried columns, applied BELOW the scoring join (the
        batch analog of :meth:`search_filtered`: Catalyst composes it
        with the cluster pruning at the scan).  The standard filtered-
        ANN caveat applies per query: raise nprobe with selectivity.

        Broadcast shape (r10, same normalization as
        :meth:`search_batch_dsl`): bare (query_id, cluster_id) probe
        pairs — O(q·nprobe) rows, no dim-sized payload — plus a
        per-query vector table (O(q) rows, each vector exactly once);
        both broadcast hash joins pipeline in one codegen stage, so
        the denormalized q × nprobe × dim form never exists."""
        spark = self.assigned.sparkSession
        pair_rows, meta_rows = self._probe_tables(
            [str(q) for q in query_ids], query_vecs, repeat(((), (), ())), nprobe
        )
        pairs_df = spark.createDataFrame(
            pair_rows, "query_id string, cluster_id int"
        )
        qmeta_df = spark.createDataFrame(  # (query_id, vector): no DSL here
            [m[:2] for m in meta_rows], "query_id string, query_vec array<double>"
        )
        base = self.assigned if where is None else self.assigned.filter(where)
        scored = (
            base.join(F.broadcast(pairs_df), "cluster_id")
            .join(F.broadcast(qmeta_df), "query_id")
            .withColumn(
                "similarity",
                V.dot(F.col(self.vec_col).cast("array<double>"), F.col("query_vec")),
            )
            .select("query_id", self.id_col, "similarity")
        )
        return knn_ops.topk_per_query(scored, k, "query_id", self.id_col)

    def _probe_tables(self, qids, qvecs, per_query, nprobe: int):
        """Driver-side construction of the two normalized broadcast
        tables for :meth:`search_batch_dsl`: ``pair_rows`` is exactly
        the (query_id, cluster_id) probe pairs — O(q·nprobe) 2-tuples,
        NO dim-sized payload — and ``meta_rows`` carries each query's
        normalized vector + parsed DSL exactly ONCE (O(q) rows).
        Factored out so the broadcast-size contract is directly
        testable (tests/test_ann.py)."""
        pair_rows: list[tuple] = []
        meta_rows: list[tuple] = []
        for qid, qv, f in zip(qids, qvecs, per_query):
            q = _unit(qv)
            w, cont, notc = f
            meta_rows.append(
                (
                    qid, [float(x) for x in q],
                    dict(w or {}), list(cont or []), list(notc or []),
                )
            )
            for c in self.probe_clusters(q, nprobe):
                pair_rows.append((qid, int(c)))
        return pair_rows, meta_rows

    def search_batch_dsl(
        self,
        query_ids: Sequence,
        query_vecs: Sequence[Sequence[float]],
        k: int,
        per_query,
        nprobe: int = 4,
        where=None,
        metadata_col: str | None = "metadata",
        filterable_cols=None,
        text_col: str | None = "content",
    ) -> DataFrame:
        """Batch IVF search where EACH query carries its own where /
        where_document DSL (r9 — the IVF analog of
        :func:`..knn.knn_expr_filtered_dsl`): the probe table's rows
        carry the query's parsed filter columns alongside its probed
        clusters, so ONE broadcast join keeps BOTH the cluster pruning
        and the per-query predicate below scoring — filtered batches no
        longer give up partition pruning at scale.

        ``per_query`` is one parsed tuple per query:
        ``(where_map, contains_list, not_contains_list)`` — the
        caller (``Collection.query_batch``) owns DSL validation.
        ``where`` is an optional GLOBAL predicate Column over the
        carried columns, applied to the corpus side before the join
        (batch-wide filters compose with the per-query ones).  The
        index's carried columns must include ``metadata_col`` /
        ``text_col`` when the corresponding filters are used (pass
        ``None`` for a surface the frame lacks: non-empty filters on it
        then match nothing, same rule as the FLAT kernel).  Standard
        filtered-ANN caveat per query: raise nprobe with selectivity.

        Broadcast shape (r10): the probe table is NORMALIZED — it
        carries only ``(query_id, cluster_id)`` pairs (O(q·nprobe)
        rows, no dim-sized payload), and the query's vector + parsed
        DSL ride a SECOND per-query broadcast (O(q) rows, the vector
        exactly once per query).  Both joins are broadcast hash joins
        in one codegen stage, so the denormalized form never
        materializes — versus the r9 shape that repeated each query's
        full vector once per probed cluster (q × nprobe × dim: ~3.9 GB
        broadcast at q=10k, nprobe=32, d=1536 for ~120 MB of data)."""
        spark = self.assigned.sparkSession
        # materialize ONCE: iterator inputs must not be exhausted by
        # the length check, and zip() silently drops queries on
        # mismatch (same guard as router.routed_search_batch)
        qids = [str(q) for q in query_ids]
        qvecs = list(query_vecs)
        pq = list(per_query)
        if not (len(qids) == len(qvecs) == len(pq)):
            raise ValueError(
                f"query_ids ({len(qids)}), query_vecs ({len(qvecs)}) "
                f"and per_query ({len(pq)}) must be the same length"
            )
        pair_rows, meta_rows = self._probe_tables(qids, qvecs, pq, nprobe)
        pairs_df = F.broadcast(
            spark.createDataFrame(pair_rows, "query_id string, cluster_id int")
        )
        qmeta_df = F.broadcast(
            spark.createDataFrame(
                meta_rows,
                "query_id string, query_vec array<double>, "
                "q_where map<string,string>, q_contains array<string>, "
                "q_not_contains array<string>",
            )
        )
        base = self.assigned if where is None else self.assigned.filter(where)
        # join 1: cluster-pruned (doc, query) pairs; join 2 attaches
        # the per-query vector + DSL and filters non-matching pairs
        # below scoring — both broadcast, pipelined, no materialization
        expanded = base.join(
            pairs_df, base["cluster_id"] == pairs_df["cluster_id"]
        )
        cond = (
            pairs_df["query_id"] == qmeta_df["query_id"]
        ) & knn_ops.dsl_filter_condition(
            base, qmeta_df,
            metadata_col=metadata_col, filterable_cols=filterable_cols,
            text_col=text_col,
        )
        scored = (
            expanded.join(qmeta_df, cond)
            .withColumn(
                "similarity",
                V.dot(
                    F.col(self.vec_col).cast("array<double>"),
                    qmeta_df["query_vec"],
                ),
            )
            .select(pairs_df["query_id"], base[self.id_col], "similarity")
        )
        return knn_ops.topk_per_query(scored, k, "query_id", self.id_col)


class _QuantizedIVF(_IVFCore):
    """The IVF core over uint8 codes: ``coded`` holds (id, cluster_id,
    codes), ``vectors`` the originals.  Search scores the probed codes
    approximately, then re-ranks the top ``rerank`` per query EXACTLY
    by joining the vectors back by id — precision loss is bounded by
    candidate recall, not code resolution, and with generous rerank
    the result equals FLAT (which is how the DuckDB oracle validates
    it).  A codec subclass supplies ``_fit``, ``_encoder`` (one
    function, used by build and append alike) and ``_scorer``."""

    _TABLES = (
        ("coded", "codes", ("__batch", "cluster_id")),
        ("vectors", "vectors", ("__batch",)),
    )

    @classmethod
    def _frames(cls, assigned, rows, quant, vec_col, id_col) -> list:
        encode = cls._encoder(*quant)

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cluster_id": pdf["cluster_id"],
                        "codes": [c.tobytes() for c in encode(mat)],
                    }
                )

        id_type = assigned.schema[id_col].dataType.simpleString()
        coded = assigned.select(id_col, "cluster_id", vec_col).mapInPandas(
            gen, f"{id_col} {id_type}, cluster_id int, codes binary"
        )
        return [coded, rows]

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        return cls._load(spark, path)

    @classmethod
    def append_batch(cls, batch_df: DataFrame, path: str, batch_id: int) -> None:
        """Incremental maintenance: assign + encode one micro-batch with
        the SAVED index's frozen centroids and codec, add it as
        partition ``__batch=<batch_id>`` of both the codes and vectors
        tables — O(batch), replay-idempotent (the batch's own
        partitions are dropped before the write).  Frozen-quantizer
        drift has the same recall caveat and rebuild cadence as
        ``IVFIndex.append_batch``."""
        cls._append(batch_df, path, batch_id)

    @classmethod
    def delete_ids(cls, spark: SparkSession, path: str, ids: Sequence) -> None:
        """Logical delete by id (tombstone at the INDEX root, shared by
        the codes and vectors tables): O(ids); ``load`` anti-joins,
        ``compact`` applies physically to both tables."""
        append_tombstones(spark, path, ids, cls._read_meta(path)["id_col"])

    @classmethod
    def compact(
        cls, spark: SparkSession, path: str, commit_mode: str = "rename"
    ) -> None:
        """Fold appended micro-batch partitions into the base (codes and
        vectors both) and physically apply tombstoned deletes; run
        between ingest sessions.  ``commit_mode="manifest"`` for object
        stores (see batchstate.py).  Tombstones are cleared only after
        BOTH tables folded (a crash between re-applies them — no-op)."""
        cls._compact(spark, path, commit_mode, cls._read_meta(path)["id_col"])

    def search_batch(
        self,
        query_ids: Sequence,
        query_vecs: Sequence[Sequence[float]],
        k: int,
        nprobe: int = 4,
        rerank: int = 128,
    ) -> DataFrame:
        """Codec candidate generation over the partition-pruned code
        scan, then exact re-rank of the top ``rerank`` per query.

        Shuffle profile: the candidate shuffle carries at most
        (partitions x queries x rerank) tiny rows; the re-rank join
        touches only (queries x rerank) vectors by id. The corpus-wide
        scan reads (id, cluster_id, codes) — never the vectors.
        """
        qmat = np.asarray(query_vecs, dtype=np.float64)
        norms = np.linalg.norm(qmat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        qmat = qmat / norms
        nq = qmat.shape[0]
        width, score = self._scorer(qmat)
        qid_strs = [str(q) for q in query_ids]
        probes = sorted(
            {c for row in qmat for c in self.probe_clusters(row, nprobe)}
        )
        rr = int(rerank)
        id_col, tier = self.id_col, self.tier
        id_type = self.coded.schema[id_col].dataType.simpleString()

        def scan(batches):
            import pyarrow as pa

            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                ids = rb.column(0).to_numpy(zero_copy_only=False)
                scores = score(_code_matrix(rb.column(1), n, width, tier))
                take = min(rr, n)
                if take < n:
                    part = np.argpartition(-scores, take - 1, axis=1)[:, :take]
                else:
                    part = np.tile(np.arange(n), (nq, 1))
                out_q = np.repeat(np.arange(nq), part.shape[1])
                rows = part.ravel()
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([qid_strs[i] for i in out_q], type=pa.string()),
                        pa.array(ids[rows]),
                        pa.array(scores[out_q, rows], type=pa.float64()),
                    ],
                    names=["query_id", id_col, "approx"],
                )

        cand = (
            self.coded.filter(F.col("cluster_id").isin(probes))
            .select(id_col, "codes")
            .mapInArrow(scan, schema=f"query_id string, {id_col} {id_type}, approx double")
        )
        shortlist = knn_ops.topk_per_query(cand, rr, "query_id", id_col, "approx")
        # exact re-rank: join original vectors by id (rerank rows per query)
        qdf = self.coded.sparkSession.createDataFrame(
            [(qid_strs[i], [float(x) for x in qmat[i]]) for i in range(nq)],
            "query_id string, query_vec array<double>",
        )
        exact = (
            shortlist.join(self.vectors, id_col)
            .join(F.broadcast(qdf), "query_id")
            .withColumn(
                "similarity",
                V.dot(F.col(self.vec_col).cast("array<double>"), F.col("query_vec")),
            )
            .select("query_id", id_col, "similarity")
        )
        return knn_ops.topk_per_query(exact, int(k), "query_id", id_col)


class IVFSQIndex(_QuantizedIVF):
    """IVF + 8-bit scalar quantization — the middle compression tier
    between FLAT (4 bytes/dim) and PQ (sub-byte/dim): one uint8 per
    dimension (4x smaller scans), per-dimension (min, step) learned
    from the training sample (public method — the SQ8 storage every
    production vector store ships).

    Approximate scoring is exact-in-the-quantized-domain:
    ``dot(q, dequant(code)) = dot(q, mins) + (codes @ (q*steps))`` —
    one uint8 GEMM per Arrow batch, no per-row work.  The top
    ``rerank`` candidates re-rank EXACTLY by id join, so with generous
    rerank the result equals FLAT (the oracle's check, same contract
    as IVF-PQ).  Coarse routing reuses the IVF layout: codes live
    alongside cluster_id, probing is partition pruning."""

    tier = "ivf_sq"
    _META = "_sq_meta.json"
    _QUANT = ("mins", "steps")

    def __init__(
        self,
        centroids: np.ndarray,
        mins: np.ndarray,
        steps: np.ndarray,
        coded: DataFrame,
        vectors: DataFrame,
        vec_col: str,
        id_col: str,
    ):
        self.centroids = centroids
        self.mins = mins    # (dim,)
        self.steps = steps  # (dim,) — 0-range dims pinned to step 1
        self.coded = coded  # id, cluster_id, codes binary(dim)
        self.vectors = vectors
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_clusters: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        sample_size: int = 50_000,
    ) -> "IVFSQIndex":
        return cls._build(df, n_clusters, vec_col, id_col, seed, sample_size)

    @staticmethod
    def _fit(sample: np.ndarray, seed: int) -> tuple:
        mins = sample.min(axis=0)
        rng = sample.max(axis=0) - mins
        return mins, np.where(rng > 0, rng / 255.0, 1.0)

    @staticmethod
    def _encoder(mins: np.ndarray, steps: np.ndarray):
        return lambda mat: np.clip(np.rint((mat - mins) / steps), 0, 255).astype(np.uint8)

    def _scorer(self, qmat: np.ndarray):
        qs = qmat * self.steps        # (nq, dim)
        consts = qmat @ self.mins     # (nq,)
        return len(self.steps), lambda codes: (codes @ qs.T + consts).T


class IVFPQIndex(_QuantizedIVF):
    """IVF + Product Quantization (Jegou, Douze, Schmid: "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public
    method). The 100 TB memory story:

    - each vector is stored as ``m`` uint8 codes (one per subspace)
      in a BINARY column instead of dim float32s — 256-dim vectors
      compress 1024 bytes -> 16 bytes (m=16), so the scan that feeds
      candidate generation reads ~64x less data;
    - search is ADC (asymmetric distance computation): per query, an
      (m x n_codes) lookup table of subspace dot products is built
      once on the driver; candidate scores are table-lookups + sums
      over the codes — one NumPy gather per Arrow batch, no vector
      math on the corpus;
    - the top ``rerank`` candidates per query are then re-ranked
      EXACTLY by joining the original vectors back by id — so
      precision loss is bounded by candidate recall, not code
      resolution, and with generous rerank the result equals FLAT
      (which is how the DuckDB oracle validates it).

    Coarse routing reuses the IVF layout: codes live alongside
    cluster_id, so probing remains partition pruning.
    """

    tier = "ivf_pq"
    _META = "_pq_meta.json"
    _QUANT = ("codebooks",)

    def __init__(
        self,
        centroids: np.ndarray,
        codebooks: np.ndarray,
        coded: DataFrame,
        vectors: DataFrame,
        vec_col: str,
        id_col: str,
    ):
        self.centroids = centroids  # (n_clusters, dim) coarse
        self.codebooks = codebooks  # (m, n_codes, sub_dim)
        self.coded = coded  # id, cluster_id, codes binary
        self.vectors = vectors  # id -> original vector (re-rank source)
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_clusters: int = 16,
        m: int = 16,
        n_codes: int = 256,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        sample_size: int = 50_000,
    ) -> "IVFPQIndex":
        return cls._build(
            df, n_clusters, vec_col, id_col, seed, sample_size, m=m, n_codes=n_codes
        )

    @staticmethod
    def _fit(sample: np.ndarray, seed: int, m: int, n_codes: int) -> tuple:
        dim = sample.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        s = dim // m
        # r15: the codebook fit is bounded by a deterministic even
        # stride over the (already hash-spread) sample — 100x the
        # default code count is ample for 256-cell subspace k-means,
        # and the fit cost stops scaling with sample_size.  Below the
        # cap (every test SF; sf0.1 samples 2,000 rows) the matrix is
        # untouched, so codebooks — and the value-checked ivf_pq_search
        # results — are bit-identical.
        fit = sample
        if fit.shape[0] > _PQ_FIT_CAP:
            idx = np.linspace(0, fit.shape[0] - 1, _PQ_FIT_CAP).astype(np.int64)
            fit = fit[idx]
        codebooks = np.stack(
            [
                _kmeans_l2(fit[:, j * s : (j + 1) * s], n_codes, seed + j)
                for j in range(m)
            ]
        )  # (m, k_j<=n_codes, s) — all k_j equal since same sample size
        return (codebooks,)

    @staticmethod
    def _encoder(codebooks: np.ndarray):
        """m uint8 PQ codes per row — one argmin per subspace."""
        mm, _, s = codebooks.shape

        def encode(mat):
            codes = np.empty((mat.shape[0], mm), dtype=np.uint8)
            for j in range(mm):
                sub = mat[:, j * s : (j + 1) * s]
                d2 = -2.0 * sub @ codebooks[j].T + (codebooks[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmin(d2, axis=1).astype(np.uint8)
            return codes

        return encode

    def _scorer(self, qmat: np.ndarray):
        nq = qmat.shape[0]
        mcount, _, s = self.codebooks.shape
        # per-query LUT: luts[q, j, c] = <q_sub_j, codebook_j[c]>
        luts = np.einsum(
            "qjs,jcs->qjc", qmat.reshape(nq, mcount, s), self.codebooks
        )  # (nq, m, n_codes)

        def score(codes):
            # scores[q, i] = sum_j luts[q, j, codes[i, j]]
            scores = np.zeros((nq, codes.shape[0]))
            for j in range(mcount):
                scores += luts[:, j, codes[:, j]]
            return scores

        return mcount, score


IVF_CLASSES = {c.tier: c for c in (IVFIndex, IVFSQIndex, IVFPQIndex)}


def _recall_probe(emb: DataFrame, k: int, n_queries: int, vec_col: str, id_col: str, seed: int):
    """The tuners' shared yardstick: ``n_queries`` held-in query
    vectors (seeded hash order), their exact brute-force top-k, and
    ``recall_of(rows)`` scoring a search's result rows against it."""
    qrows = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(int(n_queries))
        .collect()
    )
    qids = [str(r[id_col]) for r in qrows]
    qvecs = [list(r[vec_col]) for r in qrows]
    exact: dict[str, set] = {}
    ground = knn_ops.knn_block(emb, qids, qvecs, k, vec_col=vec_col, id_col=id_col)
    for r in ground.collect():
        exact.setdefault(r["query_id"], set()).add(r[id_col])

    def recall_of(rows) -> float:
        got: dict[str, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r[id_col])
        per_q = [len(got.get(q, set()) & exact[q]) / len(exact[q]) for q in exact]
        return sum(per_q) / len(per_q)

    return qids, qvecs, recall_of


def _rerank_sweep(idx, qids, qvecs, k, nprobe, target_recall, recall_of, point):
    """Raise a quantized index's rerank depth (k, 2k, 5k, 10k) until
    recall meets the target.  Returns ``(sweep, chosen)``: one
    ``point(rerank, recall)`` record per depth run, and the first
    record that met the target (``None`` if none did)."""
    sweep: list[dict] = []
    for rerank in (k, 2 * k, 5 * k, 10 * k):
        r = recall_of(
            idx.search_batch(qids, qvecs, k, nprobe=nprobe, rerank=rerank).collect()
        )
        sweep.append(point(int(rerank), round(r, 4)))
        if r >= target_recall:
            return sweep, sweep[-1]
    return sweep, None


def tune_ivf(
    emb: DataFrame,
    target_recall: float = 0.95,
    k: int = 10,
    n_queries: int = 16,
    candidate_nlist: Sequence[int] = (8, 16, 32),
    pq_m: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Pick an IVF operating point (n_clusters, nprobe[, rerank]) that
    hits ``target_recall`` recall@k with the smallest probed-corpus
    fraction, from a MEASURED sweep — not a heuristic.

    Protocol: sample ``n_queries`` held-in query vectors, compute exact
    brute-force top-k as ground truth, then for each candidate
    ``n_clusters`` build an index once and raise nprobe (1, 2, 4, ...)
    until the target is met.  Among configurations meeting the target,
    choose the one with the lowest expected scan fraction
    (nprobe / n_clusters — the cost a probe actually pays, since
    cluster partitions prune the scan).  With ``pq_m`` set (a single
    codebook count or a sequence to sweep, smallest-first), additionally
    sweep PQ code size x rerank depth (k, 2k, 5k, 10k) at the chosen
    point and return the most compressed (m, rerank) meeting the
    target, plus the full ``pq_sweep``.

    At 100 TB this runs unchanged on a SAMPLE of the corpus (recall is
    a distribution property, not a row-count property); the returned
    settings transfer to the full build with the same nlist-to-corpus
    ratio.  Returns {"n_clusters", "nprobe", "recall", "scan_fraction",
    "sweep": [...], and "rerank"/"pq_recall" when pq_m is set}.
    """
    from ..materialize import materialize

    qids, qvecs, recall_of = _recall_probe(emb, k, n_queries, vec_col, id_col, seed)
    sweep: list[dict] = []
    viable: list[dict] = []
    n_rows = emb.count()
    for nlist in candidate_nlist:
        if nlist > max(n_rows // 2, 1):
            continue  # degenerate: fewer than 2 vectors per cluster
        idx = IVFIndex.build(emb, n_clusters=int(nlist), vec_col=vec_col, id_col=id_col)
        idx.assigned = materialize(idx.assigned)
        nprobe = 1
        while nprobe <= nlist:
            r = recall_of(idx.search_batch(qids, qvecs, k, nprobe=nprobe).collect())
            point = {
                "n_clusters": int(nlist),
                "nprobe": int(nprobe),
                "recall": round(r, 4),
                "scan_fraction": round(nprobe / nlist, 4),
            }
            sweep.append(point)
            if r >= target_recall:
                viable.append(point)
                break  # smallest nprobe meeting target for this nlist
            nprobe *= 2
    if not viable:
        # nothing met the target: fall back to the best recall measured
        best = max(sweep, key=lambda p: (p["recall"], -p["scan_fraction"]))
    else:
        best = min(viable, key=lambda p: (p["scan_fraction"], p["n_clusters"]))
    out = dict(best)
    out["target_recall"] = target_recall
    out["sweep"] = sweep

    if pq_m is not None:
        # ``pq_m`` may be one codebook count or a sequence to sweep;
        # smallest m first (most compression) — the first (m, rerank)
        # meeting the target wins, so the tuner returns the cheapest
        # code size that still hits the recall bar.
        m_cands = (
            [int(pq_m)]
            if isinstance(pq_m, int)
            else sorted(int(m) for m in pq_m)
        )
        pq_sweep: list[dict] = []
        chosen: dict | None = None
        for m in m_cands:
            pq = IVFPQIndex.build(
                emb, n_clusters=out["n_clusters"], m=m, vec_col=vec_col, id_col=id_col
            )
            points, chosen = _rerank_sweep(
                pq, qids, qvecs, k, out["nprobe"], target_recall, recall_of,
                lambda rr, r: {"m": m, "rerank": rr, "pq_recall": r},
            )
            pq_sweep += points
            if chosen:
                break
        best_pq = chosen or max(pq_sweep, key=lambda p: (p["pq_recall"], -p["m"]))
        out["m"] = best_pq["m"]
        out["rerank"] = best_pq["rerank"]
        out["pq_recall"] = best_pq["pq_recall"]
        out["pq_sweep"] = pq_sweep
    return out


def tune_ivf_sq(
    emb: DataFrame,
    tuned: dict,
    target_recall: float | None = None,
    k: int = 10,
    n_queries: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Sweep the SQ8 tier's rerank depth at a :func:`tune_ivf`-chosen
    operating point: build an ``IVFSQIndex`` with the tuned n_clusters
    and find the smallest rerank (k, 2k, 5k, 10k) meeting the target
    at the tuned nprobe — the same protocol the PQ sweep runs, for the
    middle compression tier.  Returns {"sq_rerank", "sq_recall",
    "sq_sweep"}; merge into the tune_ivf dict for the full picture."""
    if target_recall is None:
        target_recall = float(tuned.get("target_recall", 0.95))
    qids, qvecs, recall_of = _recall_probe(emb, k, n_queries, vec_col, id_col, seed)
    sq = IVFSQIndex.build(
        emb, n_clusters=tuned["n_clusters"], vec_col=vec_col, id_col=id_col
    )
    sweep, chosen = _rerank_sweep(
        sq, qids, qvecs, k, tuned["nprobe"], target_recall, recall_of,
        lambda rr, r: {"sq_rerank": rr, "sq_recall": r},
    )
    best = chosen or max(sweep, key=lambda p: p["sq_recall"])
    return {**best, "sq_sweep": sweep}


# ---------------------------------------------------------------- tombstones

_TOMBSTONES = "_tombstones"  # underscore prefix: parquet readers skip it


def _tombstone_path(path: str) -> str:
    return os.path.join(path, _TOMBSTONES)


def append_tombstones(
    spark: SparkSession, path: str, ids: Sequence, id_col: str = "vec_id"
) -> None:
    """Logical delete for an appendable index: record deleted ids in a
    ``_tombstones`` side table (underscore-prefixed, so index scans
    never see it).  O(ids) — the index data is untouched; loads
    anti-join the tombstones and the next compact applies them
    physically.  Idempotent: re-deleting an id is a duplicate row the
    anti-join semantics absorb.  This is the standard segment-store
    delete (tombstone + merge-on-compaction), the same story Lucene /
    Delta deletion vectors use."""
    if not list(ids):
        return
    # ids are stored as strings: comparisons cast consistently below
    df = spark.createDataFrame([(str(i),) for i in ids], f"{id_col} string")
    df.write.mode("append").parquet(_tombstone_path(path))


def load_tombstones(spark: SparkSession, path: str, id_col: str = "vec_id"):
    """Tombstoned ids as a 1-column DataFrame, or None when there are
    none recorded."""
    tp = _tombstone_path(path)
    if not os.path.exists(tp):
        return None
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.parquet(tp).select(id_col).distinct()
    except AnalysisException:
        return None  # dir exists but holds no parquet (cleared)


def apply_tombstones(df: DataFrame, tombs, id_col: str):
    """Anti-join deleted ids out (string-normalized comparison — the
    tombstone table stores ids as strings regardless of source type)."""
    if tombs is None:
        return df
    left = df.withColumn("__tid", F.col(id_col).cast("string"))
    t = tombs.select(F.col(tombs.columns[0]).cast("string").alias("__tid"))
    return left.join(F.broadcast(t), "__tid", "left_anti").drop("__tid")


def clear_tombstones(spark: SparkSession, path: str) -> None:
    import shutil

    shutil.rmtree(_tombstone_path(path), ignore_errors=True)


# ------------------------------------------------------------------
# Standalone spherical k-means document clustering — the IVF coarse
# quantizer exposed as an analytics operator (topic bucketing, corpus
# maps, per-cluster sampling quotas).  Same scale shape as an index
# build: bounded driver-side sample for training, one GEMM-argmax
# Arrow pass over the corpus for assignment.
# ------------------------------------------------------------------


def _ordered_sample(
    df: DataFrame, vec_col: str, id_col: str, sample_size: int
) -> np.ndarray:
    """:func:`_hash_sample` with a DRIVER-SIDE sort by id after the
    bounded collect: the training sample no longer depends on Spark's
    partition/collect order, so a quantizer retrained on the same rows
    is bit-identical regardless of file splits, cluster layout, or a
    storage rewrite — and a Spark-free twin
    (:func:`train_cluster_centroids_local`) can reproduce it exactly
    for the DuckDB oracle replay.  The sort is over <= sample_size
    collected rows — driver-bounded, never a cluster sort."""
    n_rows = df.count()
    cand = df
    if n_rows > sample_size:
        p = max(1, int(997 * sample_size / n_rows))
        cand = df.filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(997)) < p
        )
    rows = cand.select(id_col, vec_col).limit(sample_size).collect()
    rows.sort(key=lambda r: r[0])
    return np.asarray([r[1] for r in rows], dtype=np.float64)


def train_cluster_centroids(
    df: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 50_000,
) -> np.ndarray:
    """Train the spherical k-means centroid matrix (n_clusters x dim,
    L2-normalized rows) on the order-stable hash-spread sample.  The
    trained matrix is a MODEL ARTIFACT: inject it back into
    :func:`cluster_embeddings` (and the SemDeDup operators) via their
    ``centroids=`` parameter to decouple training from assignment —
    the pattern that lets the assignment pass be replayed in plain SQL
    with the matrix as a literal."""
    sample = _ordered_sample(df, vec_col, id_col, sample_size)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return _kmeans(sample / norms, n_clusters, seed)


def train_cluster_centroids_local(
    parquet_path: str,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 50_000,
) -> np.ndarray:
    """Spark-free twin of :func:`train_cluster_centroids`: read the
    same parquet with pyarrow, apply the same sort-by-id sample rule,
    run the same seeded trainer — bit-identical centroids, no JVM.
    This is what the oracle generator calls so the DuckDB replay of
    the assignment pass scores against the exact matrix the Spark
    query trained.

    Only the n_rows <= sample_size regime is supported (the hash-
    spread filter uses Spark's xxhash64, which has no local twin);
    every test scale factor is far below the default 50k cap."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    if t.num_rows > sample_size:
        raise NotImplementedError(
            f"{parquet_path}: {t.num_rows} rows > sample_size="
            f"{sample_size}; the xxhash64 spread filter has no "
            "Spark-free twin — train with train_cluster_centroids"
        )
    ids = t[id_col].to_pylist()
    vecs = t[vec_col].to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    sample = np.asarray([vecs[i] for i in order], dtype=np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return _kmeans(sample / norms, n_clusters, seed)


def cluster_embeddings(
    df: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 50_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Assign every row to its nearest spherical k-means centroid.

    Deterministic (k-means++ seeded, order-stable hash-spread training
    sample).  Returns the input columns minus the vector, plus
    ``cluster_id`` and ``centroid_sim`` (cosine of the row to its
    centroid — a cluster cohesion signal).  The corpus is never
    shuffled: assignment is one mapInPandas GEMM per Arrow batch
    against the broadcast-by-closure centroid matrix.

    ``centroids`` injects a pre-trained matrix
    (:func:`train_cluster_centroids`), skipping the sample+train step —
    assignment against a frozen model is then a pure function of the
    input, exactly replayable in SQL (the oracle path), and at scale
    the natural shape anyway: train once on a bounded sample, assign
    in every downstream job."""
    import pandas as pd  # noqa: F401

    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_cluster_centroids(
            df, n_clusters, vec_col, id_col, seed, sample_size
        )
    )

    keep = [f.name for f in df.schema.fields if f.name != vec_col]
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != vec_col
    )
    out_schema = f"{fields}, cluster_id int, centroid_sim double"
    cmat = cents.T.copy()

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            rn = np.linalg.norm(mat, axis=1, keepdims=True)
            rn[rn == 0] = 1.0
            sims = (mat / rn) @ cmat
            out = pdf[keep].copy()
            out["cluster_id"] = np.argmax(sims, axis=1).astype(np.int32)
            out["centroid_sim"] = np.max(sims, axis=1)
            yield out

    return df.mapInPandas(gen, out_schema)


def cluster_summary(
    df: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 50_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Per-cluster corpus map: (cluster_id, n, mean_sim) — size and
    cohesion of each spherical k-means cluster.  One aggregation over
    the assignment pass.  ``centroids`` as in
    :func:`cluster_embeddings`."""
    assigned = cluster_embeddings(
        df, n_clusters, vec_col, id_col, seed, sample_size,
        centroids=centroids,
    )
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("centroid_sim"), 4).alias("mean_sim"),
    )
