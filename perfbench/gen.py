"""Seeded input generator for the benchmark.

Everything a workload feeds the library comes from here, derived from one
integer seed: the same seed gives byte-identical tables and the same
content hashes (``manifest.json``).  The library only ever sees the
written files (and the query vectors read back from them).

Two input sets:

- ``collection``: ``n_docs`` documents with d-dimensional unit float32
  vectors, ``lang``/``source`` metadata and word content, plus query
  vectors and the write batches the ``ingest_mixed`` rounds apply (new
  ids, upserts of existing ids, deletes).
- ``corpus``: documents shaped like the repo's synthetic dedup corpus
  (10-99 words from a small query-engine vocabulary, ~5% planted
  near-copies of an earlier document), with every planted
  ``(source_id, copy_id)`` pair recorded.

Usage: python3 perfbench/gen.py --seed N --out DIR [--which collection|corpus]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window",
    "spark", "a", "group", "part", "big", "sort", "query", "fast",
    "the",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_FRAC = 0.05

# Sizes.  The collection keeps the reference's headline dimensionality
# (d = 1536) at the ingest workload's n ~ 1k; see NOTES.md for why the
# larger reference sizes do not fit one run here.
COLLECTION = dict(n_docs=1000, dim=1536, n_queries=64, n_rounds=16,
                  new_per_round=20, upserts_per_round=10,
                  deletes_per_round=5)
CORPUS_DOCS = 1000

DOC_SCHEMA = pa.schema([
    ("id", pa.string()),
    ("metadata", pa.map_(pa.string(), pa.string())),
    ("embedding", pa.list_(pa.float32())),
    ("content", pa.string()),
])


def _unit_rows(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    idx = rng.integers(0, len(VOCAB), size=int(rng.integers(lo, hi)))
    return " ".join(VOCAB[j] for j in idx)


def _doc_table(ids, metas, vecs: np.ndarray, contents) -> pa.Table:
    dim = vecs.shape[1] if len(ids) else 0
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.ravel(), type=pa.float32()), dim
    ).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "id": pa.array(ids, type=pa.string()),
            "metadata": pa.array(
                [sorted(m.items()) for m in metas], type=DOC_SCHEMA.field("metadata").type
            ),
            "embedding": emb,
            "content": pa.array(contents, type=pa.string()),
        },
        schema=DOC_SCHEMA,
    )


def _docs(rng, ids, dim) -> pa.Table:
    n = len(ids)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    sources = rng.integers(0, 20, size=n)
    metas = [{"lang": LANGS[li], "source": f"src{s}"} for li, s in zip(langs, sources)]
    contents = [_words(rng, 8, 24) for _ in range(n)]
    return _doc_table(ids, metas, _unit_rows(rng, n, dim), contents)


def table_hash(tbl: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream: the logical content in row
    order, independent of parquet writer metadata."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def gen_collection(seed: int) -> dict[str, pa.Table]:
    sizes = COLLECTION
    rng = np.random.default_rng([seed, 1])
    n, dim = sizes["n_docs"], sizes["dim"]
    out = {"docs": _docs(rng, [f"doc{i:06d}" for i in range(n)], dim)}
    out["queries"] = pa.table({
        "qvec": pa.FixedSizeListArray.from_arrays(
            pa.array(_unit_rows(rng, sizes["n_queries"], dim).ravel()), dim
        ).cast(pa.list_(pa.float32())),
        # filter values each query pairs with: a metadata value and a
        # content word
        "lang": pa.array([LANGS[int(i)] for i in rng.integers(0, len(LANGS), sizes["n_queries"])]),
        "word": pa.array([VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), sizes["n_queries"])]),
    })
    # Write rounds: new ids never collide with base ids; upserts and
    # deletes pick distinct base ids per round, and a round never
    # upserts and deletes the same id.  Each round applies to a freshly
    # loaded base collection.
    new_rows, ups, dels = [], [], []
    for r in range(sizes["n_rounds"]):
        new_ids = [f"new{r:03d}_{j:03d}" for j in range(sizes["new_per_round"])]
        new_rows.append(_docs(rng, new_ids, dim).append_column(
            "round", pa.array([r] * len(new_ids), type=pa.int32())))
        pick = rng.choice(n, size=sizes["upserts_per_round"] + sizes["deletes_per_round"],
                          replace=False)
        up_ids = [f"doc{int(i):06d}" for i in pick[: sizes["upserts_per_round"]]]
        ups.append(_docs(rng, up_ids, dim).append_column(
            "round", pa.array([r] * len(up_ids), type=pa.int32())))
        dels.extend((r, f"doc{int(i):06d}") for i in pick[sizes["upserts_per_round"]:])
    out["new"] = pa.concat_tables(new_rows)
    out["upserts"] = pa.concat_tables(ups)
    out["deletes"] = pa.table({
        "round": pa.array([r for r, _ in dels], type=pa.int32()),
        "id": pa.array([i for _, i in dels], type=pa.string()),
    })
    return out


def gen_corpus(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    n = CORPUS_DOCS
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    sources = rng.integers(0, 20, size=n)
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_FRAC:
            # near-copy of a random earlier doc: swap a few words,
            # sometimes append a marker word
            src = int(rng.integers(0, i))
            w = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            if rng.random() < 0.25:
                w.append("dup")
            texts.append(" ".join(w))
            planted.append((src, i))
        else:
            texts.append(_words(rng, 10, 100))
    docs = pa.table({
        "doc_id": pa.array(range(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], type=pa.string()),
        "source": pa.array([f"src{i}" for i in sources], type=pa.string()),
    })
    pairs = pa.table({
        "src_id": pa.array([a for a, _ in planted], type=pa.int64()),
        "copy_id": pa.array([b for _, b in planted], type=pa.int64()),
    })
    return {"corpus": docs, "planted": pairs}


GENERATORS = {"collection": gen_collection, "corpus": gen_corpus}


def write_inputs(seed: int, out_dir: str, which: str) -> dict:
    """Generate one input set into ``out_dir`` and return its manifest
    (table name -> {path, rows, sha256})."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "which": which, "tables": {}}
    for name, tbl in GENERATORS[which](seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        # hash what the program will read, after the parquet round trip
        manifest["tables"][name] = {
            "path": path, "rows": tbl.num_rows, "sha256": table_hash(pq.read_table(path)),
        }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--which", choices=sorted(GENERATORS), default=None)
    args = ap.parse_args()
    for which in [args.which] if args.which else sorted(GENERATORS):
        m = write_inputs(args.seed, os.path.join(args.out, which), which)
        for name, t in m["tables"].items():
            print(f"{which}/{name}: {t['rows']} rows sha256={t['sha256'][:16]}")


if __name__ == "__main__":
    main()
