"""The input generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _hashes(manifest):
    return {name: t["sha256"] for name, t in manifest["tables"].items()}


@pytest.mark.parametrize("which", sorted(gen.GENERATORS))
def test_same_seed_same_content_hashes(tmp_path, which):
    a = gen.write_inputs(7, str(tmp_path / "a"), which)
    b = gen.write_inputs(7, str(tmp_path / "b"), which)
    assert _hashes(a) == _hashes(b)
    c = gen.write_inputs(8, str(tmp_path / "c"), which)
    assert all(_hashes(a)[n] != _hashes(c)[n] for n in _hashes(a))


@pytest.mark.parametrize("which", sorted(gen.GENERATORS))
def test_written_files_carry_the_hashed_content(tmp_path, which):
    m = gen.write_inputs(3, str(tmp_path), which)
    for name, t in m["tables"].items():
        assert gen.table_hash(pq.read_table(t["path"])) == t["sha256"], name


def test_write_rounds_never_upsert_and_delete_one_id():
    t = gen.gen_collection(5)
    ups = {(r["round"], r["id"]) for r in t["upserts"].select(["round", "id"]).to_pylist()}
    dels = {(r["round"], r["id"]) for r in t["deletes"].to_pylist()}
    assert not ups & dels
    new_ids = set(t["new"].column("id").to_pylist())
    assert not new_ids & set(t["docs"].column("id").to_pylist())


def test_planted_pairs_point_backwards():
    t = gen.gen_corpus(5)
    pairs = t["planted"].to_pylist()
    assert pairs and all(p["src_id"] < p["copy_id"] for p in pairs)
