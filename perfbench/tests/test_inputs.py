import os

import pytest

from perfbench import inputs

TINY = {
    "tiny_batch": dict(kind="batch", corpus=dict(n_files=60, dup_frac=0.5)),
    "tiny_stream": dict(kind="stream", corpus=dict(n_files=60, dup_frac=0.5),
                        batch_files=20, min_measured=1),
}


@pytest.fixture(autouse=True)
def tiny_workloads(monkeypatch):
    monkeypatch.setattr(inputs, "WORKLOADS", {**inputs.WORKLOADS, **TINY})


def _read(path):
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_same_inputs_and_cache_reuse(tmp_path):
    a = inputs.prepare("tiny_batch", 3, str(tmp_path / "a"))
    b = inputs.prepare("tiny_batch", 3, str(tmp_path / "b"))
    for name in ("corpus.parquet", "truth.json", "reference_pairs.json"):
        assert _read(os.path.join(a, name)) == _read(os.path.join(b, name))
    stamp = os.path.getmtime(os.path.join(a, "corpus.parquet"))
    assert inputs.prepare("tiny_batch", 3, str(tmp_path / "a")) == a
    assert os.path.getmtime(os.path.join(a, "corpus.parquet")) == stamp
    other = inputs.prepare("tiny_batch", 4, str(tmp_path / "a"))
    assert _read(os.path.join(other, "truth.json")) != \
        _read(os.path.join(a, "truth.json"))


def test_reference_pairs_lie_within_truth_groups(tmp_path):
    d = inputs.prepare("tiny_batch", 3, str(tmp_path))
    group_of, _, ref = inputs.load_truth(d)
    assert len(group_of) == 60 and ref
    for a, b in ref:
        assert a < b and group_of[a] == group_of[b] != -1


def test_stream_input_is_one_file_per_micro_batch(tmp_path):
    d = inputs.prepare("tiny_stream", 5, str(tmp_path))
    files = sorted(os.listdir(os.path.join(d, "batches")))
    assert files == [f"part-{b:05d}.parquet" for b in range(3)]
    group_of, batch_of, _ = inputs.load_truth(d)
    assert sorted(batch_of.values()) == [b for b in range(3) for _ in range(20)]
    # seeded shuffle: truth groups span micro-batches
    spans = {}
    for rid, gid in group_of.items():
        if gid != -1:
            spans.setdefault(gid, set()).add(batch_of[rid])
    assert any(len(bs) > 1 for bs in spans.values())
