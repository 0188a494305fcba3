"""Workload definitions and their seeded, cached inputs.

Each workload's input is a pure function of (its parameters, --seed):
the corpus generator of ``polyminhash_spark.corpus`` with the seed
replaced.  Inputs, the truth sidecar and the reference duplicate pairs
are written once per (parameters, seed) under the cache directory and
reused by later runs, outside any timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import asdict

from perfbench import quality

CORPUS_COLUMNS = ("repo", "path", "commit", "lang", "content")

# Per-workload generator parameters (polyminhash_spark.corpus.CorpusParams
# fields except the seed) and run shape.  Sizes are set so that one run,
# JVM start and warm-up included, stays well under a minute on 4 cores.
WORKLOADS = {
    "batch_dup_heavy": dict(
        kind="batch",
        corpus=dict(n_files=8000, dup_frac=0.5, license_header_frac=0.3,
                    hot_repo_frac=0.5),
        # the first warm pass is still slower than the next: runs that
        # measured one pass and runs that measured two disagreed
        min_measured=2,
    ),
    "stream_ingest": dict(
        kind="stream",
        corpus=dict(n_files=1400, dup_frac=0.2),
        batch_files=200,       # rows per micro-batch parquet file
        min_measured=1,        # measured micro-batches after the warm-up one
        # micro-batch 2 merges the index partitions of 0 and 1; it is the
        # traced micro-batch of a traced run.  A measured run (micro-batch
        # 1, and 2 only on a fast host) mostly does not compact, like
        # most micro-batches at the engine's default of every 64; a
        # second measured micro-batch would put the benchmark's runs
        # over their time budget on a busy host
        compact_every=2,
    ),
}


def cache_key(workload: str, seed: int) -> str:
    spec = json.dumps({"workload": workload, "seed": seed,
                       **WORKLOADS[workload]}, sort_keys=True)
    return f"{workload}-s{seed}-{hashlib.sha256(spec.encode()).hexdigest()[:10]}"


def _write_parquet(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    table = pa.table({k: [r[k] for r in rows] for k in CORPUS_COLUMNS},
                     schema=pa.schema([(k, pa.string())
                                       for k in CORPUS_COLUMNS]))
    # 4096-row groups, as corpus.write_corpus_parquet writes them
    pq.write_table(table, tmp, row_group_size=4096)
    os.replace(tmp, path)


def prepare(workload: str, seed: int, cache_root: str) -> str:
    """Generate (or reuse) the workload's inputs; returns their directory.

    Layout: ``corpus.parquet`` (batch) or ``batches/part-NNNNN.parquet``
    (stream, one file per micro-batch, rows shuffled by the seed so that
    truth groups span batches), ``truth.json`` (hex id -> truth group,
    -1 for singletons, plus the stream's batch index per id) and
    ``reference_pairs.json`` (hex id pairs)."""
    from polyminhash_spark.config import default_config
    from polyminhash_spark.corpus import CorpusParams, generate_corpus
    from polyminhash_spark.kernels import (jaccard_arrays, normalize_text,
                                           shingles_for)

    spec = WORKLOADS[workload]
    out = os.path.join(cache_root, cache_key(workload, seed))
    if os.path.exists(os.path.join(out, "reference_pairs.json")):
        return out
    os.makedirs(out, exist_ok=True)
    params = CorpusParams(seed=seed, **spec["corpus"])
    rows, truth = generate_corpus(params)
    ids = [quality.record_id(r["repo"], r["path"], r["commit"]) for r in rows]
    if len(set(ids)) != len(ids):
        raise RuntimeError(f"{workload} seed {seed}: duplicate record ids")

    batch_of: dict[str, int] = {}
    if spec["kind"] == "batch":
        _write_parquet(os.path.join(out, "corpus.parquet"), rows)
    else:
        order = list(range(len(rows)))
        random.Random(seed).shuffle(order)
        per = spec["batch_files"]
        os.makedirs(os.path.join(out, "batches"), exist_ok=True)
        for b in range(0, len(order) // per):
            chunk = order[b * per:(b + 1) * per]
            _write_parquet(os.path.join(out, "batches", f"part-{b:05d}.parquet"),
                           [rows[i] for i in chunk])
            for i in chunk:
                batch_of[ids[i].hex()] = b

    cfg = default_config()
    groups: dict[int, list[tuple[bytes, str]]] = {}
    for rid, r, t in zip(ids, rows, truth):
        if t["true_group_id"] >= 0:
            groups.setdefault(t["true_group_id"], []).append(
                (rid, normalize_text(r["content"])))

    def exact_jaccard(a: str, b: str) -> float:
        sh = lambda s: shingles_for(s, cfg.shingle_k, cfg.shingle_unit,
                                    cfg.max_shingles_per_doc)
        return jaccard_arrays(sh(a), sh(b))

    ref = quality.reference_pairs(groups, exact_jaccard, cfg.jaccard_threshold)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"params": asdict(params),
                   "group_of": {rid.hex(): t["true_group_id"]
                                for rid, t in zip(ids, truth)},
                   "batch_of": batch_of}, f)
    tmp = os.path.join(out, "reference_pairs.json.tmp")
    with open(tmp, "w") as f:
        json.dump(sorted([a.hex(), b.hex()] for a, b in ref), f)
    os.replace(tmp, os.path.join(out, "reference_pairs.json"))
    return out


def load_truth(input_dir: str) -> tuple[dict[bytes, int], dict[bytes, int],
                                        set[tuple[bytes, bytes]]]:
    """(group_of, batch_of, reference pairs) with binary ids."""
    with open(os.path.join(input_dir, "truth.json")) as f:
        t = json.load(f)
    with open(os.path.join(input_dir, "reference_pairs.json")) as f:
        ref = {(bytes.fromhex(a), bytes.fromhex(b)) for a, b in json.load(f)}
    group_of = {bytes.fromhex(k): v for k, v in t["group_of"].items()}
    batch_of = {bytes.fromhex(k): v for k, v in t["batch_of"].items()}
    return group_of, batch_of, ref
