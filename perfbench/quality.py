"""Output checks: reference duplicate pairs, pair recall and precision,
the cluster-assignment checksum, and the pairs the verify kernel probe
is timed on.

Everything here is plain Python over small in-memory tables, so the
benchmark's own tests can run it on hand-built inputs without Spark.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict
from itertools import combinations
from random import Random

PROBE_PAIRS = 100     # of each kind: duplicate, non-duplicate


def record_id(repo: str, path: str, commit: str) -> bytes:
    """The engine's binary(16) record id: the first 128 bits of sha256
    over the length-prefixed (repo, path, commit) encoding that
    operators.normalize.record_id builds in the JVM."""
    key = "".join(f"{len(v)}:{v}" for v in (repo, path, commit))
    return hashlib.sha256(key.encode("utf-8")).digest()[:16]


def reference_pairs(groups: dict[int, list[tuple[bytes, str]]],
                    similarity, threshold: float) -> set[tuple[bytes, bytes]]:
    """Within-group pairs (a < b) whose `similarity(text_a, text_b)` is at
    least `threshold`.  `groups` maps a truth group id to its members'
    (id, normalized content); singletons are not passed in."""
    out: set[tuple[bytes, bytes]] = set()
    for members in groups.values():
        for (ia, ta), (ib, tb) in combinations(members, 2):
            if similarity(ta, tb) >= threshold:
                out.add((min(ia, ib), max(ia, ib)))
    return out


def cluster_recall(ref: set[tuple[bytes, bytes]],
                   cluster_of: dict[bytes, bytes]) -> float:
    """Share of reference pairs whose two ids share a cluster.  An id
    missing from the output counts as its own cluster."""
    if not ref:
        return 1.0
    hit = sum(1 for a, b in ref
              if cluster_of.get(a, a) == cluster_of.get(b, b))
    return hit / len(ref)


def cluster_precision(cluster_of: dict[bytes, bytes],
                      group_of: dict[bytes, int]) -> float:
    """Share of output same-cluster pairs that lie in one truth group
    (group -1 = singleton, which shares a group with nothing)."""
    members: dict[bytes, list[int]] = defaultdict(list)
    for rid, cid in cluster_of.items():
        members[cid].append(group_of.get(rid, -1))
    total = same = 0
    for gids in members.values():
        n = len(gids)
        total += n * (n - 1) // 2
        for gid, c in Counter(gids).items():
            if gid != -1:
                same += c * (c - 1) // 2
    return same / total if total else 1.0


def pair_recall(ref: set[tuple[bytes, bytes]],
                emitted: set[tuple[bytes, bytes]]) -> float:
    """Share of reference pairs present among the emitted pairs."""
    if not ref:
        return 1.0
    return len(ref & emitted) / len(ref)


def pair_precision(emitted: set[tuple[bytes, bytes]],
                   group_of: dict[bytes, int]) -> float:
    """Share of emitted pairs whose two ids lie in one truth group."""
    if not emitted:
        return 1.0
    same = sum(1 for a, b in emitted
               if group_of.get(a, -1) != -1
               and group_of.get(a, -1) == group_of.get(b, -2))
    return same / len(emitted)


def canonical_pair(a: bytes, b: bytes) -> tuple[bytes, bytes]:
    return (a, b) if a <= b else (b, a)


def assignment_checksum(cluster_of: dict[bytes, bytes]) -> str:
    """Order-independent digest of an (id -> cluster id) assignment."""
    h = hashlib.sha256()
    for rid in sorted(cluster_of):
        h.update(rid)
        h.update(cluster_of[rid])
    return h.hexdigest()[:16]


def probe_pairs(rng: Random, group_of: dict[bytes, int],
                ref: set[tuple[bytes, bytes]]) -> list[tuple[bytes, bytes]]:
    """A seeded sample of up to PROBE_PAIRS reference (duplicate) pairs,
    then as many pairs of records from different truth groups: tier-3
    pairs are about half duplicates on duplicate-heavy input, so timing
    these runs the suffix-array clone check about as often as the
    verify UDF does."""
    dups = rng.sample(sorted(ref), min(PROBE_PAIRS, len(ref)))
    ids = sorted(group_of)
    others: list[tuple[bytes, bytes]] = []
    while len(others) < len(dups):
        a, b = rng.sample(ids, 2)
        if group_of[a] < 0 or group_of[a] != group_of[b]:
            others.append((a, b))
    return dups + others
