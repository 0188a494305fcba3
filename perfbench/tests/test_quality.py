import hashlib
import random

from perfbench import quality

A, B, C, D, E = (bytes([i]) * 16 for i in range(1, 6))

# truth: A, B, C form group 7; D is in group 9 alone; E is a singleton
GROUP_OF = {A: 7, B: 7, C: 7, D: 9, E: -1}


def test_record_id_is_length_prefixed_sha256_prefix():
    key = "3:a b1:c40:" + "f" * 40
    assert quality.record_id("a b", "c", "f" * 40) == \
        hashlib.sha256(key.encode()).digest()[:16]
    # the length prefix keeps field boundaries: no collision on re-splits
    assert quality.record_id("a b", "c", "x") != quality.record_id("a", "b c", "x")


def test_reference_pairs_keep_pairs_at_or_above_threshold():
    groups = {7: [(A, "aaaa"), (B, "aaab"), (C, "zzzz")]}

    def sim(s, t):
        return sum(x == y for x, y in zip(s, t)) / 4

    assert quality.reference_pairs(groups, sim, 0.75) == {(A, B)}
    assert quality.reference_pairs(groups, sim, 0.0) == {(A, B), (A, C), (B, C)}


def test_cluster_recall_and_precision_on_hand_built_truth():
    ref = {(A, B), (A, C), (B, C)}
    # A and B clustered together; C and E share a (wrong) cluster; D alone
    cluster_of = {A: A, B: A, C: C, E: C, D: D}
    assert quality.cluster_recall(ref, cluster_of) == 1 / 3
    # same-cluster pairs: (A,B) right, (C,E) wrong
    assert quality.cluster_precision(cluster_of, GROUP_OF) == 0.5
    # an id missing from the output is its own cluster
    assert quality.cluster_recall({(A, B)}, {A: A}) == 0.0
    assert quality.cluster_recall(set(), cluster_of) == 1.0
    assert quality.cluster_precision({A: A, B: B}, GROUP_OF) == 1.0


def test_singletons_never_count_as_one_group():
    other = bytes([6]) * 16
    assert quality.cluster_precision({E: E, other: E}, {E: -1, other: -1}) == 0.0
    assert quality.pair_precision({(E, other)}, {E: -1, other: -1}) == 0.0


def test_pair_recall_and_precision():
    ref = {(A, B), (A, C)}
    emitted = {quality.canonical_pair(B, A), quality.canonical_pair(D, E)}
    assert quality.pair_recall(ref, emitted) == 0.5
    assert quality.pair_precision(emitted, GROUP_OF) == 0.5
    assert quality.pair_recall(set(), emitted) == 1.0
    assert quality.pair_precision(set(), GROUP_OF) == 1.0


def test_checksum_ignores_order_and_sees_moves():
    one = {A: A, B: A, C: C}
    two = {C: C, B: A, A: A}
    assert quality.assignment_checksum(one) == quality.assignment_checksum(two)
    assert quality.assignment_checksum(one) != \
        quality.assignment_checksum({A: A, B: B, C: C})


def test_probe_pairs_are_half_reference_half_cross_group():
    ref = {(A, B), (A, C), (B, C)}
    pairs = quality.probe_pairs(random.Random(1), GROUP_OF, ref)
    assert len(pairs) == 6
    assert set(pairs[:3]) == ref
    for a, b in pairs[3:]:
        assert a != b
        assert GROUP_OF[a] < 0 or GROUP_OF[a] != GROUP_OF[b]
    again = quality.probe_pairs(random.Random(1), GROUP_OF, ref)
    assert pairs == again
