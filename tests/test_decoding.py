"""Viterbi vs brute-force path enumeration on tiny cases
(reference decoding.py:124-187 semantics)."""

import itertools

import numpy as np
import pytest

from pii_core.decoding import NEG, bio_transitions, softmax, split_label, viterbi_bio

LABELS5 = ["O", "B-A", "I-A", "B-B", "I-B"]


def brute_force(emissions, labels, force_o_mask=None):
    t, c = emissions.shape
    trans = bio_transitions(labels)
    start_bad = [split_label(lab)[0] == "I" for lab in labels]
    em = emissions.copy()
    if force_o_mask is not None:
        for ti in range(t):
            if force_o_mask[ti]:
                em[ti, :] = NEG
                em[ti, labels.index("O")] = 0.0
    best, best_score = None, -np.inf
    for path in itertools.product(range(c), repeat=t):
        score = em[0, path[0]] + (NEG if start_bad[path[0]] else 0.0)
        for i in range(1, t):
            score += trans[path[i - 1], path[i]] + em[i, path[i]]
        if score > best_score:
            best, best_score = list(path), score
    return best


@pytest.mark.parametrize("seed", range(10))
@pytest.mark.parametrize("t", [1, 2, 4, 6])
def test_viterbi_matches_brute_force(seed, t):
    rng = np.random.RandomState(seed)
    em = rng.randn(t, len(LABELS5)).astype(np.float32) * 3
    got = viterbi_bio(em, LABELS5, o_id=0)
    want = brute_force(em, LABELS5)
    assert got == want


def test_viterbi_force_o_mask():
    rng = np.random.RandomState(7)
    em = rng.randn(5, len(LABELS5)).astype(np.float32) * 3
    mask = np.array([True, False, False, True, False])
    got = viterbi_bio(em, LABELS5, o_id=0, force_o_mask=mask)
    want = brute_force(em, LABELS5, mask)
    assert got == want
    assert got[0] == 0 and got[3] == 0


def test_never_starts_with_I():
    em = np.full((3, 5), 0.0, dtype=np.float32)
    em[:, 2] = 10.0  # I-A everywhere is tempting
    path = viterbi_bio(em, LABELS5, o_id=0)
    assert path[0] != 2
    # legal continuation: B-A then I-A I-A
    assert path == [1, 2, 2]


def test_I_only_follows_same_type():
    trans = bio_transitions(LABELS5)
    # B-A -> I-B forbidden; B-A -> I-A allowed
    assert trans[1, 4] == NEG
    assert trans[1, 2] == 0.0
    # O -> I-A forbidden; anything -> O / -> B-* allowed
    assert trans[0, 2] == NEG
    assert (trans[:, 0] == 0.0).all()
    assert (trans[:, 1] == 0.0).all()
    assert (trans[:, 3] == 0.0).all()


def test_malformed_labels_stay_forbidden():
    labels = ["O", "B-A", "I-A", "garbage"]
    trans = bio_transitions(labels)
    assert (trans[3, :] == NEG).all()
    assert (trans[:, 3] == NEG).all()
    assert trans[0, 0] == 0.0


@pytest.mark.parametrize("seed", range(5))
def test_malformed_label_never_wins_under_deep_negative_scores(seed):
    # Regression: with strongly negative emissions over enough steps the
    # accumulated path score sinks below -1e4; a malformed column whose DP
    # next-score was a CONSTANT -1e4 (instead of gbest - 1e4, the dense
    # transition-matrix semantics) would then win max(score).
    labels = ["O", "B-A", "I-A", "garbage"]
    rng = np.random.RandomState(seed)
    t = 6
    em = (rng.randn(t, len(labels)) * 3 - 4000).astype(np.float32)
    em[:, 3] += 10  # make the malformed column the per-row argmax bait
    got = viterbi_bio(em, labels, o_id=0)
    assert 3 not in got
    assert got == brute_force(em, labels)


def test_viterbi_batch_identical_paths_ties_included():
    """viterbi_bio_batch must return element-identical paths to per-sequence
    viterbi_bio — including on tie-heavy matrices where the tie-breaks (first
    max; I-column prefers the B predecessor) decide the path."""
    from pii_core.decoding import viterbi_bio_batch

    rng = np.random.RandomState(3)
    ems = []
    for i in range(120):
        t = int(rng.randint(0, 30))
        em = (rng.randn(t, len(LABELS5)) * 2).astype(np.float32)
        if i % 2:
            em = np.round(em)  # heavy ties: defeats the argmax shortcut
        if i % 5 == 0 and t:
            em[rng.randint(0, t)] = 0.0  # a full-row tie
        ems.append(em)
    want = [viterbi_bio(e, LABELS5, 0) for e in ems]
    assert viterbi_bio_batch(ems, LABELS5, 0) == want


def test_viterbi_batch_malformed_and_deep_negative():
    # same dense-DP semantics for malformed columns as the single-seq DP
    from pii_core.decoding import viterbi_bio_batch

    labels = ["O", "B-A", "I-A", "garbage"]
    rng = np.random.RandomState(11)
    ems = []
    for _ in range(8):
        em = (rng.randn(6, len(labels)) * 3 - 4000).astype(np.float32)
        em[:, 3] += 10
        ems.append(em)
    got = viterbi_bio_batch(ems, labels, 0)
    for em, path in zip(ems, got):
        assert 3 not in path
        assert path == viterbi_bio(em, labels, 0)


def test_viterbi_batch_edges():
    from pii_core.decoding import viterbi_bio_batch

    # empty batch, empty sequences, single non-shortcut sequence
    assert viterbi_bio_batch([], LABELS5, 0) == []
    ems = [np.zeros((0, 5), np.float32),
           np.zeros((3, 5), np.float32),  # all-ties, length 3
           np.zeros((1, 5), np.float32)]
    want = [viterbi_bio(e, LABELS5, 0) for e in ems]
    assert viterbi_bio_batch(ems, LABELS5, 0) == want
    with pytest.raises(ValueError):
        viterbi_bio_batch([np.zeros((3, 4), np.float32)], LABELS5, 0)


def test_softmax_stable_and_normalized():
    x = np.array([[1000.0, 1000.0, 999.0], [-1000.0, 0.0, 1.0]], dtype=np.float32)
    p = softmax(x)
    assert np.all(np.isfinite(p))
    np.testing.assert_allclose(p.sum(axis=-1), 1.0, rtol=1e-6)


def test_empty_and_shape_errors():
    assert viterbi_bio(np.zeros((0, 5), np.float32), LABELS5, 0) == []
    with pytest.raises(ValueError):
        viterbi_bio(np.zeros((3, 4), np.float32), LABELS5, 0)
    with pytest.raises(ValueError):
        viterbi_bio(np.zeros((3, 5), np.float32), LABELS5, 9)


def _pure_dp(em, labels, o_id=0):
    """viterbi_bio with the argmax/tie shortcut disabled — the raw DP."""
    import pii_core.decoding as dec

    orig = dec._argmax_shortcut
    dec._argmax_shortcut = lambda *a: None
    try:
        return viterbi_bio(em, labels, o_id)
    finally:
        dec._argmax_shortcut = orig


def _path_score(em, labels, path):
    trans = bio_transitions(labels)
    s = float(em[0, path[0]]) + (
        float(NEG) if split_label(labels[path[0]])[0] == "I" else 0.0)
    for i in range(1, len(path)):
        s += float(trans[path[i - 1], path[i]]) + float(em[i, path[i]])
    return s


@pytest.mark.parametrize("seed", range(20))
@pytest.mark.parametrize("t", [1, 2, 3, 5, 6])
def test_tie_aware_shortcut_matches_dp(seed, t):
    # Quantized emissions force frequent exact ties at the row max. The
    # frozen contract is the DP's OWN tie-break (first-index max, strict
    # pi > pb): the shortcut must return the byte-identical DP path, and
    # that path must score exactly like the brute-force optimum (under
    # ties, brute force may pick a DIFFERENT equal-scoring path — path
    # equality with brute force is deliberately not asserted).
    rng = np.random.RandomState(100 + seed)
    em = (np.round(rng.randn(t, len(LABELS5)) * 2) / 2).astype(np.float32)
    got = viterbi_bio(em, LABELS5, o_id=0)
    assert got == _pure_dp(em, LABELS5)
    bf = brute_force(em, LABELS5)
    assert _path_score(em, LABELS5, got) == _path_score(em, LABELS5, bf)


def test_tie_aware_shortcut_crafted_cases():
    O, BA, IA, BB, IB = range(5)
    # tie at row 0 between O and B-A: DP start tie-break -> first index (O)
    em = np.zeros((3, 5), np.float32)
    em[0, [O, BA]] = 5.0
    em[1, BA] = 5.0
    em[2, IA] = 5.0
    assert viterbi_bio(em, LABELS5, 0) == _pure_dp(em, LABELS5) == [O, BA, IA]
    # tie at the LAST row -> min attaining final index
    em = np.zeros((2, 5), np.float32)
    em[0, BA] = 5.0
    em[1, [IA, IB]] = 5.0  # I-B illegal after B-A: only I-A attains
    assert viterbi_bio(em, LABELS5, 0) == _pure_dp(em, LABELS5) == [BA, IA]
    # I-column pb/pi preference: tie between B-A and I-A before an I-A row
    em = np.zeros((3, 5), np.float32)
    em[0, BA] = 5.0
    em[1, [BA, IA]] = 5.0  # both attain -> equal scores -> keep B pred? no:
    em[2, IA] = 5.0        # row2 I-A: preds (B-A, I-A) both attaining -> pb
    got = viterbi_bio(em, LABELS5, 0)
    assert got == _pure_dp(em, LABELS5)
    # consecutive tied rows
    em = np.zeros((4, 5), np.float32)
    em[0, O] = 5.0
    em[1, [BA, BB]] = 5.0
    em[2, [IA, IB]] = 5.0
    em[3, O] = 5.0
    assert viterbi_bio(em, LABELS5, 0) == _pure_dp(em, LABELS5)
    # tie whose candidates are all start-illegal at row 0 -> DP fallback path
    em = np.zeros((2, 5), np.float32)
    em[0, [IA, IB]] = 5.0
    em[1, O] = 5.0
    assert viterbi_bio(em, LABELS5, 0) == brute_force(em, LABELS5)


def test_tie_aware_margin_guard_routes_to_dp():
    import pii_core.decoding as dec

    # one tied row plus an untied row whose runner-up gap is below the
    # margin: the shortcut must decline (None) and the DP answer stands
    em = np.zeros((3, 5), np.float32)
    em[0, 0] = 5.0
    em[1, [1, 3]] = 5.0                  # tie
    em[2, 0] = 5.0
    em[2, 1] = 5.0 - 1e-5                # sub-margin runner-up gap
    am = em.argmax(axis=1)
    top2 = np.partition(em, 3, axis=1)[:, 3:]
    gap = top2[:, 1] - top2[:, 0]
    assert dec._tie_aware_path(em, am, top2[:, 1], gap, LABELS5) is None
    assert viterbi_bio(em, LABELS5, 0) == brute_force(em, LABELS5)


def test_tie_aware_batch_matches_singles_on_tie_heavy_corpus():
    from pii_core.decoding import viterbi_bio_batch

    rng = np.random.RandomState(42)
    ems = []
    for _ in range(60):
        t = int(rng.randint(1, 40))
        em = (np.round(rng.randn(t, len(LABELS5)) * 2) / 2).astype(np.float32)
        ems.append(em)
    want = [_pure_dp(e, LABELS5) for e in ems]
    assert viterbi_bio_batch(ems, LABELS5, 0) == want
    assert [viterbi_bio(e, LABELS5, 0) for e in ems] == want
