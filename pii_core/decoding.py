"""Softmax + BIO-constrained Viterbi decoding over token logits.

Re-expresses reference ``inference/decoding.py``: stable softmax (41-50), a
(C,C) BIO transition-score matrix — 0 for legal transitions, -1e4 otherwise
(79-121) — and Viterbi dynamic programming with an optional force-O mask for
special/pad positions and a start vector forbidding ``I-*`` (124-187).

Pure NumPy, fp32 throughout (the reference enforces fp32 at decoding.py:45,
infer_pii.py:227) so results are bit-stable across machines and partitionings.
Runs inside the Arrow UDF on executors; sequential in T, vectorized in C.
"""

from __future__ import annotations

from functools import lru_cache
from operator import add

import numpy as np

NEG = np.float32(-1e4)


def softmax(x: np.ndarray) -> np.ndarray:
    """Numerically stable softmax over the last axis, fp32."""
    x = np.asarray(x, dtype=np.float32)
    z = x - x.max(axis=-1, keepdims=True)
    e = np.exp(z)
    return e / e.sum(axis=-1, keepdims=True)


def split_label(lab: str) -> tuple[str, str | None]:
    """``"B-NOME"`` -> ("B","NOME"); ``"O"`` / malformed -> ("O", None)."""
    if lab != "O" and "-" in lab:
        pre, typ = lab.split("-", 1)
        if pre in ("B", "I") and typ:
            return pre, typ
    return "O", None


def bio_transitions(labels: list[str]) -> np.ndarray:
    """(C,C) score matrix; ``trans[p, c]`` added moving from label p to c.

    Legal moves: anything -> O; anything -> B-X; {B-X, I-X} -> I-X.
    """
    c = len(labels)
    trans = np.full((c, c), NEG, dtype=np.float32)
    # (prefix, type, is_valid_bio) per label; malformed labels stay forbidden.
    info = [
        (pre, typ, lab == "O" or typ is not None)
        for lab, (pre, typ) in ((lab, split_label(lab)) for lab in labels)
    ]
    for pi, (ppre, ptyp, pok) in enumerate(info):
        if not pok:
            continue
        for ci, (cpre, ctyp, cok) in enumerate(info):
            if not cok:
                continue
            if cpre == "O" or cpre == "B":
                trans[pi, ci] = 0.0
            elif cpre == "I" and ptyp is not None and ptyp == ctyp:
                trans[pi, ci] = 0.0
    return trans


# Minimum strictly-positive (max - runner-up) row gap for the tie-aware
# shortcut. Its exactness proof compares float64 path scores that differ, in
# exact arithmetic, by at least one row's positive gap; float64 rounding can
# erode that difference by at most ~T·ulp(|score|) ≈ 1e5·1e-10 = 1e-5 for
# T ≤ 1e5 at these magnitudes, so a 1e-4 floor keeps every "strictly less"
# in the proof strict under the DP's actual float64 arithmetic. Rows whose
# runner-up gap is BELOW the floor route to the full DP (same answer,
# slower) — the guard never changes results, only which code path runs.
_TIE_MARGIN = 1e-4


def _argmax_shortcut(em: np.ndarray, labels: list[str]) -> list[int] | None:
    """If every row's max is strictly unique and the argmax path is
    BIO-legal (including the start constraint), that path attains the
    unconstrained score bound and is therefore the UNIQUE Viterbi optimum —
    provably identical to the DP, at O(T·C) vectorized cost. Rows with TIED
    maxima route to ``_tie_aware_path``, which resolves the ties exactly
    (same path the DP would return) when the bound is attainable. Returns
    None when the full DP is required (bound unattainable, or runner-up
    gaps too small for the float-margin proof)."""
    c = em.shape[1]
    if c < 2:
        return None
    am = em.argmax(axis=1)
    top2 = np.partition(em, c - 2, axis=1)[:, c - 2:]
    gap = top2[:, 1] - top2[:, 0]
    legal, start_ok = _bio_legal(tuple(labels))
    if bool((gap > 0).all()):
        if start_ok[am[0]] and bool(legal[am[:-1], am[1:]].all()):
            return am.tolist()
        return None
    return _tie_aware_path(em, am, top2[:, 1], gap, labels)


def _tie_aware_path(
    em: np.ndarray,
    am: np.ndarray,
    rowmax: np.ndarray,
    gap: np.ndarray,
    labels: list[str],
) -> list[int] | None:
    """Exact DP path for matrices where some rows tie at the max.

    Every path that attains the per-row-max score bound must pick a
    max-attaining label in EVERY row (prefix/suffix decomposition: total =
    bound forces prefix = prefix-bound at each step), and every
    non-bound-attaining path scores strictly lower (by at least the minimum
    positive runner-up gap — the float64 margin guard ``_TIE_MARGIN`` keeps
    this strict under the DP's arithmetic). So when a bound-attaining
    BIO-legal path exists, the DP's score vector at step ti equals the
    prefix bound exactly on the "attaining" label set A(ti) — computable by
    a forward reachability pass over the (tiny) per-row tied candidate sets
    — and the DP's OWN tie-breaks are pure functions of those sets:

    * ``path[t-1] = score.index(max)``       -> min A(t-1)
    * free-column backpointer ``g``          -> min A(ti-1)
    * I-column ``pi > pb`` strict preference -> pi iff pi attains and pb
      does not (equal scores keep the B predecessor)

    Rows with a unique max have A = {argmax}; transitions between two such
    rows reduce to the pairwise legality check, so the set logic only runs
    around tied rows (typically a handful per document). Returns None —
    full DP — when no attaining set survives (bound unattainable) or the
    margin guard fails; the DP then produces the identical answer the slow
    way. Differential tests pin this against brute-force enumeration on
    tie-heavy matrices, ties included."""
    t = em.shape[0]
    tied = gap <= 0
    pos = gap[~tied]
    if pos.size and float(pos.min()) < _TIE_MARGIN:
        return None
    legal, start_ok = _bio_legal(tuple(labels))
    untied = ~tied
    # argmax-path legality wherever BOTH endpoints are untied (singleton
    # attain sets); a failure there means the bound is unattainable
    ok_pair = legal[am[:-1], am[1:]]
    if bool((untied[:-1] & untied[1:] & ~ok_pair).any()):
        return None
    if untied[0] and not start_ok[am[0]]:
        return None
    start_np, _free_cols, i_cols, i_prev = _bio_structure(tuple(labels))
    del start_np
    ipred = {int(ci): (int(pb), int(pi))
             for ci, (pb, pi) in zip(i_cols, i_prev)}
    tie_idx = np.flatnonzero(tied)
    attain: dict[int, np.ndarray] = {}
    bi = 0
    n_ties = len(tie_idx)
    while bi < n_ties:
        b0 = bj = int(tie_idx[bi])
        while bi + 1 < n_ties and int(tie_idx[bi + 1]) == bj + 1:
            bi += 1
            bj = int(tie_idx[bi])
        for ti in range(b0, bj + 1):
            cand = np.flatnonzero(em[ti] == rowmax[ti])
            if ti == 0:
                s_set = cand[start_ok[cand]]
            else:
                prev = attain.get(ti - 1)
                if prev is None:
                    prev = am[ti - 1:ti]  # untied predecessor: singleton
                s_set = cand[legal[np.ix_(prev, cand)].any(axis=0)]
            if s_set.size == 0:
                return None  # bound unattainable: full DP decides
            attain[ti] = s_set
        if bj + 1 < t and not bool(legal[attain[bj], am[bj + 1]].any()):
            return None  # untied follower unreachable from the tied block
        bi += 1
    # Backtrack: untied rows keep the argmax; tied rows resolve descending
    # with the DP's exact tie-break rules (nxt is already resolved because
    # higher rows were processed first — dict keys ascend, so iterate
    # reversed).
    path = am.copy()
    for ti in sorted(attain, reverse=True):
        a_set = attain[ti]
        if ti == t - 1:
            path[ti] = int(a_set[0])  # first index of the max final score
            continue
        pr = ipred.get(int(path[ti + 1]))
        if pr is None:
            # free column: bk = g = first index attaining gbest at ti.
            # (Malformed columns also lack an ipred entry, but they can
            # never be attaining, so path[ti+1] is never malformed here.)
            path[ti] = int(a_set[0])
        else:
            pb, pi = pr
            pi_in = bool((a_set == pi).any())
            pb_in = bool((a_set == pb).any())
            if not (pi_in or pb_in):
                return None  # defensive: contradicts forward pass
            # strict ``pi > pb``: equal (both attaining) keeps the B pred
            path[ti] = pi if (pi_in and not pb_in) else pb
    return path.tolist()


def viterbi_bio(
    emissions: np.ndarray,
    labels: list[str],
    o_id: int,
    force_o_mask: np.ndarray | None = None,
) -> list[int]:
    """Best BIO-legal label-id path for a (T,C) emission matrix: the
    argmax shortcut when it is provably the optimum, else the DP below."""
    em = np.asarray(emissions, dtype=np.float32)
    if em.ndim != 2:
        raise ValueError(f"emissions must be (T,C), got {em.shape}")
    t, c = em.shape
    if c != len(labels):
        raise ValueError(f"emissions C={c} != len(labels)={len(labels)}")
    if not 0 <= int(o_id) < c:
        raise ValueError(f"invalid o_id={o_id}")
    if force_o_mask is not None:
        m = np.asarray(force_o_mask, dtype=bool)
        if m.shape != (t,):
            raise ValueError(f"force_o_mask must be (T,), got {m.shape}")
        em = em.copy()  # only the masked path mutates; callers keep theirs
        em[m, :] = NEG
        em[m, int(o_id)] = 0.0
    if t == 0:
        return []

    short = _argmax_shortcut(em, labels)
    if short is not None:
        return short

    start, free_cols, i_cols, i_prev = _bio_structure(tuple(labels))

    # Fast DP exploiting the BIO transition structure instead of a dense
    # (C,C) matmul per step: columns reachable from ANY legal prev (O, B-*)
    # take the global best prev; each I-X column takes max(B-X, I-X) prevs;
    # malformed labels are unreachable. O(T·C) instead of O(T·C²).
    # The inner loop runs on Python floats — at C=27 that beats per-step
    # NumPy calls by ~4x (fixed ndarray-call overhead dominates) — while
    # emissions stay fp32: each score is a sum of fp32 values converted
    # exactly to float64, so comparisons are deterministic on any platform.
    # Equivalent to the dense matrix DP — tests pin this against brute-force
    # path enumeration.
    em_rows = em.tolist()
    free_l = free_cols.tolist()
    ipairs = [(int(ci), int(pb), int(pi))
              for ci, (pb, pi) in zip(i_cols.tolist(), i_prev.tolist())]
    # Malformed-label columns keep the default nxt below: dense-DP semantics
    # give them gbest + NEG each step (trans[:, ci] == NEG), NOT a constant
    # NEG — with a constant, once accumulated scores sink below -1e4 a
    # "forbidden" column would win max(score).
    score = [e + s for e, s in zip(em_rows[0], start.tolist())]
    back: list[list[int]] = [[0] * c]
    neg = float(NEG)
    for ti in range(1, t):
        gbest = max(score)
        g = score.index(gbest)
        nxt = [gbest + neg] * c
        bk = [g] * c
        for ci in free_l:
            nxt[ci] = gbest
        for ci, pb_i, pi_i in ipairs:
            pb, pi = score[pb_i], score[pi_i]
            if pi > pb:
                bk[ci] = pi_i
                nxt[ci] = pi
            else:
                bk[ci] = pb_i
                nxt[ci] = pb
        back.append(bk)
        # map(add, ...) iterates both lists in C — ~2x the indexed listcomp
        # on this hottest line (fp32→float64 addition semantics unchanged)
        score = list(map(add, em_rows[ti], nxt))

    path = [0] * t
    best = max(score)
    path[t - 1] = score.index(best)
    for ti in range(t - 1, 0, -1):
        path[ti - 1] = back[ti][path[ti]]
    return path


def viterbi_bio_batch(
    emissions: list[np.ndarray],
    labels: list[str],
    o_id: int,
) -> list[list[int]]:
    """``viterbi_bio`` over a list of sequences (one document's decode
    units), one path per matrix in input order."""
    return [viterbi_bio(e, labels, o_id) for e in emissions]


@lru_cache(maxsize=8)
def _bio_legal(labels: tuple[str, ...]) -> tuple[np.ndarray, np.ndarray]:
    """(C,C) bool legality matrix + (C,) bool start-legality vector."""
    trans = bio_transitions(list(labels))
    start_ok = np.array(
        [split_label(lab)[0] != "I"
         and (lab == "O" or split_label(lab)[1] is not None)
         for lab in labels])
    return trans == 0.0, start_ok


@lru_cache(maxsize=8)
def _bio_structure(labels: tuple[str, ...]):
    """Per-label-space constants for the structured DP: the start vector,
    column groups (reachable-from-anything vs I-X), and for each I-X column
    its two legal predecessors (B-X, I-X). Built once per label space."""
    info = [split_label(lab) for lab in labels]
    valid = [lab == "O" or typ is not None
             for lab, (_, typ) in zip(labels, info)]
    idx = {lab: i for i, lab in enumerate(labels)}

    start = np.array(
        [NEG if (pre == "I" or not ok) else np.float32(0.0)
         for (pre, _), ok in zip(info, valid)],
        dtype=np.float32,
    )
    free_cols, i_cols, i_prev = [], [], []
    for ci, ((pre, typ), ok) in enumerate(zip(info, valid)):
        if not ok:
            continue  # unreachable forever
        if pre in ("O", "B") or typ is None:
            free_cols.append(ci)
        else:  # I-X: legal prevs are B-X and I-X (ci itself)
            b = idx.get(f"B-{typ}")
            if b is None:
                # no matching B label: only I-X -> I-X remains legal
                b = ci
            i_cols.append(ci)
            i_prev.append((b, ci))
    return (
        start,
        np.asarray(free_cols, dtype=np.int64),
        np.asarray(i_cols, dtype=np.int64),
        np.asarray(i_prev, dtype=np.int64).reshape(-1, 2),
    )
