"""Hypothesis property tests over pii_core: robustness on adversarial
inputs and algorithmic invariants that the golden suites can't enumerate."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from pii_core.decoding import NEG, bio_transitions, split_label, viterbi_bio
from pii_core.html_extract import html_to_text
from pii_core.labels import bio_label_space
from pii_core.pipeline import extract_document
from pii_core.spans import Span, merge_and_resolve

LABELS = bio_label_space()
O_ID = LABELS.index("O")


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=400))
def test_html_to_text_never_raises_and_is_deterministic(s):
    a = html_to_text(s)
    assert a == html_to_text(s)
    assert isinstance(a, str)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400))
def test_html_to_text_bytes_never_raises(b):
    assert isinstance(html_to_text(b), str)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=400).filter(lambda s: "<" not in s and "&" not in s))
def test_html_tag_free_fast_path_matches_parser(s):
    # The fast path must be byte-identical to the full HTMLParser path for
    # every tag-free, entity-free input (the only inputs it handles).
    from oracles.html_extract import html_to_text_parsed

    if not s.strip():
        return
    assert html_to_text(s) == html_to_text_parsed(s)


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=300))
def test_extract_document_never_raises(s):
    spans, public = extract_document(s)
    for sp in spans:
        assert 0 <= sp.start < sp.end <= len(s)
    keys = [(sp.start, sp.end, sp.type) for sp in spans]
    assert keys == sorted(keys)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(1, 7).flatmap(
        lambda t: st.lists(
            st.lists(st.floats(-5, 5, width=32), min_size=len(LABELS),
                     max_size=len(LABELS)),
            min_size=t, max_size=t,
        )
    )
)
def test_viterbi_path_always_bio_legal(rows):
    em = np.asarray(rows, dtype=np.float32)
    path = viterbi_bio(em, LABELS, O_ID)
    assert len(path) == em.shape[0]
    trans = bio_transitions(LABELS)
    # start constraint: never I-* first
    assert split_label(LABELS[path[0]])[0] != "I"
    for p, c in zip(path, path[1:]):
        assert trans[p, c] == 0.0, (LABELS[p], LABELS[c])


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(1, 15),
                  st.sampled_from(["CONTATO", "NOME_PESSOA", "ENDERECO"]),
                  st.floats(0.1, 1.0)),
        max_size=12,
    )
)
def test_merge_and_resolve_invariants(raw):
    spans = [Span(a, a + ln, t, c, 1) for a, ln, t, c in raw]
    out = merge_and_resolve(spans)
    keys = [(s.start, s.end, s.type) for s in out]
    assert keys == sorted(keys)
    for x, y in zip(out, out[1:]):
        assert x.end <= y.start  # fully resolved: no overlaps remain
    # idempotent
    assert merge_and_resolve(out) == out


def _brute_force_viterbi(em, labels, o_id):
    """Exhaustive best-legal-path search (tiny T, C) with the same
    tie-break as the DP: lexicographically-first among max-score paths."""
    import itertools

    trans = bio_transitions(labels)
    start_ok = [split_label(lab)[0] != "I"
                and (lab == "O" or split_label(lab)[1] is not None)
                for lab in labels]
    t, c = em.shape
    best_score, best_path = None, None
    for path in itertools.product(range(c), repeat=t):
        if not start_ok[path[0]]:
            continue
        if any(trans[p, q] != 0.0 for p, q in zip(path, path[1:])):
            continue
        score = float(sum(em[i, p] for i, p in enumerate(path)))
        if best_score is None or score > best_score + 1e-6:
            best_score, best_path = score, path
    return best_score, best_path


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 5).flatmap(
        lambda t: st.lists(
            st.lists(st.integers(-40, 40).map(lambda v: v / 4.0),
                     min_size=5, max_size=5),
            min_size=t, max_size=t,
        )
    )
)
def test_viterbi_matches_brute_force_score(rows):
    """On a reduced 5-label space (O, B-A, I-A, B-B, I-B) the DP (including
    the argmax shortcut) must attain exactly the brute-force optimal score.
    Quarter-integer emissions make score comparison exact in fp32."""
    labels = ["O", "B-A", "I-A", "B-B", "I-B"]
    em = np.asarray(rows, dtype=np.float32)
    path = viterbi_bio(em, labels, 0)
    got = float(sum(em[i, p] for i, p in enumerate(path)))
    best, _ = _brute_force_viterbi(em, labels, 0)
    assert got == best, (path, got, best)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.integers(0, 6).flatmap(
            lambda t: st.lists(
                st.lists(st.integers(-40, 40).map(lambda v: v / 4.0),
                         min_size=5, max_size=5),
                min_size=t, max_size=t,
            )
        ),
        min_size=0, max_size=8,
    )
)
def test_viterbi_batch_matches_single_and_brute_force(seqs):
    """viterbi_bio_batch must return element-identical paths to per-sequence
    viterbi_bio on arbitrary mixed-length batches (quarter-integer emissions
    tie CONSTANTLY — the tie-break-sensitive regime), and each path must
    attain the brute-force optimal score."""
    from pii_core.decoding import viterbi_bio_batch

    labels = ["O", "B-A", "I-A", "B-B", "I-B"]
    ems = [np.asarray(rows, dtype=np.float32).reshape(-1, 5)
           for rows in seqs]
    want = [viterbi_bio(e, labels, 0) for e in ems]
    got = viterbi_bio_batch(ems, labels, 0)
    assert got == want
    for e, path in zip(ems, got):
        if e.shape[0] == 0:
            continue
        score = float(sum(e[i, p] for i, p in enumerate(path)))
        best, _ = _brute_force_viterbi(e, labels, 0)
        assert score == best


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_scanner_matches_htmlparser_oracle_on_any_text(s):
    """The production single-pass scanner must agree with the HTMLParser
    oracle path on ARBITRARY unicode (markup-ish or not), including the
    exception outcome — hypothesis explores what the seeded fuzz suites
    cannot."""
    from oracles.html_extract import ContentParser

    from pii_core.html_extract import _keep_blocks, _scan_blocks

    try:
        got = _keep_blocks(_scan_blocks(s))
    except Exception as e:  # noqa: BLE001 — exception parity asserted below
        got = ("RAISE", type(e).__name__)
    p = ContentParser()
    try:
        p.feed(s)
        p.close()
        want = _keep_blocks([(b.tag, b.parts, b.link_chars)
                             for b in p.blocks])
    except Exception as e:  # noqa: BLE001
        want = ("RAISE", type(e).__name__)
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.text(
    alphabet=st.sampled_from(list("<>/!?&;#abAB='\"[] \n-xX.1\x00ç\x85")),
    max_size=200))
def test_scanner_matches_htmlparser_oracle_on_markup_soup(s):
    test_scanner_matches_htmlparser_oracle_on_any_text.hypothesis.inner_test(s)  # noqa: E501
