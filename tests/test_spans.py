"""Span state machine, filter, merge, resolve, gold spans — golden cases
mirroring reference spans.py semantics."""

import numpy as np
import pytest

from pii_core.labels import label_maps
from pii_core.spans import (
    Span,
    filter_spans,
    gold_spans,
    literal_occurrences,
    looks_like_company_id,
    merge_and_resolve,
    merge_same_type,
    resolve_cross_type,
    spans_from_bio,
)

L2I, I2L = label_maps()


def run_machine(seq, conf_agg="mean"):
    """seq: list of (a, b, label_str). Logits: predicted id gets 5, rest 0."""
    offsets = [(a, b) for a, b, _ in seq]
    pred = [L2I[lab] for _, _, lab in seq]
    logits = np.zeros((len(seq), len(L2I)), dtype=np.float32)
    for i, p in enumerate(pred):
        logits[i, p] = 5.0
    return spans_from_bio(offsets, pred, logits, I2L, conf_agg)


def test_simple_b_i_span():
    got = run_machine([(0, 4, "B-NOME_PESSOA"), (5, 10, "I-NOME_PESSOA"), (11, 12, "O")])
    assert len(got) == 1
    s = got[0]
    assert (s.start, s.end, s.type, s.n_tokens) == (0, 10, "NOME_PESSOA", 2)


def test_orphan_I_starts_new_span():
    got = run_machine([(0, 3, "O"), (4, 8, "I-CONTATO")])
    assert [(s.start, s.end, s.type) for s in got] == [(4, 8, "CONTATO")]


def test_type_switch_inside_I_run():
    got = run_machine([(0, 3, "B-CONTATO"), (4, 8, "I-ENDERECO")])
    assert [(s.start, s.end, s.type) for s in got] == [(0, 3, "CONTATO"), (4, 8, "ENDERECO")]


def test_B_after_B_flushes():
    got = run_machine([(0, 3, "B-CONTATO"), (4, 8, "B-CONTATO")])
    assert [(s.start, s.end) for s in got] == [(0, 3), (4, 8)]


def test_special_token_flushes():
    got = run_machine([(1, 3, "B-CONTATO"), (0, 0, "I-CONTATO"), (5, 8, "I-CONTATO")])
    assert [(s.start, s.end) for s in got] == [(1, 3), (5, 8)]


def test_conf_agg_mean_vs_min():
    seq = [(0, 4, "B-NOME_PESSOA"), (5, 10, "I-NOME_PESSOA")]
    mean_s = run_machine(seq, "mean")[0]
    min_s = run_machine(seq, "min")[0]
    assert mean_s.conf == pytest.approx(min_s.conf)  # identical logits here
    with pytest.raises(ValueError):
        run_machine(seq, "median")


def test_filter_thresholds_and_overrides():
    spans = [
        Span(0, 5, "NOME_PESSOA", 0.6, 2),
        Span(6, 9, "CONTATO", 0.4, 1),
        Span(10, 20, "ENDERECO", 0.9, 1),
    ]
    got = filter_spans(spans, conf_threshold=0.5)
    assert [s.type for s in got] == ["NOME_PESSOA", "ENDERECO"]
    got = filter_spans(spans, conf_threshold=0.5,
                       conf_threshold_by_type={"CONTATO": 0.3})
    assert len(got) == 3
    got = filter_spans(spans, min_span_tokens=2)
    assert [s.type for s in got] == ["NOME_PESSOA"]
    got = filter_spans(spans, min_span_tokens=2,
                       min_span_tokens_by_type={"ENDERECO": 1})
    assert [s.type for s in got] == ["NOME_PESSOA", "ENDERECO"]
    # 0 thresholds disable (reference defaults)
    assert filter_spans(spans, conf_threshold=0.0, min_span_tokens=0) == spans


def test_merge_same_type_overlap_and_touch():
    spans = [
        Span(0, 5, "CONTATO", 0.5, 1),
        Span(5, 9, "CONTATO", 0.9, 2),   # touching -> merge
        Span(20, 30, "CONTATO", 0.7, 3),
        Span(25, 28, "CONTATO", 0.6, 1),  # contained -> merge
        Span(2, 7, "ENDERECO", 0.8, 1),   # other type untouched
    ]
    got = merge_same_type(spans)
    assert got == [
        Span(0, 9, "CONTATO", 0.9, 3),
        Span(2, 7, "ENDERECO", 0.8, 1),
        Span(20, 30, "CONTATO", 0.7, 4),
    ]


def test_resolve_cross_type_keeps_higher_conf():
    spans = [Span(0, 10, "CONTATO", 0.8, 2), Span(5, 12, "ENDERECO", 0.9, 2)]
    assert resolve_cross_type(spans) == [Span(5, 12, "ENDERECO", 0.9, 2)]
    spans = [Span(0, 10, "CONTATO", 0.9, 2), Span(5, 12, "ENDERECO", 0.8, 2)]
    assert resolve_cross_type(spans) == [Span(0, 10, "CONTATO", 0.9, 2)]


def test_resolve_tie_prefers_longer():
    spans = [Span(0, 10, "CONTATO", 0.8, 2), Span(5, 20, "ENDERECO", 0.8, 2)]
    assert resolve_cross_type(spans) == [Span(5, 20, "ENDERECO", 0.8, 2)]
    # equal conf, equal length -> first (left) wins
    spans = [Span(0, 10, "CONTATO", 0.8, 2), Span(5, 15, "ENDERECO", 0.8, 2)]
    assert resolve_cross_type(spans) == [Span(0, 10, "CONTATO", 0.8, 2)]


def test_resolve_winner_replaces_prev_greedy():
    # order-sensitive: the winner replaces out[-1]; a third span overlapping
    # the loser but not the winner survives (reference spans.py:300-324)
    spans = [
        Span(0, 10, "CONTATO", 0.5, 1),
        Span(8, 12, "ENDERECO", 0.9, 1),   # beats first, replaces it
        Span(11, 15, "NOME_PESSOA", 0.1, 1),  # overlaps winner -> dropped
    ]
    assert resolve_cross_type(spans) == [Span(8, 12, "ENDERECO", 0.9, 1)]


def test_merge_and_resolve_no_resolve_flag():
    spans = [Span(0, 10, "CONTATO", 0.5, 1), Span(5, 12, "ENDERECO", 0.9, 1)]
    got = merge_and_resolve(spans, resolve_overlaps=False)
    assert len(got) == 2


def test_literal_occurrences_non_overlapping():
    assert literal_occurrences("ababab", "abab") == [(0, 4)]
    assert literal_occurrences("xx yy xx", "xx") == [(0, 2), (6, 8)]
    assert literal_occurrences("abc", "zz") == []


def test_looks_like_company_id():
    assert looks_like_company_id("11.222.333/0001-81")
    assert looks_like_company_id("110.042.490.114")
    assert not looks_like_company_id("ABC-1234")
    assert not looks_like_company_id("12345")  # < 6 digits
    assert not looks_like_company_id("11 222")  # whitespace


def test_gold_spans_longest_first_nonoverlap():
    text = "contato: maria@x.com ou maria@x.com.br fim"
    ents = [
        {"type": "CONTATO", "value": "maria@x.com"},
        {"type": "CONTATO", "value": "maria@x.com.br"},
    ]
    got = gold_spans(text, ents)
    # the longer value wins where they overlap; the standalone short one stays
    assert [(s.start, s.end) for s in got] == [(9, 20), (24, 38)]


def test_gold_spans_sanitize_and_migrate():
    text = "Empresa com CNPJ 11.222.333/0001-81 citada no processo."
    ents = [{"type": "ORG_JURIDICA", "value": "11.222.333/0001-81"}]
    got = gold_spans(text, ents)
    assert [s.type for s in got] == ["DOC_EMPRESA"]  # migration shim

    text2 = "Processo SEI nº 12345/2023 em andamento."
    got2 = gold_spans(text2, [{"type": "ID_PROCESSUAL", "value": "SEI nº 12345/2023"}])
    assert [(text2[s.start:s.end]) for s in got2] == ["12345/2023"]


def test_gold_spans_validation_errors():
    with pytest.raises(ValueError):
        gold_spans("abc", [{"type": "CONTATO", "value": "zzz"}])  # not in text
    with pytest.raises(ValueError):
        gold_spans("abc", [{"type": "NOPE", "value": "abc"}])
    with pytest.raises(ValueError):
        gold_spans("abc", [{"type": "CONTATO", "value": "abc", "x": 1}])


def test_spans_from_bio_vectorized_matches_state_machine():
    """The NumPy-vectorized spans_from_bio must be BIT-identical (confs
    included) to the original per-token state machine (spans_from_bio_py in
    tests/oracles/spans.py, the reference spans.py:138-245 oracle) — across tie-heavy logits,
    out-of-range/negative ids, malformed labels, (0,0) offsets, zero-length
    offsets, and both conf aggregations."""
    import random

    import numpy as np

    from oracles.spans import spans_from_bio_py
    from pii_core.spans import spans_from_bio

    rng = random.Random(7)
    labels = ["O", "B-NOME_PESSOA", "I-NOME_PESSOA", "B-CONTATO",
              "I-CONTATO", "B-ENDERECO", "I-ENDERECO", "BAD", "I-", "B-X"]
    id2label = {i: lab for i, lab in enumerate(labels)}
    npr = np.random.RandomState(3)
    for _trial in range(800):
        t = rng.randrange(0, 40)
        offsets, pos = [], 0
        for _ in range(t):
            if rng.random() < 0.1:
                offsets.append((0, 0))
            else:
                ln = rng.randrange(0, 6)
                offsets.append((pos, pos + ln))
                pos += ln + 1
        pred_ids = [rng.randrange(-1, len(labels) + 2) for _ in range(t)]
        logits = (npr.randn(t, len(labels))
                  * rng.choice([0.1, 1, 10, 100])).astype(np.float32)
        agg = rng.choice(["mean", "min"])
        assert (spans_from_bio(offsets, pred_ids, logits, id2label, agg)
                == spans_from_bio_py(offsets, pred_ids, logits, id2label,
                                     agg))
