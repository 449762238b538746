"""Chunker invariants — the reference enforces these at runtime
(build_finetune_jsonl.py:238-291, chunking.py:225-231,264-285); here they are
property tests over generated texts."""

import random

import pytest
from hypothesis import given, settings, strategies as st

from pii_core.chunking import Chunk, build_chunks
from pii_core.tokenizer import WordTokenizer

TOK = WordTokenizer()

WORDS = [
    "processo", "solicito", "informação", "rua", "quadra", "João-Paulo",
    "O'Neil", "apartamento", "x", "supercalifragilistico", "1234567",
    "às", "não", ".", ",", "!", "?", "\n", "   ", " ",
]


def make_text(seed: int, n: int) -> str:
    rng = random.Random(seed)
    return " ".join(rng.choice(WORDS) for _ in range(n))


def assert_invariants(text: str, chunks: list[Chunk], max_length: int):
    assert chunks, "at least one chunk"
    # only separator chars may precede the first chunk (the window starts at
    # the first token's word start); the last chunk extends to the text end
    assert text[: chunks[0].char_start].strip() == ""
    assert chunks[-1].char_end == len(text)
    for i, ch in enumerate(chunks):
        assert ch.chunk_index == i
        assert ch.text == text[ch.char_start:ch.char_end]
        assert TOK.encoded_len_with_specials(ch.text) <= max_length
    # union covers with no char gaps: each next chunk starts at or before
    # the previous end
    for prev, nxt in zip(chunks, chunks[1:]):
        assert nxt.char_start <= prev.char_end, (prev, nxt)
        assert nxt.char_start >= prev.char_start  # monotone progress


def test_empty_text():
    assert build_chunks("", TOK) == [Chunk("", 0, 0, 0)]


def test_whitespace_only_text_single_chunk():
    text = "   \n  "
    chunks = build_chunks(text, TOK, max_length=16, stride=4)
    assert chunks == [Chunk(text, 0, len(text), 0)]


def test_short_text_single_chunk_no_heuristics():
    text = "Solicito acesso ao processo 12345."
    chunks = build_chunks(text, TOK, max_length=512, stride=64)
    assert chunks == [Chunk(text, 0, len(text), 0)]


def test_bad_args():
    with pytest.raises(ValueError):
        build_chunks("abc", TOK, max_length=8)
    with pytest.raises(ValueError):
        build_chunks("abc", TOK, max_length=32, stride=30)  # stride >= budget


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("max_length,stride", [(32, 8), (64, 16), (512, 64)])
def test_invariants_random_texts(seed, max_length, stride):
    text = make_text(seed, 600)
    chunks = build_chunks(text, TOK, max_length=max_length, stride=stride)
    assert_invariants(text, chunks, max_length)
    if max_length == 32:
        assert len(chunks) > 1  # actually exercises the sliding window


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=2000))
def test_invariants_hypothesis(text):
    chunks = build_chunks(text, TOK, max_length=24, stride=6)
    if not text:
        assert chunks == [Chunk("", 0, 0, 0)]
        return
    assert_invariants(text, chunks, 24)


def test_long_words_split_mid_word():
    # 30-char words split into subword pieces: boundary backoff must realign
    # chunk ends to word boundaries while covering everything.
    text = " ".join("abcdefghijklmnopqrstuvwxyzabcd" for _ in range(100))
    chunks = build_chunks(text, TOK, max_length=32, stride=4)
    assert_invariants(text, chunks, 32)
    assert len(chunks) > 5


def test_single_giant_word_errors_like_reference():
    # a word longer than the whole window cannot fit once char_start backs up
    # to the word start — the reference raises at the hard minimum
    # (chunking.py:270-275); we preserve that fail-fast contract.
    with pytest.raises(RuntimeError):
        build_chunks("a" * 10_000, TOK, max_length=32, stride=4)


def test_hard_split_recovers_giant_word():
    # hard_split=True: the same pathological input chunks fine, all
    # invariants intact, cuts landing mid-run at exact token boundaries.
    text = "a" * 10_000
    chunks = build_chunks(text, TOK, max_length=32, stride=4, hard_split=True)
    assert_invariants(text, chunks, 32)
    # ~30 tokens x 8 chars per window over 10k chars
    assert len(chunks) > 30


def test_hard_split_mixed_content_and_default_equivalence():
    # a normal document chunks IDENTICALLY with the flag on (recovery only
    # engages where the default would raise)...
    normal = ("Primeira frase curta aqui. " * 120).strip()
    assert (build_chunks(normal, TOK, max_length=40, stride=8)
            == build_chunks(normal, TOK, max_length=40, stride=8,
                            hard_split=True))
    # ...and a doc with an embedded giant run keeps full coverage, so PII
    # after the run is still reachable
    text = ("Contato antes. " + "x" * 3000
            + " Depois do blob: maria@example.com fim da pagina.")
    with pytest.raises(RuntimeError):
        build_chunks(text, TOK, max_length=32, stride=4)
    chunks = build_chunks(text, TOK, max_length=32, stride=4, hard_split=True)
    assert_invariants(text, chunks, 32)
    joined_cover = all(
        any(c.char_start <= i < c.char_end for c in chunks)
        for i in (0, 1500, len(text) - 5))
    assert joined_cover


def test_hard_split_single_token_window_covers_separators():
    # ADVICE r2 (chunking.py hard-split recovery): with a char-costing
    # re-tokenizer (byte-level-BPE-style), a window can shrink until
    # end_tok == start_tok + 1 — a single token, so next_start == end_tok.
    # The separator BETWEEN that token and the next must then be covered by
    # the current chunk or the no-gap invariant silently breaks
    # (next.char_start > prev.char_end).
    class CharCost(WordTokenizer):
        def encoded_len_with_specials(self, text):
            return len(text) + self.num_special_tokens

    tok = CharCost(piece_len=6)
    # a 54-char run (9 pieces of 6; any two adjacent pieces bust the 9-char
    # budget -> every mid-run hard window is a single token), then a
    # 1-char separator ahead of a normal word
    text = "a" * 54 + " bbbbbb"
    chunks = build_chunks(text, tok, max_length=9, stride=0, hard_split=True)
    assert chunks[-1].char_end == len(text)
    for ch in chunks:
        assert tok.encoded_len_with_specials(ch.text) <= 9
        assert ch.text == text[ch.char_start:ch.char_end]
    for p, nx in zip(chunks, chunks[1:]):
        assert nx.char_start <= p.char_end, (p, nx)   # the no-gap invariant
        assert nx.char_start >= p.char_start
    # when the separator extension itself cannot fit the budget, the chunker
    # must fail loudly rather than silently emit a gapped chunking
    with pytest.raises(RuntimeError, match="no-gap"):
        build_chunks("a" * 54 + "    bbbbbb", tok, max_length=9, stride=0,
                     hard_split=True)


def test_hard_split_via_pipeline_extracts_after_blob():
    from pii_core.pipeline import ExtractConfig, extract_page

    html = ("<body><p>" + "z" * 3000
            + " contato maria@example.com e CPF 529.982.247-25.</p></body>"
            ).encode()
    # default: quarantine path (the chunker raises, the batch core
    # quarantines the page and extract_page re-raises it; the Spark UDF
    # writes an error row — here we assert the flag flips the outcome
    # end-to-end)
    with pytest.raises(RuntimeError):
        extract_page("u", html, None, ExtractConfig(max_length=64, stride=8))
    rec = extract_page("u", html, None,
                       ExtractConfig(max_length=64, stride=8,
                                     hard_split=True))
    types = {s["type"] for s in rec["spans"]}
    assert "CONTATO" in types and "DOC_PESSOAL" in types
    assert rec["should_be_public"] is False


@pytest.mark.parametrize("seed", range(30))
def test_hard_split_invariants_fuzz(seed):
    # adversarial mixes of giant unbroken runs, sentences and separators:
    # hard_split must preserve every chunker invariant on inputs where the
    # default mode raises.
    import random
    rng = random.Random(seed)
    parts = []
    for _ in range(rng.randrange(1, 8)):
        kind = rng.random()
        if kind < 0.4:
            parts.append("".join(rng.choice("abcxyz")
                                 for _ in range(rng.randrange(1, 2000))))
        elif kind < 0.7:
            parts.append(" ".join("palavra"
                                  for _ in range(rng.randrange(1, 30))) + ".")
        else:
            parts.append(rng.choice([" ", "\n", "!!!", ", ", " - "]))
    text = "".join(parts)
    if not text.strip():
        return
    ml = rng.choice([16, 24, 32, 64])
    chunks = build_chunks(text, TOK, max_length=ml,
                          stride=rng.randrange(0, ml - 3), hard_split=True)
    assert_invariants(text, chunks, ml)


def test_hard_split_tail_with_whitespace_costing_tokenizer():
    # Byte-level-BPE-style tokenizers charge tokens for whitespace, so the
    # last hard-split window may not afford the tail extension; the chunker
    # must shed a token and cover the tail with one more window rather than
    # leave chunks[-1].char_end short of len(text).
    class WsCost(WordTokenizer):
        def encoded_len_with_specials(self, text):
            ws = sum(1 for c in text if c.isspace())
            return len(self.encode(text)) + self.num_special_tokens + ws

    tok = WsCost()
    text = "b" * 500 + "   "
    chunks = build_chunks(text, tok, max_length=16, stride=2, hard_split=True)
    assert chunks[-1].char_end == len(text)
    for ch in chunks:
        assert tok.encoded_len_with_specials(ch.text) <= 16
        assert ch.text == text[ch.char_start:ch.char_end]
    for p, nx in zip(chunks, chunks[1:]):
        assert p.char_start <= nx.char_start <= p.char_end


def test_sentence_boundary_preferred():
    # many short sentences: every chunk should end right after a terminator
    # (except possibly the last)
    text = ("Primeira frase curta aqui. " * 200).strip()
    chunks = build_chunks(text, TOK, max_length=40, stride=8)
    assert_invariants(text, chunks, 40)
    for ch in chunks[:-1]:
        tail = ch.text.rstrip()
        assert tail.endswith("."), repr(tail[-20:])


# ---------------------------------------------------------------------------
# Slice-stable offset reuse (build_chunks_with_offsets): the arithmetic
# token-count path and the sliced per-chunk offsets must be EXACTLY what the
# honest re-tokenization path produces, on every text we can throw at it.
# ---------------------------------------------------------------------------

from pii_core.chunking import build_chunks_with_offsets  # noqa: E402


class _UnstableWrap:
    """The same tokenizer with ``slice_stable`` withheld — forces the honest
    re-tokenization path so the arithmetic path can be pinned against it."""

    def __init__(self, tok: WordTokenizer):
        self._tok = tok
        self.piece_len = tok.piece_len
        self.num_special_tokens = tok.num_special_tokens

    def encode(self, text):
        return self._tok.encode(text)

    def encoded_len_with_specials(self, text):
        return self._tok.encoded_len_with_specials(text)


def _assert_offsets_differential(text, tok=TOK, **kw):
    slow = _UnstableWrap(tok)
    try:
        fast_pairs = build_chunks_with_offsets(text, tok, **kw)
    except RuntimeError as fast_err:
        # exception parity: the honest path must refuse the same documents
        # with the same message (pathological unbroken runs, tiny budgets)
        import re
        with pytest.raises(RuntimeError, match=re.escape(str(fast_err))):
            build_chunks_with_offsets(text, slow, **kw)
        return
    slow_pairs = build_chunks_with_offsets(text, slow, **kw)
    # identical chunking decisions (the arithmetic _enc_len path vs honest
    # re-tokenization) ...
    assert [c for c, _ in fast_pairs] == [c for c, _ in slow_pairs]
    assert [c for c, _ in fast_pairs] == build_chunks(text, tok, **kw)
    # ... and identical per-chunk offsets (sliced doc scan vs re-encode).
    # Offsets may arrive as (N,2) ndarrays or lists of tuples — the
    # CONTRACT is the offset VALUES, normalized before comparing; the
    # third assert additionally pins them against the list-form encode.
    import numpy as _np
    for (ch, fast_offs), (_, slow_offs) in zip(fast_pairs, slow_pairs):
        fo = _np.asarray(fast_offs, dtype=_np.int64).reshape(-1, 2).tolist()
        so = _np.asarray(slow_offs, dtype=_np.int64).reshape(-1, 2).tolist()
        assert fo == so, ch
        assert fo == [list(t) for t in tok.encode(ch.text)], ch


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("max_length,stride", [(32, 8), (64, 16), (512, 64)])
def test_offsets_differential_random_texts(seed, max_length, stride):
    _assert_offsets_differential(make_text(seed, 600),
                                 max_length=max_length, stride=stride)


@pytest.mark.parametrize("hard_split", [False, True])
def test_offsets_differential_long_word_runs(hard_split):
    # continuation pieces + word-start backup: the exact shapes where a
    # wrong lo/hi would silently shift every downstream span
    text = " ".join("abcdefghijklmnopqrstuvwxyzabcd" for _ in range(60))
    _assert_offsets_differential(text, max_length=32, stride=4,
                                 hard_split=hard_split)


def test_offsets_differential_giant_word_hard_split():
    # mid-run piece-boundary cuts (char_start NOT at a word start)
    _assert_offsets_differential("a" * 10_000, max_length=32, stride=4,
                                 hard_split=True)
    _assert_offsets_differential("x" * 999 + " fim. " + "y" * 500,
                                 max_length=24, stride=6, hard_split=True)


@settings(max_examples=80, deadline=None)
@given(st.text(min_size=0, max_size=1500))
def test_offsets_differential_hypothesis(text):
    _assert_offsets_differential(text, max_length=24, stride=6)


@settings(max_examples=40, deadline=None)
@given(st.text(alphabet=st.characters(
    codec="utf-8", categories=("L", "N", "P", "S", "Z", "C")),
    min_size=0, max_size=800))
def test_offsets_differential_unicode_soup(text):
    # exotic whitespace/control/symbol chars: the word-class equivalence
    # (\w == isalnum or '_') and boundary math must hold across all of them
    _assert_offsets_differential(text, max_length=20, stride=5,
                                 hard_split=True)


def test_piece_len_one_and_odd_budgets():
    text = make_text(3, 400)
    tok = WordTokenizer(piece_len=1)
    # piece_len=1 at a small budget hits the hard-minimum refusal on long
    # words (exception parity asserted); hard_split exercises live offsets
    _assert_offsets_differential(text, tok=tok, max_length=16, stride=3)
    _assert_offsets_differential(text, tok=tok, max_length=16, stride=3,
                                 hard_split=True)
    tok3 = WordTokenizer(piece_len=3)
    _assert_offsets_differential(text, tok=tok3, max_length=17, stride=2)
    _assert_offsets_differential(text, tok=tok3, max_length=17, stride=2,
                                 hard_split=True)
