"""TransformerEmitter swap-in contract.

The sandbox has no torch/transformers, so the emitter interface is proven
two ways:

* a faithful FAKE fast tokenizer (WordPiece-style mid-word pieces, (0,0)
  special-token offsets, attention masks — the exact offset_mapping shape HF
  fast tokenizers emit per reference infer_pii.py:186-195) drives the real
  adapter + alignment + chunker + pipeline code paths end-to-end;
* a real-checkpoint test runs when torch/transformers are installed AND a
  checkpoint is supplied via PII_TEST_HF_MODEL (skipped otherwise).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pii_core.ner_transformer import (
    HFTokenizerAdapter,
    align_rows,
    has_transformer_deps,
)
from pii_core.pipeline import ExtractConfig, extract_document


class FakeFastTokenizer:
    """Mimics the HF fast-tokenizer surface the adapter + emitter consume:
    callable returning input_ids / offset_mapping / attention_mask,
    num_special_tokens_to_add, is_fast. WordPiece-style: words split into
    <=4-char pieces, continuation pieces starting mid-word (the ##-piece
    boundary behavior the chunker must respect)."""

    is_fast = True
    piece = 4

    def num_special_tokens_to_add(self, pair: bool = False) -> int:
        return 2

    def _pieces(self, text: str) -> list[tuple[int, int]]:
        out, i, n = [], 0, len(text)
        while i < n:
            if text[i].isspace():
                i += 1
                continue
            j = i
            while j < n and not text[j].isspace():
                j += 1
            for k in range(i, j, self.piece):
                out.append((k, min(k + self.piece, j)))
            i = j
        return out

    def __call__(self, text, add_special_tokens=False,
                 return_offsets_mapping=False, truncation=False,
                 max_length=None, return_tensors=None, padding=False):
        offs = self._pieces(text)
        if add_special_tokens:
            offs = [(0, 0)] + offs + [(0, 0)]
        if truncation and max_length is not None and len(offs) > max_length:
            offs = offs[: max_length - 1] + [(0, 0)]
        enc = {
            "input_ids": list(range(len(offs))),
            "attention_mask": [1] * len(offs),
        }
        if return_offsets_mapping:
            enc["offset_mapping"] = offs
        return enc


class FakeTransformerEmitter:
    """Replicates TransformerEmitter.__call__'s flow (encode with specials →
    per-row 'logits' → align_rows projection) without torch: the 'model'
    scores a token as NOME_PESSOA iff its chunk-text slice starts uppercase.
    """

    labels = ["O", "B-NOME_PESSOA", "I-NOME_PESSOA"]

    def __init__(self, tok: FakeFastTokenizer, max_length: int = 512):
        self._tok = tok
        self._max_length = max_length

    def __call__(self, chunk_text, offsets):
        enc = self._tok(chunk_text, add_special_tokens=True, truncation=True,
                        max_length=self._max_length,
                        return_offsets_mapping=True)
        enc_offsets = enc["offset_mapping"]
        em = np.zeros((len(enc_offsets), 3), dtype=np.float32)
        em[:, 0] = 4.0
        prev_upper = False
        for ti, (a, b) in enumerate(enc_offsets):
            if a == 0 and b == 0:
                prev_upper = False
                continue
            tok_txt = chunk_text[a:b]
            if tok_txt[:1].isupper() or (prev_upper and a > 0
                                         and not chunk_text[a - 1].isspace()):
                em[ti, 0] = 0.0
                em[ti, 2 if prev_upper else 1] = 8.0
                prev_upper = True
            else:
                prev_upper = False
        rows = align_rows(offsets, enc_offsets, enc["attention_mask"])
        return em[rows]

    def emit_batch(self, texts, offsets_list):
        return [self(t, o) for t, o in zip(texts, offsets_list)]


def test_adapter_contract():
    ad = HFTokenizerAdapter(FakeFastTokenizer())
    text = "Assinado por Robertino hoje"
    offs = ad.encode(text)
    # no specials, mid-word continuation pieces for the 9-char word
    assert (0, 0) not in offs
    assert ad.num_special_tokens == 2
    assert ad.encoded_len_with_specials(text) == len(offs) + 2
    long_word = [o for o in offs if text[o[0]:o[1]].startswith("Robe")]
    assert long_word and offs[offs.index(long_word[0]) + 1][0] == long_word[0][1]


def test_adapter_rejects_slow_tokenizer():
    class Slow:
        is_fast = False

    with pytest.raises(ValueError, match="fast"):
        HFTokenizerAdapter(Slow())


def test_align_rows_drops_specials_and_padding():
    chunk = [(0, 3), (4, 7)]
    enc = [(0, 0), (0, 3), (4, 7), (0, 0), (0, 0)]
    attn = [1, 1, 1, 1, 0]
    assert align_rows(chunk, enc, attn) == [1, 2]
    assert align_rows(chunk, enc, None) == [1, 2]


def test_align_rows_raises_on_mismatch():
    with pytest.raises(ValueError, match="misalignment"):
        align_rows([(0, 3), (4, 9)], [(0, 0), (0, 3), (4, 7), (0, 0)], None)


def test_roundtrip_through_chunker_and_pipeline():
    """Real-tokenizer-style offsets survive chunking (multi-chunk, mid-word
    pieces), mean-logit aggregation, Viterbi and span assembly: the emitted
    span's (start, end) index the ORIGINAL text exactly."""
    tok = FakeFastTokenizer()
    text = ("o requerente " * 10) + "Mariana Souza" + (" texto adicional" * 10)
    cfg = ExtractConfig(max_length=16, stride=4, boundary_backoff=4,
                        use_detectors=False)
    emitter = FakeTransformerEmitter(tok, max_length=16)
    adapter = HFTokenizerAdapter(tok)

    from pii_core.chunking import build_chunks
    chunks = build_chunks(text, adapter, max_length=16, stride=4,
                          boundary_backoff=4)
    assert len(chunks) > 1  # must actually exercise the overlap machinery

    spans, public = extract_document(text, cfg, emitter, adapter)
    named = [s for s in spans if s.type == "NOME_PESSOA"]
    assert named, "expected the capitalized name to surface as a span"
    got = text[named[0].start:named[0].end]
    assert got.startswith("Mariana")
    assert not public


class _SpyBatchEmitter:
    """Wraps an emitter, recording emit_batch group sizes."""

    def __init__(self, inner):
        self._inner = inner
        self.labels = inner.labels
        self.batch_sizes: list[int] = []

    def __call__(self, text, offsets):
        return self._inner(text, offsets)

    def emit_batch(self, texts, offsets_list):
        self.batch_sizes.append(len(texts))
        return [self._inner(t, o) for t, o in zip(texts, offsets_list)]


@pytest.mark.parametrize("aggregate", ["mean_logits", "none"])
def test_batched_emission_identical_to_per_chunk(aggregate):
    """Micro-batching chunks through emit_batch (reference --batch_size)
    must be byte-identical to one-chunk forward passes (batch_size=1), and
    must respect the configured group size."""
    from pii_core.ner_stub import StubEmitter
    from pii_core.tokenizer import WordTokenizer

    text = ("Sr. Carlos Pereira mora na Rua das Flores, 123. " * 20)
    tok = WordTokenizer()
    base = dict(max_length=48, stride=8, boundary_backoff=8,
                aggregate=aggregate, use_detectors=False)

    unbatched = extract_document(
        text, ExtractConfig(**base, batch_size=1), StubEmitter(), tok)
    spy = _SpyBatchEmitter(StubEmitter())
    batched = extract_document(
        text, ExtractConfig(**base, batch_size=3), spy, tok)
    assert batched == unbatched
    assert spy.batch_sizes and max(spy.batch_sizes) <= 3
    assert sum(spy.batch_sizes) > 3  # multiple groups actually formed


def test_fake_transformer_padded_batch_alignment():
    """Padded batch: rows of different lengths share one forward pass; each
    row's logits project back onto its own offsets."""
    tok = FakeFastTokenizer()
    em = FakeTransformerEmitter(tok, max_length=64)
    short, long = "Ana Lima", "o requerente compareceu com Bruno Castro hoje"
    adapter = HFTokenizerAdapter(tok)
    o1, o2 = adapter.encode(short), adapter.encode(long)
    r1, r2 = em.emit_batch([short, long], [o1, o2])
    assert r1.shape == (len(o1), 3) and r2.shape == (len(o2), 3)
    np.testing.assert_array_equal(r1, em(short, o1))
    np.testing.assert_array_equal(r2, em(long, o2))


def test_default_config_keeps_stub_path():
    from pii_core.ner_stub import StubEmitter
    from pii_core.tokenizer import WordTokenizer

    emitter, tokenizer = ExtractConfig().make_emitter_and_tokenizer()
    assert isinstance(emitter, StubEmitter)
    assert isinstance(tokenizer, WordTokenizer)


def test_load_transformer_emitter_errors_without_deps():
    if has_transformer_deps():
        pytest.skip("torch installed — covered by the real-checkpoint test")
    from pii_core.ner_transformer import load_transformer_emitter

    with pytest.raises(ImportError, match="torch"):
        load_transformer_emitter("any/checkpoint")


@pytest.mark.skipif(
    not (has_transformer_deps() and os.environ.get("PII_TEST_HF_MODEL")),
    reason="needs torch+transformers and PII_TEST_HF_MODEL checkpoint",
)
def test_real_checkpoint_roundtrip():
    """With a real HF token-classification checkpoint: the emitter's logits
    align 1:1 with the adapter's offsets through the full pipeline."""
    from pii_core.ner_transformer import load_transformer_emitter

    emitter = load_transformer_emitter(os.environ["PII_TEST_HF_MODEL"])
    adapter = emitter.tokenizer_adapter
    text = "Contato da requerente Maria Alves, processo em tramite."
    offs = adapter.encode(text)
    em = emitter(text, offs)
    assert em.shape == (len(offs), len(emitter.labels))
    assert em.dtype == np.float32
    cfg = ExtractConfig(model_path=os.environ["PII_TEST_HF_MODEL"],
                        use_detectors=False)
    spans, _public = extract_document(text, cfg, emitter, adapter)
    for s in spans:
        assert 0 <= s.start < s.end <= len(text)
