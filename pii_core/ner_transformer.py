"""Real transformer NER emitter (optional — requires torch + transformers).

Re-expresses the reference's batched BERT token-classification forward pass
(/root/reference/infer_pii.py:180-201) behind the engine's pluggable Emitter
contract: ``(chunk_text, offsets) -> (T, C) float32 logits`` with a
``.labels`` attribute. Two pieces:

* ``HFTokenizerAdapter`` — wraps a HuggingFace *fast* tokenizer into the
  interface the chunker and pipeline consume (``encode`` returning char
  offsets without specials, ``num_special_tokens``,
  ``encoded_len_with_specials``; reference offset source:
  infer_pii.py:186-195 ``return_offsets_mapping=True``). With this adapter
  the chunker budgets against the REAL WordPiece piece count, so no chunk
  ever truncates inside the model call.
* ``TransformerEmitter`` — loads ``AutoModelForTokenClassification`` + the
  fast tokenizer ONCE at construction (the per-executor "model load" slot in
  pii_spark.extract._extract_batches), then per chunk re-encodes WITH
  specials, runs the forward pass, and returns the logit rows aligned to the
  adapter's offsets via ``align_rows``.

The alignment step is the deployment-parity risk this module exists to
close: HF fast tokenizers emit special tokens as (0, 0) offset pairs and may
pad, so the (T', C) model output must be projected onto the T content tokens
the pipeline keyed its offsets by. ``align_rows`` is pure (no torch) and
unit-tested against both a faithful fake fast-tokenizer and — when torch is
installed — a real checkpoint.

This module imports cleanly without torch/transformers; only constructing
``TransformerEmitter`` (or calling ``load_transformer_emitter``) requires
them.
"""

from __future__ import annotations

import importlib.util

import numpy as np


def has_transformer_deps() -> bool:
    """True iff torch + transformers are importable (not shipped in the
    sandbox; real deployments install them)."""
    return (importlib.util.find_spec("torch") is not None
            and importlib.util.find_spec("transformers") is not None)


def align_rows(
    chunk_offsets: list[tuple[int, int]],
    enc_offsets: list[tuple[int, int]],
    attention_mask: list[int] | None = None,
) -> list[int]:
    """Indices into the model's (T', C) logit rows matching, in order, the
    T content-token offsets the pipeline passed in.

    ``enc_offsets`` is the with-specials encoding's offset_mapping: special
    tokens are (0, 0) (reference skips them at infer_pii.py:214-216), padded
    positions have attention_mask == 0. The surviving rows must equal
    ``chunk_offsets`` exactly — the chunker already budgeted with the same
    tokenizer via ``encoded_len_with_specials``, so a mismatch means the two
    encodings diverged (e.g. truncation) and is a hard error, never silently
    misaligned spans.
    """
    rows = [
        ti for ti, (a, b) in enumerate(enc_offsets)
        if not (a == 0 and b == 0)
        and (attention_mask is None or attention_mask[ti])
    ]
    got = [tuple(enc_offsets[ti]) for ti in rows]
    want = [tuple(o) for o in chunk_offsets]
    if got != want:
        raise ValueError(
            f"offset misalignment: encoder produced {len(got)} content "
            f"tokens, pipeline expected {len(want)} "
            f"(first diff at {next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), min(len(got), len(want)))})"
        )
    return rows


class HFTokenizerAdapter:
    """HF fast tokenizer → the WordTokenizer contract (chunking.py:123-181
    consumes exactly: encode, num_special_tokens,
    encoded_len_with_specials)."""

    def __init__(self, hf_tokenizer):
        if not getattr(hf_tokenizer, "is_fast", False):
            raise ValueError(
                "a *fast* tokenizer is required for offset_mapping "
                "(reference infer_pii.py:519-521)")
        self._tok = hf_tokenizer
        self.num_special_tokens = int(
            hf_tokenizer.num_special_tokens_to_add(pair=False))

    def encode(self, text: str) -> list[tuple[int, int]]:
        enc = self._tok(text, add_special_tokens=False,
                        return_offsets_mapping=True)
        return [(int(a), int(b)) for a, b in enc["offset_mapping"]]

    def encoded_len_with_specials(self, text: str) -> int:
        return len(self._tok(text, add_special_tokens=True)["input_ids"])


class TransformerEmitter:
    """Emitter backed by a real token-classification checkpoint.

    Construct once per executor partition (pii_spark.extract swaps it for
    StubEmitter via ExtractConfig); call per chunk. The forward pass mirrors
    /root/reference/infer_pii.py:180-201: encode with specials +
    offset_mapping, no_grad forward, logits to fp32 numpy, specials/padding
    rows dropped via ``align_rows``.
    """

    def __init__(self, model_name_or_path: str, device: str = "cpu",
                 max_length: int = 512):
        import torch  # noqa: PLC0415 — optional dep, load-once slot
        from transformers import (  # noqa: PLC0415
            AutoModelForTokenClassification,
            AutoTokenizer,
        )

        self._torch = torch
        self._tok = AutoTokenizer.from_pretrained(model_name_or_path,
                                                  use_fast=True)
        self._model = AutoModelForTokenClassification.from_pretrained(
            model_name_or_path).to(device).eval()
        self._device = device
        self._max_length = int(max_length)
        id2label = self._model.config.id2label
        self.labels = [id2label[i] for i in range(len(id2label))]
        self.tokenizer_adapter = HFTokenizerAdapter(self._tok)

    def __call__(self, chunk_text: str,
                 offsets: list[tuple[int, int]]) -> np.ndarray:
        return self.emit_batch([chunk_text], [offsets])[0]

    def emit_batch(
        self,
        texts: list[str],
        offsets_list: list[list[tuple[int, int]]],
    ) -> list[np.ndarray]:
        """One padded forward pass over a chunk batch (the reference's
        batched inference, infer_pii.py:180-201: offset_mapping per row,
        attention mask distinguishes padding). Each row is projected onto
        its content tokens via ``align_rows``.

        Padding policy and determinism: every batch pads to the FIXED
        ``max_length`` width, so a chunk's logits do not depend on which
        neighbors happen to share its batch — required for the engine's
        partition-count-invariance contract, because pii_core.pipeline
        batches chunks across documents (kernel shapes vary with
        pad-to-longest, and fp32 reductions vary with shape). The cost is
        wasted FLOPs on short chunks, against the reference's own
        pad-to-longest (``padding=True``). Residual caveat: nondeterministic
        GPU kernels need ``torch.use_deterministic_algorithms(True)`` for
        strict parity."""
        enc = self._tok(
            list(texts),
            add_special_tokens=True,
            truncation=True,
            max_length=self._max_length,
            padding="max_length",
            return_offsets_mapping=True,
            return_tensors="pt",
        )
        offs_batch = enc.pop("offset_mapping").tolist()
        attn = enc.get("attention_mask")
        attn_batch = attn.tolist() if attn is not None else None
        enc = {k: v.to(self._device) for k, v in enc.items()}
        with self._torch.no_grad():
            logits = self._model(**enc).logits  # (B, T', C)
        em = logits.detach().to("cpu").numpy().astype(np.float32, copy=False)
        out = []
        for bi, offsets in enumerate(offsets_list):
            enc_offsets = [(int(a), int(b)) for a, b in offs_batch[bi]]
            attn_list = ([int(x) for x in attn_batch[bi]]
                         if attn_batch is not None else None)
            rows = align_rows(offsets, enc_offsets, attn_list)
            out.append(em[bi][rows])
        return out


def load_transformer_emitter(model_name_or_path: str, device: str = "cpu",
                             max_length: int = 512) -> TransformerEmitter:
    """Load the real emitter, with a clear error when the optional deps are
    missing (the sandbox default — StubEmitter remains the hermetic path)."""
    if not has_transformer_deps():
        raise ImportError(
            "TransformerEmitter requires torch and transformers; install "
            "them or use pii_core.ner_stub.StubEmitter")
    return TransformerEmitter(model_name_or_path, device=device,
                              max_length=max_length)
