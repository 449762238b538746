"""Per-document extraction: the executable spec for ``pii_core.pipeline``.

The reference inference path for one document (``infer_pii.py:137-313``),
written the plain way:

* one emitter call per chunk (no forward groups, no ``emit_batch``);
* mean logits by a per-token dict accumulation in chunk order
  (``infer_pii.py:209-235``);
* the single-sequence ``viterbi_bio`` (or argmax) decode;
* the per-token span state machine (``oracles.spans``).

It shares none of the production loop's fast paths — cross-document forward
groups, the single-chunk and trusted-offsets shortcuts, the packed
``np.unique`` accumulation, vectorized span building — so
parity tests against it check each of them. Payload sniffing, chunking,
detectors, filtering and merging are single-implementation stages and are
called from production as they are.
"""

from __future__ import annotations

import numpy as np

from pii_core.chunking import build_chunks_with_offsets
from pii_core.decoding import viterbi_bio
from pii_core.detectors import detect_spans
from pii_core.labels import PII_TYPES
from pii_core.ner_stub import StubEmitter
from pii_core.pipeline import (
    ExtractConfig,
    _label_ctx,
    _page_record,
    _payload_to_text,
)
from pii_core.spans import Span, filter_spans, merge_and_resolve

from .spans import spans_from_bio_py


def mean_logits(items) -> tuple[list[tuple[int, int]], np.ndarray]:
    """(sorted global keys, (K,C) fp32 mean logits) from one document's
    (chunk, local offsets, emissions) in chunk order. Empty tokens
    (start >= end, e.g. (0,0) specials) carry no key."""
    acc: dict[tuple[int, int], list] = {}
    n_classes = 0
    for ch, offs, em in items:
        em = np.asarray(em, dtype=np.float32)
        if len(offs) != em.shape[0]:
            raise ValueError(
                f"chunk offsets/emissions mismatch: {len(offs)} vs "
                f"{em.shape[0]}")
        n_classes = em.shape[1]
        for (a, b), row in zip(offs, em):
            key = (int(a) + ch.char_start, int(b) + ch.char_start)
            if key[0] >= key[1]:
                continue
            slot = acc.setdefault(key, [np.zeros(n_classes, np.float32), 0])
            slot[0] += row
            slot[1] += 1
    keys = sorted(acc)
    rows = [acc[k][0] / np.float32(acc[k][1]) for k in keys]
    return keys, np.array(rows, dtype=np.float32).reshape(len(keys),
                                                          n_classes)


def _decode(keys, em, cfg: ExtractConfig, ctx) -> list[Span]:
    labels, _l2i, id2label, o_id = ctx
    if cfg.decode == "bio_viterbi":
        pred = viterbi_bio(em, labels, o_id)
    else:
        pred = [int(x) for x in np.argmax(em, axis=-1)]
    return filter_spans(
        spans_from_bio_py(keys, pred, np.asarray(em), id2label,
                          cfg.conf_agg),
        conf_threshold=cfg.conf_threshold,
        conf_threshold_by_type=cfg.conf_threshold_by_type,
        min_span_tokens=cfg.min_span_tokens,
        min_span_tokens_by_type=cfg.min_span_tokens_by_type,
    )


def ner_spans(text: str, cfg: ExtractConfig, emitter, tokenizer) -> list[Span]:
    ctx = _label_ctx(emitter)
    pairs = build_chunks_with_offsets(
        text, tokenizer, max_length=cfg.max_length, stride=cfg.stride,
        boundary_backoff=cfg.boundary_backoff, hard_split=cfg.hard_split)
    items = [(ch, [(int(a), int(b)) for a, b in offs],
              emitter(ch.text, offs))
             for ch, offs in pairs if len(offs)]
    if cfg.aggregate == "mean_logits":
        keys, em = mean_logits(items)
        return _decode(keys, em, cfg, ctx) if keys else []
    # aggregate == "none": decode each chunk alone, shift to global offsets
    # (reference infer_pii.py:237-275)
    out: list[Span] = []
    for ch, offs, em in items:
        out.extend(s._replace(start=s.start + ch.char_start,
                              end=s.end + ch.char_start)
                   for s in _decode(offs, em, cfg, ctx))
    return out


def extract_document(text, cfg: ExtractConfig | None = None, emitter=None,
                     tokenizer=None) -> tuple[list[Span], bool]:
    """(merged spans, should_be_public) for plain text; no size cap."""
    cfg = cfg or ExtractConfig()
    if not isinstance(text, str) or not text:
        return [], True
    spans = []
    if cfg.use_ner:
        spans = ner_spans(
            text, cfg, StubEmitter() if emitter is None else emitter,
            cfg.make_tokenizer() if tokenizer is None else tokenizer)
    if cfg.use_detectors:
        spans += detect_spans(text)
    merged = merge_and_resolve(spans, resolve_overlaps=cfg.resolve_overlaps)
    return merged, not any(s.type in PII_TYPES for s in merged)


def extract_page(url, html, text, cfg: ExtractConfig | None = None,
                 emitter=None, tokenizer=None) -> dict:
    """The page record ``pii_core.pipeline.extract_page_batch`` must return
    for this row; raises where that call returns the page's Exception."""
    cfg = cfg or ExtractConfig()
    extracted = _payload_to_text(html, text, cfg.max_doc_bytes)
    spans, public = extract_document(extracted, cfg, emitter, tokenizer)
    return _page_record(url, extracted, spans, public)
