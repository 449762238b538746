"""Extraction pipeline: one batch core behind every entry point.

``extract_page_batch`` (the Spark UDF's call), ``extract_page`` and
``extract_document`` all run the same batch loop; the two per-document
entry points are one-record calls into it. The loop batches only the
emitter's forward passes (one call form, ``emit_batch``, across document
boundaries); each document is decoded and finalized on its own, as soon as
its last chunk's emissions arrive, like the reference. The per-document
executable spec this loop is checked against lives in
``tests/oracles/pipeline.py``.

Chains the full reference inference path (``infer_pii.py:137-313``) plus the
north-rule stages:

    html -> main-content text      [NORTH, html_extract.py]
    text -> chunks                 (chunking.py; reference chunking.py:144-301)
    chunk -> NER emissions         (pluggable emitter; reference infer_pii.py:180-201)
    emissions -> mean-logit agg    keyed by global char offsets
                                   (reference infer_pii.py:209-235,277-310)
    -> BIO Viterbi decode          (reference decoding.py:124-187)
    -> scored spans -> filter      (reference spans.py:138-269)
    + regex detector spans         [NORTH, detectors.py]
    -> merge same-type + resolve cross-type (reference spans.py:272-324)
    -> should_be_public = not any(span.type in PII_TYPES)
                                   (reference infer_pii.py:553-569,674)

Determinism contract: for a fixed config the output is a pure function of the
input bytes — fp32 sums accumulate in chunk order, which is fixed per document
and never split across Spark partitions, so results are bit-identical at any
partition count / cluster size.

Defaults mirror the reference CLI (infer_pii.py:359-438): max_length=512,
stride=64, boundary_backoff=32, decode=bio_viterbi, aggregate=mean_logits,
conf_threshold=0 (disabled), conf_agg=mean, min_span_tokens=0,
resolve_overlaps=True.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from pii_core.chunking import ChunkingConfigError, build_chunks_with_offsets
# viterbi_bio is unused here; perfbench's traced run wraps it by this name
from pii_core.decoding import viterbi_bio, viterbi_bio_batch  # noqa: F401
from pii_core.detectors import detect_spans
from pii_core.html_extract import html_to_text_strict
from pii_core.labels import PII_TYPES, label_maps
from pii_core.pdf_extract import looks_like_pdf, pdf_to_text_strict
from pii_core.ner_stub import StubEmitter
from pii_core.spans import Span, filter_spans, merge_and_resolve, spans_from_bio
from pii_core.tokenizer import WordTokenizer

# The pipeline calls an emitter only as ``emit_batch(texts, offsets_list)``
# (one (T,C) array per chunk; optional ``labels`` name its label space).
# The alias is the per-chunk call the oracle uses; both emitters offer it.
Emitter = Callable[[str, list[tuple[int, int]]], np.ndarray]


@dataclass(frozen=True)
class ExtractConfig:
    max_length: int = 512
    stride: int = 64
    boundary_backoff: int = 32
    decode: str = "bio_viterbi"            # bio_viterbi | argmax
    aggregate: str = "mean_logits"         # mean_logits | none
    conf_threshold: float = 0.0
    conf_threshold_by_type: dict[str, float] = field(default_factory=dict)
    conf_agg: str = "mean"                 # mean | min
    min_span_tokens: int = 0
    min_span_tokens_by_type: dict[str, int] = field(default_factory=dict)
    resolve_overlaps: bool = True
    use_detectors: bool = True
    use_ner: bool = True
    tokenizer_piece_len: int = 8
    # chunks per emit_batch forward pass (reference --batch_size default
    # 8, infer_pii.py:372-375)
    batch_size: int = 8
    # web-scale recovery for multi-kB unbroken char runs (minified JS,
    # base64 blobs): False = reference-parity fail-fast (doc quarantined
    # fail-closed); True = chunker cuts such runs at exact token boundaries
    hard_split: bool = False
    # Optional real-model swap-in (requires torch + transformers): a HF
    # token-classification checkpoint path/name. When set, make_emitter()
    # loads pii_core.ner_transformer.TransformerEmitter and the matching
    # fast-tokenizer adapter; when None (sandbox default) the hermetic
    # StubEmitter + WordTokenizer path runs, byte-identical as before.
    model_path: str | None = None
    model_device: str = "cpu"
    # Giant-page straggler bound: a payload larger than this quarantines
    # fail-closed (DocTooLargeError, error row, never public) BEFORE any
    # parse work. A 100-TB crawl contains multi-MB pathological pages, and
    # because one document's chunks must colocate (fp32 accumulation
    # order), a single such page can pin a task for minutes while its
    # partition's siblings wait. Units: bytes for binary payloads,
    # characters for pre-extracted text payloads. None disables the cap.
    max_doc_bytes: int | None = 10_000_000

    def __post_init__(self) -> None:
        # Eager validation: a bad config must fail at CONSTRUCTION (driver /
        # submit time), not minutes later inside an executor UDF. Mirrors
        # the chunker's runtime checks (chunking.py) plus enum fields.
        if self.max_length <= 8:
            raise ValueError(f"max_length too small: {self.max_length}")
        # Budget = max_length - num_special_tokens. The special count is a
        # property of the tokenizer: exactly 2 for the stub WordTokenizer
        # (model_path None), but a transformer checkpoint's tokenizer may
        # add 1-3 — and it only exists on the executor. The model path is
        # therefore checked against a CONSERVATIVE worst case (4 specials)
        # so a degenerate stride fails HERE at submit time; a tokenizer
        # with >4 specials slips past this bound but still aborts the job
        # at the first task, because the chunker raises
        # ChunkingConfigError, which extract_page_batch RE-RAISES instead
        # of quarantining — a config error classed as a per-page failure
        # would silently fail-close the entire corpus (every url
        # anti-joined away as "done" with zero spans).
        specials = 2 if self.model_path is None else 4
        budget = int(self.max_length) - specials
        if not (0 <= self.stride < budget):
            raise ValueError(
                f"stride must satisfy 0 <= stride < max_length - "
                f"{specials} = {budget}; got {self.stride}"
                + ("" if self.model_path is None else
                   " (model-path bound assumes up to 4 special tokens)"))
        if self.boundary_backoff < 0:
            raise ValueError(
                f"boundary_backoff must be >= 0, got {self.boundary_backoff}")
        if self.batch_size < 1:
            raise ValueError(f"batch_size must be >= 1, got {self.batch_size}")
        if self.tokenizer_piece_len < 1:
            raise ValueError(
                f"tokenizer_piece_len must be >= 1, got "
                f"{self.tokenizer_piece_len}")
        if self.decode not in ("bio_viterbi", "argmax"):
            raise ValueError(f"unknown decode mode: {self.decode!r}")
        if self.aggregate not in ("mean_logits", "none"):
            raise ValueError(f"unknown aggregate mode: {self.aggregate!r}")
        if self.conf_agg not in ("mean", "min"):
            raise ValueError(f"unknown conf_agg: {self.conf_agg!r}")
        if self.max_doc_bytes is not None and self.max_doc_bytes < 1:
            raise ValueError(
                f"max_doc_bytes must be >= 1 or None, got "
                f"{self.max_doc_bytes}")

    def make_tokenizer(self) -> WordTokenizer:
        return WordTokenizer(piece_len=self.tokenizer_piece_len)

    def make_emitter_and_tokenizer(self):
        """The per-executor "model load" slot and the pipeline's only
        emitter resolution: returns (emitter, tokenizer) constructed once
        per partition iterator. Real checkpoint when model_path is set and
        NER runs (reference model load: infer_pii.py:445-470), else the
        deterministic stub — a detector-only config never loads a model."""
        if self.use_ner and self.model_path is not None:
            from pii_core.ner_transformer import (  # noqa: PLC0415
                load_transformer_emitter,
            )

            emitter = load_transformer_emitter(
                self.model_path, device=self.model_device,
                max_length=self.max_length)
            return emitter, emitter.tokenizer_adapter
        return StubEmitter(), self.make_tokenizer()


_PII_SET = frozenset(PII_TYPES)


def _label_ctx(emitter: Emitter):
    """(labels_list, l2i, id2label, o_id) for this emitter's label space."""
    labels_list = getattr(emitter, "labels", None) or label_maps()[1]
    if isinstance(labels_list, dict):
        labels_list = [labels_list[i] for i in range(len(labels_list))]
    l2i = {lab: i for i, lab in enumerate(labels_list)}
    id2label = {i: lab for lab, i in l2i.items()}
    return labels_list, l2i, id2label, l2i["O"]


def _mean_logit_matrix(items, n_chunks: int, trusted_offsets: bool = False):
    """One document's global (keys, (K,C) mean-logit matrix) from its
    (chunk, offsets, emissions) stream, or None if no tokens survive.
    Offsets are the (N,2) int64 arrays ``build_chunks_with_offsets``
    returns; ``keys`` are sorted global (start,end) char offsets.

    ``trusted_offsets=True`` asserts the offsets came from a slice-stable
    tokenizer's own scan, which produces non-empty tokens with strictly
    increasing starts BY CONSTRUCTION — the single-chunk fast path then
    skips its validation. The differential test pins trusted and untrusted
    results identical on that provenance."""
    # Single-chunk fast path (the common case for web pages): no overlap
    # to average, so the chunk emissions ARE the global emissions —
    # identical result to the dict accumulation with count=1 (pinned
    # against the dict-accumulation oracle, tests/oracles/pipeline.py).
    # Offsets that are all non-empty (a < b) with STRICTLY increasing
    # starts are unique and already in the general path's sorted order;
    # anything else (empty (0,0) specials from an adapter, repeats,
    # disorder) falls through to the general path, which dedups, averages
    # and sorts — returning such keys raw would make the result depend on
    # whether the document happened to be single-chunk.
    if n_chunks == 1:
        if not items:
            return None
        ch, offs, em = items[0]
        em = np.asarray(em, dtype=np.float32)
        ok = trusted_offsets or (
            bool((offs[:, 0] < offs[:, 1]).all())
            and (offs.shape[0] < 2 or bool((np.diff(offs[:, 0]) > 0).all())))
        # a malformed emission falls through to the general path's raise
        if ok and len(offs) and em.shape[:1] == offs.shape[:1]:
            cs = ch.char_start
            return (offs if cs == 0 else offs + np.int64(cs)), em

    # Accumulate per-token logits keyed by GLOBAL (start,end) char offsets
    # so overlapping chunks average out (reference infer_pii.py:209-235).
    # Fully vectorized form of the reference's dict accumulation (the
    # eval-path idiom, infer_pii.py:853-894): each chunk's offsets become
    # one (N,2) int64 array, global keys pack into a single int64
    # (start << 32 | end — lexicographic order preserved, so np.unique's
    # sorted output IS the dict form's sorted(key_index)), np.unique's
    # inverse indices replace the per-token setdefault loop (the
    # multi-chunk hot spot), and whole chunks add with one fancy-index +=.
    # fp32 accumulation order per key is unchanged (chunks processed in
    # chunk order; a key appears at most once per chunk, and if an emitter
    # ever repeats offsets within a chunk, np.add.at preserves the
    # token-order adds the dict form would have done).
    got = [(ch, offs, np.asarray(em, dtype=np.float32))
           for ch, offs, em in items]
    if not got:
        return None
    enc_parts: list[np.ndarray] = []
    sels: list[np.ndarray] = []
    for ch, offs, em in got:
        if em.shape[:1] != offs.shape[:1]:
            raise ValueError(f"chunk offsets/emissions mismatch: "
                             f"{offs.shape} vs {em.shape}")
        g = offs + np.int64(ch.char_start)
        keep = g[:, 0] < g[:, 1]
        if not keep.all():
            g = g[keep]
            em = em[keep]
        if g.size and int(g[:, 1].max()) >= (1 << 31):
            # packing headroom: a >2^31-char document cannot reach here
            # anyway (its (T,C) emission matrix would not fit in memory),
            # but never pack silently-wrong keys — the raise quarantines
            # the page fail-closed like any other per-page failure
            raise ValueError(
                f"char offset {int(g[:, 1].max())} exceeds the 2^31 "
                "key-packing bound")
        enc_parts.append((g[:, 0] << np.int64(32)) | g[:, 1])
        sels.append(em)
    all_enc = np.concatenate(enc_parts)
    if all_enc.size == 0:
        return None
    uniq, inv = np.unique(all_enc, return_inverse=True)
    k = uniq.size
    n_classes = got[0][2].shape[1]
    acc = np.zeros((k, n_classes), dtype=np.float32)
    cnt = np.zeros(k, dtype=np.float32)
    pos = 0
    for sel in sels:
        n = sel.shape[0]
        ia = inv[pos:pos + n]
        pos += n
        if ia.size == np.unique(ia).size:
            acc[ia] += sel
            cnt[ia] += 1.0
        else:  # repeated key within one chunk: unbuffered ordered adds
            np.add.at(acc, ia, sel)
            np.add.at(cnt, ia, 1.0)
    keys = np.stack((uniq >> np.int64(32), uniq & np.int64(0xFFFFFFFF)),
                    axis=1)
    # one vectorized fp32 divide — elementwise-identical to dividing each
    # row by its count (same operands, same IEEE op); rows are already in
    # sorted-key order because np.unique sorts the packed keys
    em_global = (acc / cnt[:, None]).astype(np.float32, copy=False)
    return keys, em_global


class DocTooLargeError(ValueError):
    """Payload exceeds ``ExtractConfig.max_doc_bytes`` — the page
    quarantines fail-closed before any parse work (straggler bound)."""


def _payload_to_text(html: bytes | None, text: str | None,
                     max_doc_bytes: int | None = None) -> str:
    """Payload sniff: ``%PDF-`` magic routes to the PDF layout parser,
    anything else to the HTML main-content extractor (the north rule's
    "HTML boilerplate strip, PDF/layout parse" stage). A payload above
    ``max_doc_bytes`` raises DocTooLargeError BEFORE parsing: one
    pathological multi-MB page must not pin a whole task (its chunks
    colocate for fp32 determinism, so it cannot be split across workers)."""
    if max_doc_bytes is not None:
        size = len(html) if html else len(text or "")
        if size > max_doc_bytes:
            raise DocTooLargeError(
                f"payload of {size} bytes exceeds max_doc_bytes="
                f"{max_doc_bytes}; quarantined fail-closed (raise the cap "
                "or pre-split the document to process it)")
    if html:
        if looks_like_pdf(html):
            # STRICT: a PDF whose text coverage cannot be asserted raises
            # (UnsupportedPdfError) and the page quarantines fail-closed —
            # the lenient "" would mark an unscanned document publishable
            return pdf_to_text_strict(html)
        # STRICT twin of the PDF branch: a parser crash (vanishingly
        # rare with the stdlib parser) quarantines, never publishes an
        # unscanned page as spans=[] / public
        return html_to_text_strict(html)
    return text or ""


def _page_record(url: str, extracted: str, spans: list[Span],
                 public: bool) -> dict:
    """Reference-shaped JSONL record (infer_pii.py:553-569):
    value = extracted_text[start:end], conf rounded to 2 decimals."""
    return {
        "url": url,
        "extracted_text": extracted,
        "spans": [
            {
                "type": s.type,
                "start": s.start,
                "end": s.end,
                "value": extracted[s.start:s.end],
                "conf": round(float(s.conf), 2),
                "n_tokens": s.n_tokens,
            }
            for s in spans
        ],
        "should_be_public": public,
    }


def _emit_group(group, emit_batch):
    """Emissions for one cross-document chunk group. On a batched-forward
    failure, RETRY PER CHUNK so the error is attributed to the page that
    caused it: the healthy neighbors in the group still get real emissions
    and only the pathological page quarantines (an Exception in place of
    its (T,C) array). A whole-group raise would abort the Spark task and,
    after retries, the cluster job — exactly what per-page quarantine
    exists to prevent."""
    texts = [ch.text for _, ch, _ in group]
    offsets = [offs for _, _, offs in group]
    try:
        ems = list(emit_batch(texts, offsets))
        if len(ems) == len(group):
            return ems
        # wrong count is an emitter contract bug: fall through to the
        # per-chunk calls so the miscounted batch can't silently pair
        # emissions with the wrong chunks (zip would truncate)
    except Exception:  # noqa: BLE001 — isolate below
        pass
    out = []
    for text, offs in zip(texts, offsets):
        try:
            one = list(emit_batch([text], [offs]))
            if len(one) != 1:
                raise RuntimeError(
                    f"emit_batch returned {len(one)} emissions for 1 chunk")
            out.append(one[0])
        except Exception as e:  # noqa: BLE001 — per-page quarantine
            out.append(e)
    return out


def _extract_core(records, cfg: ExtractConfig, emitter: Emitter | None,
                  tokenizer: WordTokenizer | None,
                  max_doc_bytes: int | None) -> list[tuple | Exception]:
    """The one extraction loop behind ``extract_page_batch``,
    ``extract_page`` and ``extract_document``: per (url, html, text) record,
    (url, extracted_text, merged spans, should_be_public) or the Exception
    that page raised, in input order.

    Emitter contract: the loop calls ``emitter.emit_batch(texts,
    offsets_list)`` and nothing else. It is looked up once, before any
    page runs, so an emitter without it aborts the call (quarantining it
    per page would fail-close every page).

    Cross-DOCUMENT chunk batching: chunks from ALL documents share
    ``emit_batch`` forward passes in groups of ``cfg.batch_size``,
    regardless of document boundaries. This generalizes the reference's
    per-document ``--batch_size`` forward batching (infer_pii.py:180-201)
    across documents: web corpora are dominated by single-chunk pages, so
    per-document batching degenerates to batch-of-1 forwards and a real GPU
    emitter starves. Here 8 single-chunk documents share one forward pass.

    Decode units: a document whose last chunk is through becomes units
    ``(keys, emissions, char_shift)`` — one mean-logit matrix on global
    offsets (shift 0), or with ``aggregate="none"`` one per chunk on its
    LOCAL offsets (so ``(0,0)`` specials still read as specials), shifted
    by its ``char_start`` (reference infer_pii.py:237-275). The document's
    units decode together, by argmax rows or one ``viterbi_bio_batch``
    call, so a decode failure quarantines exactly that document.

    Streaming: documents are prepared (payload → text → chunks → offsets),
    emitted, aggregated, and finalized in ONE interleaved pass — a forward
    group fires as soon as ``batch_size`` chunks are pending, and each
    document finishes, in input order, once its last emission is in. Peak
    extra memory is O(batch_size × chunk) plus the documents still waiting
    on a forward group or on an earlier document's emissions.

    Byte-identity: group boundaries are consecutive ``batch_size`` slices
    of the global chunk stream (independent of where document boundaries
    fall), each document's chunks keep chunk order, emissions per chunk are
    independent of group composition (stub: pure per-chunk function;
    transformer: fixed-width padding — see TransformerEmitter), and
    per-document fp32 mean-logit accumulation consumes them in that same
    order — so every result is the same whichever records share the call.
    """
    if emitter is None:
        if (tokenizer is not None and cfg.use_ner
                and cfg.model_path is not None):
            # a caller-supplied tokenizer cannot pair with a checkpoint's
            # own fast tokenizer — substituting the stub here would
            # silently run gazetteer spans against a model config
            raise ValueError(
                "model_path is set but only a tokenizer was passed; pass "
                "both emitter and tokenizer (or neither) for the real-"
                "model path")
        emitter, own_tokenizer = cfg.make_emitter_and_tokenizer()
        tokenizer = tokenizer if tokenizer is not None else own_tokenizer
    elif tokenizer is None:
        tokenizer = cfg.make_tokenizer()
    labels_list, _, id2label, o_id = _label_ctx(emitter)
    emit_batch = emitter.emit_batch
    step = cfg.batch_size
    argmax = cfg.decode == "argmax"
    # offsets below all come from build_chunks_with_offsets over THIS
    # tokenizer: slice-stable scans are strictly-increasing/non-empty by
    # construction, so the aggregation fast path may skip its validation
    trusted_offs = bool(getattr(tokenizer, "slice_stable", False))

    out: list[tuple | Exception] = []
    # Docs whose emissions are still outstanding, in input order:
    # [url, extracted, n_chunks, err, n_left, items]
    pending: deque[list] = deque()
    buf: list = []  # (doc_state, chunk, offsets) awaiting a forward group

    def finish(d) -> tuple | Exception:
        """One document whose emissions are all in: error routing, decode
        units, label decode, NER + detector spans → merged spans + public
        decision."""
        url, extracted, n_chunks, err, _n_left, items = d
        if err is None:
            err = next((em for _, _, em in items
                        if isinstance(em, Exception)), None)
        if err is not None:
            return err
        try:
            if cfg.aggregate == "none":
                units = []
                for ch, offs, em in items:
                    em = np.asarray(em)
                    if em.shape[:1] != offs.shape[:1]:
                        raise ValueError(f"chunk offsets/emissions mismatch: "
                                         f"{offs.shape} vs {em.shape}")
                    units.append((offs, em, ch.char_start))
            else:
                kg = _mean_logit_matrix(items, n_chunks, trusted_offs)
                units = [] if kg is None else [(kg[0], kg[1], 0)]
            ems = [em for _, em, _ in units]
            preds = ([np.argmax(em, axis=-1).tolist() for em in ems]
                     if argmax else viterbi_bio_batch(ems, labels_list, o_id))
            ner: list[Span] = []
            for (keys, em, shift), pred in zip(units, preds):
                spans = filter_spans(
                    spans_from_bio(keys, pred, em, id2label, cfg.conf_agg),
                    conf_threshold=cfg.conf_threshold,
                    conf_threshold_by_type=cfg.conf_threshold_by_type,
                    min_span_tokens=cfg.min_span_tokens,
                    min_span_tokens_by_type=cfg.min_span_tokens_by_type,
                )
                ner.extend(spans if not shift else (
                    s._replace(start=s.start + shift, end=s.end + shift)
                    for s in spans))
            spans = ner + detect_spans(extracted) if cfg.use_detectors else ner
            merged = merge_and_resolve(
                spans, resolve_overlaps=cfg.resolve_overlaps)
            return (url, extracted, merged,
                    not any(s.type in _PII_SET for s in merged))
        except Exception as e:  # noqa: BLE001 — per-page quarantine
            return e

    def pump(drain: bool) -> None:
        while len(buf) >= step or (drain and buf):
            group, del_n = buf[:step], min(step, len(buf))
            del buf[:del_n]
            for (d, ch, offs), em in zip(group, _emit_group(group,
                                                            emit_batch)):
                d[5].append((ch, offs, em))
                d[4] -= 1
            while pending and pending[0][4] == 0:
                out.append(finish(pending.popleft()))

    for url, html, text in records:
        d = [url, None, 0, None, 0, []]
        try:
            d[1] = extracted = _payload_to_text(html, text, max_doc_bytes)
            if cfg.use_ner and extracted:
                pairs = build_chunks_with_offsets(
                    extracted, tokenizer,
                    max_length=cfg.max_length, stride=cfg.stride,
                    boundary_backoff=cfg.boundary_backoff,
                    hard_split=cfg.hard_split,
                )
                d[2] = len(pairs)
                with_offs = [(ch, offs) for ch, offs in pairs
                             if len(offs)]
                d[4] = len(with_offs)
                buf.extend((d, ch, offs) for ch, offs in with_offs)
        except ChunkingConfigError:
            # a config that can never work for ANY page must abort the job
            # (loudly, at the first task), not quarantine every page into a
            # silently fail-closed corpus whose urls then all commit as done
            raise
        except Exception as e:  # noqa: BLE001 — per-page quarantine
            # nothing of this doc is in buf: chunks buffer only via the
            # buf.extend that is the try block's last statement
            d[3], d[4] = e, 0
        pending.append(d)
        pump(drain=False)
    pump(drain=True)
    while pending:  # zero-chunk docs trailing the last group
        d = pending.popleft()
        if d[4] != 0 and d[3] is None:
            # every buffered chunk was pumped, so a nonzero n_left means an
            # internal accounting bug — quarantine loudly, never decode a
            # partial emission stream into a plausible-but-wrong record
            d[3] = RuntimeError(
                f"internal: {d[4]} emissions missing for {d[0]!r}")
        out.append(finish(d))
    return out


def extract_page_batch(
    records,
    cfg: ExtractConfig | None = None,
    emitter: Emitter | None = None,
    tokenizer: WordTokenizer | None = None,
) -> list[dict | Exception]:
    """Extract a batch of (url, html, text) records with cross-document
    chunk batching (``_extract_core``). Returns a list aligned with the
    input: each element is the page record dict, or the Exception that
    page raised (callers quarantine — the Spark UDF maps it to a
    fail-closed error row). A failing page never poisons its neighbors:
    prep errors, EMITTER errors (isolated per chunk via ``_emit_group``),
    and decode errors (each document decodes alone) all quarantine only
    their own page. Each record
    equals the per-document executable spec ``tests/oracles/pipeline.py``
    on the same row, however ``records`` is split across calls
    (pytest-pinned parity)."""
    cfg = cfg or ExtractConfig()
    return [r if isinstance(r, Exception) else _page_record(*r)
            for r in _extract_core(records, cfg, emitter, tokenizer,
                                   cfg.max_doc_bytes)]


def extract_page(
    url: str,
    html: bytes | None,
    text: str | None,
    cfg: ExtractConfig | None = None,
    emitter: Emitter | None = None,
    tokenizer: WordTokenizer | None = None,
) -> dict:
    """Full per-page record: payload (preferred) or pre-extracted text →
    result, as a one-record ``extract_page_batch`` call whose quarantined
    Exception is raised. See ``_payload_to_text`` for the sniff and
    ``_page_record`` for the output shape."""
    rec = extract_page_batch([(url, html, text)], cfg, emitter, tokenizer)[0]
    if isinstance(rec, Exception):
        raise rec
    return rec


def extract_document(
    text: str,
    cfg: ExtractConfig | None = None,
    emitter: Emitter | None = None,
    tokenizer: WordTokenizer | None = None,
) -> tuple[list[Span], bool]:
    """Extract (merged spans, should_be_public) from plain text. Spans keep
    their unrounded conf, and no ``max_doc_bytes`` cap applies: the cap
    bounds page payloads (``extract_page``), not caller-held text."""
    cfg = cfg or ExtractConfig()
    if not isinstance(text, str) or not text:
        return [], True
    res = _extract_core([(None, None, text)], cfg, emitter, tokenizer,
                        None)[0]
    if isinstance(res, Exception):
        raise res
    return res[2], res[3]
