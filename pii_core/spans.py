"""Span extraction, filtering, merging and overlap resolution.

Re-expresses reference ``inference/spans.py``:

* BIO token-label → scored char spans state machine (spans.py:138-245):
  open on ``B-`` or orphan ``I-``, extend on matching ``I-``, flush on ``O``
  or special ``(0,0)`` offsets; confidence = mean|min of per-token probs.
* confidence / min-token filter with per-type overrides (spans.py:248-269).
* same-type interval merge — overlap *or* touch, conf = max, n_tokens = sum
  (spans.py:283-298).
* cross-type greedy overlap resolution — left-to-right, keep higher conf,
  tie broken by longer span, winner replaces ``out[-1]`` (spans.py:300-324).
  Order-sensitive: kept imperative by design, never re-derived as SQL.
* gold-span construction from (type, value) annotations: sanitize → company-id
  migration → expand to all literal occurrences → dedup → longest-first
  non-overlapping selection (spans.py:347-421).

All functions are doc-local and deterministic, so the Spark engine runs them
inside Arrow batches with no shuffle.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np

from pii_core.decoding import softmax, split_label
from pii_core.labels import CNPJ_SHAPE, ENTITY_TYPES, _IDISH, sanitize_value


class Span(NamedTuple):
    start: int  # char offset, inclusive
    end: int    # char offset, exclusive
    type: str
    conf: float
    n_tokens: int


def _sort_key(s: Span) -> tuple[int, int, str]:
    return (s.start, s.end, s.type)


def _bio_id_tables(id2label_items: tuple[tuple[int, str], ...]):
    """Dense lookup tables over label ids for the vectorized BIO scan:
    (size, is_entity, is_b, type_code, types). Ids outside [0, size) or
    unmapped behave like ("O", None) — exactly ``meta.get``'s default."""
    meta = {int(pid): split_label(lab) for pid, lab in id2label_items}
    size = max(meta) + 1 if meta else 0
    is_entity = np.zeros(size, dtype=bool)
    is_b = np.zeros(size, dtype=bool)
    type_code = np.full(size, -1, dtype=np.int32)
    types: list[str] = []
    t_idx: dict[str, int] = {}
    for pid, (pre, typ) in meta.items():
        if typ is None or pid < 0:
            continue
        is_entity[pid] = True
        is_b[pid] = pre == "B"
        type_code[pid] = t_idx.setdefault(typ, len(t_idx))
        if type_code[pid] == len(types):
            types.append(typ)
    return size, is_entity, is_b, type_code, types


_BIO_TABLE_CACHE: dict = {}


def spans_from_bio(
    offsets: list[tuple[int, int]],
    pred_ids: list[int],
    logits: np.ndarray,
    id2label: dict[int, str],
    conf_agg: str = "mean",
) -> list[Span]:
    """Token predictions + logits → sorted scored char spans.

    Vectorized: the original per-token state machine (the differential
    oracle ``spans_from_bio_py`` in ``tests/oracles/spans.py``) touches
    every token in Python, but web text is overwhelmingly O tokens. Here entity tokens are
    isolated with NumPy table lookups, span boundaries derived from the
    local rule the state machine reduces to (a valid token opens a span iff
    its prefix is B, or the previous position is not a valid token of the
    same type — ``run_type``/``o_type`` coincide inside a run), and softmax
    runs once over just the entity rows. Per-span conf aggregation stays in
    Python float arithmetic (left-to-right ``sum``) so results are
    bit-identical — pinned by a differential property test."""
    if len(offsets) != len(pred_ids):
        raise ValueError(f"offsets/pred_ids mismatch: {len(offsets)} vs {len(pred_ids)}")
    logits = np.asarray(logits)
    if logits.ndim != 2 or logits.shape[0] != len(pred_ids):
        raise ValueError(f"logits shape {logits.shape} != ({len(pred_ids)}, C)")
    agg = str(conf_agg).strip().lower()
    if agg not in ("mean", "min"):
        raise ValueError(f"conf_agg must be mean|min, got {conf_agg!r}")
    if not pred_ids:
        return []

    key = tuple(sorted(id2label.items()))
    tables = _BIO_TABLE_CACHE.get(key)
    if tables is None:
        tables = _BIO_TABLE_CACHE[key] = _bio_id_tables(key)
    size, is_entity, is_b, type_code, types = tables

    pids = np.asarray(pred_ids, dtype=np.int64)
    offs = np.asarray(offsets, dtype=np.int64)
    safe = (pids >= 0) & (pids < size)
    pids_safe = np.where(safe, pids, 0)
    valid = safe & is_entity[pids_safe] & ~((offs[:, 0] == 0)
                                            & (offs[:, 1] == 0))
    idx = np.flatnonzero(valid)
    if idx.size == 0:
        return []

    vpids = pids[idx]
    tc = type_code[vpids]
    # a span opens at k iff B-prefix, or the previous POSITION is not a
    # valid token of the same type (run_type reset / type change)
    opens = is_b[vpids].copy()
    opens[0] = True
    brk = (idx[1:] != idx[:-1] + 1) | (tc[1:] != tc[:-1])
    opens[1:] |= brk

    # batch softmax over entity rows only; row-of-batch == softmax(row)
    # bit-identically (same elementwise ops; last-axis reduction uses the
    # same per-line pairwise sum) — pinned by the differential test
    lg32 = logits if logits.dtype == np.float32 else logits.astype(np.float32)
    probs = softmax(np.ascontiguousarray(lg32[idx]))
    confs = probs[np.arange(idx.size), vpids].tolist()

    bounds = np.flatnonzero(opens).tolist() + [idx.size]
    a_v = offs[idx, 0].tolist()
    b_v = offs[idx, 1].tolist()
    out: list[Span] = []
    for gi in range(len(bounds) - 1):
        lo, hi = bounds[gi], bounds[gi + 1]
        cs = confs[lo:hi]
        conf = min(cs) if agg == "min" else sum(cs) / len(cs)
        out.append(Span(a_v[lo], max(b_v[lo:hi]), types[tc[lo]],
                        float(conf), hi - lo))
    out.sort(key=_sort_key)
    return out


def filter_spans(
    spans: list[Span],
    *,
    conf_threshold: float = 0.5,
    conf_threshold_by_type: dict[str, float] | None = None,
    min_span_tokens: int = 1,
    min_span_tokens_by_type: dict[str, int] | None = None,
) -> list[Span]:
    """Drop spans below the (per-type) confidence/length thresholds."""
    by_conf = conf_threshold_by_type or {}
    by_tok = min_span_tokens_by_type or {}
    kept = []
    for s in spans:
        min_tok = int(by_tok.get(s.type, min_span_tokens))
        if min_tok > 0 and s.n_tokens < min_tok:
            continue
        th = float(by_conf.get(s.type, conf_threshold))
        if th > 0.0 and s.conf < th:
            continue
        kept.append(s)
    return kept


def merge_same_type(spans: list[Span]) -> list[Span]:
    """Merge overlapping/touching spans of one type (chunk-overlap healing)."""
    if not spans:
        return []
    ordered = sorted(spans, key=lambda s: (s.type, s.start, s.end))
    merged: list[Span] = []
    cur = ordered[0]
    for s in ordered[1:]:
        if s.type == cur.type and s.start <= cur.end:
            cur = Span(
                cur.start,
                max(cur.end, s.end),
                cur.type,
                max(float(cur.conf), float(s.conf)),
                cur.n_tokens + s.n_tokens,
            )
        else:
            merged.append(cur)
            cur = s
    merged.append(cur)
    merged.sort(key=_sort_key)
    return merged


def resolve_cross_type(spans: list[Span]) -> list[Span]:
    """Greedy left-to-right: on cross-type overlap keep the better span.

    Better = higher conf, tie → longer. The winner *replaces* the previous
    kept span (reference spans.py:319-320) — order-sensitive by contract.
    """
    out: list[Span] = []
    for s in spans:
        if out and s.start < out[-1].end and s.type != out[-1].type:
            prev = out[-1]
            wins = s.conf > prev.conf or (
                s.conf == prev.conf and (s.end - s.start) > (prev.end - prev.start)
            )
            if wins:
                out[-1] = s
        else:
            out.append(s)
    return out


def merge_and_resolve(spans: list[Span], *, resolve_overlaps: bool = True) -> list[Span]:
    if not spans:
        return []
    merged = merge_same_type(spans)
    return resolve_cross_type(merged) if resolve_overlaps else merged


# ---------------------------------------------------------------------------
# Gold-span construction (eval path)
# ---------------------------------------------------------------------------

_IE_MARK = re.compile(r"(?i)(?:^|[^a-z])i\.?\s*e\.?(?:[^a-z]|$)")
_IM_MARK = re.compile(r"(?i)(?:^|[^a-z])i\.?\s*m\.?(?:[^a-z]|$)")


def literal_occurrences(text: str, value: str) -> list[tuple[int, int]]:
    """All non-overlapping literal occurrences of value in text (spans.py:347-357)."""
    out = []
    pos = 0
    while (i := text.find(value, pos)) >= 0:
        out.append((i, i + len(value)))
        pos = i + len(value)
    return out


def looks_like_company_id(value: str) -> bool:
    """Numeric CNPJ/IE/IM shape (spans.py:19-30)."""
    v = str(value).strip()
    if not v or any(c.isspace() for c in v) or any(c.isalpha() for c in v):
        return False
    if sum(c.isdigit() for c in v) < 6:
        return False
    return bool(CNPJ_SHAPE.fullmatch(v) or _IDISH.fullmatch(v))


def company_keyword_near(text: str, value: str, window: int = 40) -> bool:
    """CNPJ/IE/IM keyword within ``window`` chars left of the first occurrence
    (spans.py:33-46)."""
    i = text.find(value)
    if i < 0:
        return False
    left = text[max(0, i - window): i].casefold()
    if "cnpj" in left:
        return True
    if "inscri" in left and ("estadual" in left or "municipal" in left):
        return True
    return bool(_IE_MARK.search(left) or _IM_MARK.search(left))


def gold_spans(text: str, entities: list[dict], *, row_index: int = 0) -> list[Span]:
    """(type, value) annotations → validated, non-overlapping gold spans."""
    allowed = set(ENTITY_TYPES)
    raw: list[tuple[int, int, str]] = []
    for j, ent in enumerate(entities):
        if not isinstance(ent, dict) or set(ent.keys()) != {"type", "value"}:
            raise ValueError(f"row={row_index}: entities[{j}] must have keys type,value")
        t, v = ent["type"], ent["value"]
        if not isinstance(t, str) or t not in allowed:
            raise ValueError(f"row={row_index}: bad type {t!r}")
        if not isinstance(v, str) or not v.strip():
            raise ValueError(f"row={row_index}: empty value")
        if v not in text:
            raise ValueError(f"row={row_index}: value not in text: {v!r}")
        v = sanitize_value(t, v, text)
        if t in ("ORG_JURIDICA", "ID_PROCESSUAL"):
            v2 = sanitize_value("DOC_EMPRESA", v, text)
            if v2 and v2 in text:
                v = v2
            # taxonomy migration: CNPJ/IE/IM historically labeled ORG/ID
            if looks_like_company_id(v) and company_keyword_near(text, v):
                t = "DOC_EMPRESA"
        for a, b in literal_occurrences(text, v):
            raw.append((a, b, t))

    if not raw:
        return []
    uniq = list(set(raw))
    # longest-first greedy non-overlap selection (spans.py:404-421)
    uniq.sort(key=lambda x: (-(x[1] - x[0]), x[0], x[1], x[2]))
    kept: list[tuple[int, int, str]] = []
    for a, b, t in uniq:
        if not any(a < kb and b > ka for ka, kb, _ in kept):
            kept.append((a, b, t))
    kept.sort()
    return [Span(a, b, t, 1.0, 0) for a, b, t in kept]
