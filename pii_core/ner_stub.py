"""Deterministic NER emission generator (transformer stand-in).

The reference runs a BERT token-classification forward pass per chunk batch
(``infer_pii.py:180-201``). This sandbox has no torch/transformers, so the
engine's NER stage is pluggable: any ``Emitter`` mapping
``(chunk_text, token_offsets) -> (T, C) float32 logits`` works. This module
provides the hermetic default — a gazetteer/regex "model" whose logits are a
pure function of the chunk text, so the full downstream machinery
(mean-logit aggregation → Viterbi → span algebra) is exercised end-to-end and
its output is reproducible across partitionings, machines and cluster sizes.

A real model drops in by implementing the same callable and loading weights
once per executor inside the ``mapInPandas`` iterator (micro-batched per
partition, per the north rule).
"""

from __future__ import annotations

import re
import zlib
from bisect import bisect_left, bisect_right

import numpy as np

from pii_core.labels import bio_label_space, label_maps

# Gazetteer rules: (regex over the chunk text) -> entity type.
# Kept intentionally simple and deterministic; quality is NOT the point — the
# pipeline plumbing and its invariances are.
_RULES: list[tuple[re.Pattern[str], str]] = [
    # two+ capitalized words, optionally preceded by an honorific -> person name
    (
        re.compile(
            r"\b(?:Sr\.|Sra\.|Dr\.|Dra\.)?\s*"
            r"([A-ZÀ-Þ][a-zà-ÿ]+(?:\s+(?:d[aeo]s?\s+)?[A-ZÀ-Þ][a-zà-ÿ]+)+)"
        ),
        "NOME_PESSOA",
    ),
    # street-style address with a number
    (
        re.compile(
            r"\b(?:Rua|Avenida|Av\.|Quadra|Travessa|Alameda)\s+[^,.\n]{3,40}?,?\s*"
            r"(?:n[º°.]?\s*)?\d+",
            re.IGNORECASE,
        ),
        "ENDERECO",
    ),
    # birth-date with explicit cue
    (
        re.compile(r"(?:nascid[oa] em|data de nascimento:?)\s*(\d{2}/\d{2}/\d{4})",
                   re.IGNORECASE),
        "DATA_NASC",
    ),
    # SEI / processo ids
    (
        re.compile(r"\b\d{5}[-.]?\d{6,8}/\d{4}-\d{2}\b"),
        "ID_PROCESSUAL",
    ),
    # vehicle plates (old + Mercosul)
    (
        re.compile(r"\b[A-Z]{3}-?\d(?:[A-Z]\d{2}|\d{3})\b"),
        "ID_VEICULO",
    ),
]

_LABELS = bio_label_space()
_L2I, _ = label_maps()
_O_LOGIT = np.float32(4.0)
_ENT_LOGIT = np.float32(8.0)

# Cheap NECESSARY conditions per rule, keyed by rule index: every possible
# match of that rule's regex, folded by ``_needle_text``, contains one of
# the needles, so a chunk without any needle can skip the full scan
# outright — a false positive merely runs the regex it would have run
# anyway (a differential test pins the soundness). Rules without a
# sound cheap needle (names, plates) always scan.
#   ENDERECO:       every match starts with a street keyword (IGNORECASE)
#   DATA_NASC:      'nascid[oa] em' / 'data de nascimento' both contain
#                   'nasci' after casefold
#   ID_PROCESSUAL:  the pattern requires a literal '/'
_RULE_NEEDLES: dict[int, tuple[str, ...]] = {
    1: ("rua", "avenida", "av.", "quadra", "travessa", "alameda"),
    2: ("nasci",),
    3: ("/",),
}

# Every non-ASCII character that ``re.IGNORECASE`` matches to an ASCII
# letter (a scan of all code points finds exactly these; a test pins it).
# ``str.lower`` keeps U+0131 and U+017F as they are and expands U+0130 to
# two characters, so without this map 'Traveſſa' or 'Avenİda' would fail
# the needle test while the rule's regex matches them (a fail-open skip).
_RE_ASCII_FOLDS = {"\u0130": "i", "\u0131": "i", "\u017f": "s",
                   "\u212a": "k"}


def _needle_text(text: str) -> str:
    """``text`` case-folded as the IGNORECASE rules fold ASCII letters, for
    the needle prechecks: C-level replaces and one ``lower`` pass."""
    if not text.isascii():
        for ch, letter in _RE_ASCII_FOLDS.items():
            if ch in text:
                text = text.replace(ch, letter)
    return text.lower()


def _tok_jitter(text: str, a: int, b: int) -> float:
    """Deterministic per-token logit jitter in [0, 0.5) from the token bytes —
    makes span confidences non-trivial while staying partition-invariant."""
    return (zlib.crc32(text[a:b].encode("utf-8")) % 1000) / 2000.0


def stub_emissions(chunk_text: str, offsets: list[tuple[int, int]]) -> np.ndarray:
    """(T, 27) float32 logits for one chunk."""
    t = len(offsets)
    c = len(_LABELS)
    em = np.zeros((t, c), dtype=np.float32)
    em[:, _L2I["O"]] = _O_LOGIT

    hits: list[tuple[int, int, str]] = []
    low = None
    for ri, (rx, typ) in enumerate(_RULES):
        needles = _RULE_NEEDLES.get(ri)
        if needles is not None:
            if low is None:
                low = _needle_text(chunk_text)  # shared across rules
            if not any(n in low for n in needles):
                continue  # no needle -> the regex provably cannot match
        for m in rx.finditer(chunk_text):
            g = 1 if m.groups() else 0
            s, e = m.span(g)
            if e > s:
                hits.append((s, e, typ))
    hits.sort()

    if hits:
        # token offsets are sorted, so the tokens overlapping [s, e) form a
        # contiguous index range — bisect it instead of scanning all T
        # (identical result: same overlap predicate over the same tokens).
        if isinstance(offsets, np.ndarray):
            starts, ends = offsets[:, 0], offsets[:, 1]
            find_lo = lambda v: int(np.searchsorted(ends, v, side="right"))
            find_hi = lambda v: int(np.searchsorted(starts, v, side="left"))
        else:
            starts = [a for a, _ in offsets]
            ends = [b for _, b in offsets]
            find_lo = lambda v: bisect_right(ends, v)
            find_hi = lambda v: bisect_left(starts, v)
        for s, e, typ in hits:
            lo = find_lo(s)  # first token with b > s
            hi = find_hi(e)  # first token with a >= e
            first = True
            for ti in range(lo, hi):
                a, b = offsets[ti]
                if (a == 0 and b == 0) or not (a < e and b > s):
                    continue
                lab = ("B-" if first else "I-") + typ
                em[ti, _L2I[lab]] = _ENT_LOGIT + _tok_jitter(chunk_text, a, b)
                first = False

    return em


class StubEmitter:
    """Callable emitter with the executor-side model lifecycle contract:
    construct once per worker, call per chunk (or per chunk batch)."""

    labels = _LABELS

    def __call__(self, chunk_text: str, offsets: list[tuple[int, int]]) -> np.ndarray:
        return stub_emissions(chunk_text, offsets)

    def emit_batch(
        self,
        texts: list[str],
        offsets_list: list[list[tuple[int, int]]],
    ) -> list[np.ndarray]:
        """Batched contract (reference batched forward,
        infer_pii.py:180-201): per-chunk emissions, identical to calling the
        emitter once per chunk — the stub has no batch-level state."""
        return [stub_emissions(t, o) for t, o in zip(texts, offsets_list)]
