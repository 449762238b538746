"""Compiled-regex PII detectors with checksum validation. [NORTH-ONLY]

The north rule adds a deterministic detector stage the reference does not
have: "compiled-regex detectors with checksum validation for CPF, CNPJ, CEP,
RG, phone and email spans" (BASELINE.json north_star). Detected spans are
typed with the reference taxonomy (labels.py) and flow into the same
filter/merge/resolve algebra as NER spans.

Checksums:
* CPF  — mod-11 over the first 9 digits for digit 10, first 10 for digit 11;
  all-equal-digit CPFs rejected (standard Receita Federal rule).
* CNPJ — weighted mod-11 with weights 5..2,9..2 / 6..2,9..2.

Everything compiles once at import; matching is offered both per-string and
vectorized over a pandas Series (Arrow batch) for the Spark engine — no
per-row Python at the DataFrame level.
"""

from __future__ import annotations

import re
from itertools import compress

from pii_core.spans import Span

# --- checksums -------------------------------------------------------------


def cpf_checksum_ok(digits: str) -> bool:
    """Validate an 11-digit CPF string (digits only).

    Gates on ``str.isdecimal`` (not ``isdigit``): characters like the
    superscript '2' are isdigit-True but ``int()`` rejects them — an
    isdigit gate would crash the whole Arrow batch on one such token
    instead of returning False."""
    if (len(digits) != 11 or not digits.isdecimal()
            or len(set(digits)) == 1):
        return False
    nums = [int(c) for c in digits]
    for pos in (9, 10):
        acc = sum(d * w for d, w in zip(nums[:pos], range(pos + 1, 1, -1)))
        check = (acc * 10) % 11
        if check == 10:
            check = 0
        if check != nums[pos]:
            return False
    return True


def cnpj_checksum_ok(digits: str) -> bool:
    """Validate a 14-digit CNPJ string (digits only)."""
    if (len(digits) != 14 or not digits.isdecimal()
            or len(set(digits)) == 1):
        return False
    nums = [int(c) for c in digits]
    for pos, weights in ((12, (5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)),
                         (13, (6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2))):
        acc = sum(d * w for d, w in zip(nums[:pos], weights))
        rem = acc % 11
        check = 0 if rem < 2 else 11 - rem
        if check != nums[pos]:
            return False
    return True


def _digits(s: str) -> str:
    return "".join(c for c in s if c.isdigit())


# --- vectorized (batch) checksums -------------------------------------------
# NumPy digit-matrix forms of the validators above for the Spark engine's
# Arrow batches: candidates concatenate into one byte buffer, reshape to a
# (N, n) digit matrix, and each check digit is one matvec + mod — no
# per-element Python call in the hot path. Non-ASCII decimal-digit strings
# (which the scalar validators accept via str.isdecimal/int) are rare and
# routed through the scalar function, so the batch forms are
# elementwise-identical.

import numpy as np  # noqa: E402  (used only by the batch validators)

_CPF_W9 = np.arange(10, 1, -1, dtype=np.int64)    # weights for digit 10
_CPF_W10 = np.arange(11, 1, -1, dtype=np.int64)   # weights for digit 11
_CNPJ_W12 = np.asarray((5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2), dtype=np.int64)
_CNPJ_W13 = np.asarray((6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2),
                       dtype=np.int64)


def _cpf_checks(mat: np.ndarray) -> np.ndarray:
    c1 = (mat[:, :9] @ _CPF_W9) * 10 % 11
    c1[c1 == 10] = 0
    c2 = (mat[:, :10] @ _CPF_W10) * 10 % 11
    c2[c2 == 10] = 0
    return (c1 == mat[:, 9]) & (c2 == mat[:, 10])


def _cnpj_checks(mat: np.ndarray) -> np.ndarray:
    r1 = (mat[:, :12] @ _CNPJ_W12) % 11
    c1 = np.where(r1 < 2, 0, 11 - r1)
    r2 = (mat[:, :13] @ _CNPJ_W13) % 11
    c2 = np.where(r2 < 2, 0, 11 - r2)
    return (c1 == mat[:, 12]) & (c2 == mat[:, 13])


def _batch_checksum(values, n: int, scalar_fn, check_fn) -> np.ndarray:
    import pandas as pd  # noqa: PLC0415 — pandas only on the Spark path

    s = pd.Series(values, dtype=object)
    out = np.zeros(len(s), dtype=bool)
    if not len(s):
        return out
    len_ok = s.str.len().eq(n).fillna(False).to_numpy(bool)
    if not len_ok.any():
        return out
    cand = s[len_ok].tolist()
    # ONE matrix path: the ASCII candidates concatenate into one byte
    # buffer, digit-ness checked on the matrix itself (no per-element
    # regex). Non-ASCII decimal digits pass the scalar validators
    # (str.isdecimal + int accept them), so only the non-ASCII candidates
    # take the scalar function, for exact parity. str.isascii is O(1), so
    # an all-ASCII batch pays no per-candidate scan.
    buf = "".join(cand)
    ascii_ = (np.ones(len(cand), dtype=bool) if buf.isascii()
              else np.fromiter((v.isascii() for v in cand), dtype=bool,
                               count=len(cand)))
    good = np.zeros(len(cand), dtype=bool)
    if not ascii_.all():
        good[~ascii_] = [scalar_fn(v) for v in compress(cand, ~ascii_)]
        buf = "".join(compress(cand, ascii_))
    if buf:
        mat = (np.frombuffer(buf.encode("ascii"), np.uint8)
               .reshape(-1, n).astype(np.int64) - 48)
        rows = (((mat >= 0) & (mat <= 9)).all(axis=1)
                & ~(mat == mat[:, :1]).all(axis=1))  # all-equal rejected
        ok_rows = np.flatnonzero(rows)
        if ok_rows.size:
            rows[ok_rows] = check_fn(mat[ok_rows])
        good[ascii_] = rows
    out[len_ok] = good
    return out


def cpf_checksum_ok_batch(values) -> np.ndarray:
    """Vectorized ``cpf_checksum_ok`` over a sequence/Series of strings."""
    return _batch_checksum(values, 11, cpf_checksum_ok, _cpf_checks)


def cnpj_checksum_ok_batch(values) -> np.ndarray:
    """Vectorized ``cnpj_checksum_ok`` over a sequence/Series of strings."""
    return _batch_checksum(values, 14, cnpj_checksum_ok, _cnpj_checks)


# --- detector table ---------------------------------------------------------
# (name, taxonomy type, compiled regex, validator(match_text) -> bool)
# Patterns avoid lookbehind so an equivalent subset runs in RE2 (DuckDB oracle).

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}")
CPF_RE = re.compile(r"\b\d{3}\.\d{3}\.\d{3}-\d{2}\b|\b\d{11}\b")
CNPJ_RE = re.compile(r"\b\d{2}\.\d{3}\.\d{3}/\d{4}-\d{2}\b|\b\d{14}\b")
CEP_RE = re.compile(r"\b\d{5}-\d{3}\b")
RG_RE = re.compile(r"\b\d{1,2}\.\d{3}\.\d{3}-[0-9Xx]\b")
PHONE_RE = re.compile(r"\(\d{2}\)\s?(?:9\s?)?\d{4,5}[-\s]?\d{4}\b")

# FAST twins of the \b\d-led patterns for the CPython hot path. A leading
# \b compiles to an AT op, which defeats sre's first-set charset skip — the
# engine re-attempts at every position (~30-40 MB/s on web text). Leading
# with the digit class restores the C-level skip (~2.2x). ``\d(?<!\w\d)``
# is EXACTLY ``\b\d``: after consuming one digit, the 2-wide lookbehind
# fails iff the char before that digit is \w (at string start the
# lookbehind cannot fit, so it vacuously succeeds — same as \b). The
# canonical patterns above stay the spec (lookbehind-free, RE2-portable);
# a fuzz test pins match-for-match equivalence.
_CPF_FAST = re.compile(r"\d(?<!\w\d)(?:\d{2}\.\d{3}\.\d{3}-\d{2}\b|\d{10}\b)")
_CNPJ_FAST = re.compile(
    r"\d(?<!\w\d)(?:\d\.\d{3}\.\d{3}/\d{4}-\d{2}\b|\d{13}\b)")
_CEP_FAST = re.compile(r"\d(?<!\w\d)\d{4}-\d{3}\b")
_RG_FAST = re.compile(r"\d(?<!\w\d)\d?\.\d{3}\.\d{3}-[0-9Xx]\b")

DETECTORS: list[tuple[str, str, re.Pattern[str], object]] = [
    ("cpf", "DOC_PESSOAL", _CPF_FAST, lambda m: cpf_checksum_ok(_digits(m))),
    ("cnpj", "DOC_EMPRESA", _CNPJ_FAST,
     lambda m: cnpj_checksum_ok(_digits(m))),
    ("rg", "DOC_PESSOAL", _RG_FAST, lambda m: True),
    ("cep", "ENDERECO", _CEP_FAST, lambda m: True),
    ("email", "CONTATO", EMAIL_RE, lambda m: True),
    ("phone", "CONTATO", PHONE_RE, lambda m: len(_digits(m)) >= 8),
]
# canonical spec pattern for each detector name (the fuzz-equivalence and
# any RE2-side mirror read these, never the _FAST twins)
CANONICAL_RES = {"cpf": CPF_RE, "cnpj": CNPJ_RE, "rg": RG_RE, "cep": CEP_RE,
                 "email": EMAIL_RE, "phone": PHONE_RE}

# '@'-anchored email scan: EMAIL_RE starts with a letter class, so sre's
# charset skip never skips on word text — the engine re-consumes the local
# part at every word position (~35 MB/s). Anchoring on '@' (C-level
# str.find) is O(n): every match contains exactly one '@' (both value
# classes exclude it), matches are ordered by '@' position, and clipping
# the leftward local-part expansion at the previous match end reproduces
# finditer's non-overlap advance exactly. Fuzz-pinned against EMAIL_RE.
_EMAIL_LOCAL_CHARS = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789._%+-")
_EMAIL_DOMAIN_AT = re.compile(r"[A-Za-z0-9.\-]+\.[A-Za-z]{2,}")


def _email_spans(text: str) -> list[tuple[int, int]]:
    """(start, end) of every EMAIL_RE.finditer match, via the '@' anchor."""
    out: list[tuple[int, int]] = []
    local = _EMAIL_LOCAL_CHARS
    find = text.find
    last_end = 0
    pos = find("@")
    while pos != -1:
        s = pos
        while s > last_end and text[s - 1] in local:
            s -= 1
        if s < pos:  # non-empty local part
            m = _EMAIL_DOMAIN_AT.match(text, pos + 1)
            if m is not None:
                end = m.end()
                out.append((s, end))
                last_end = end
                pos = find("@", end)
                continue
        pos = find("@", pos + 1)
    return out

DETECTOR_CONF = 1.0


def detect_spans(text: str) -> list[Span]:
    """All validated detector matches as scored spans (conf=1.0).

    n_tokens approximates the match's word-token count so min-token filters
    behave sensibly. Overlaps across detectors (e.g. a bare 11-digit CPF
    inside a phone number) are healed downstream by merge_and_resolve.
    """
    if not text:
        return []
    found: list[Span] = []
    for _name, typ, rx, ok in DETECTORS:
        if _name == "email":
            # '@'-anchored O(n) scan; email values contain no whitespace
            # (both classes exclude it), so ntok is always 1
            for a, b in _email_spans(text):
                found.append(Span(a, b, typ, DETECTOR_CONF, 1))
            continue
        for m in rx.finditer(text):
            if not ok(m.group(0)):  # type: ignore[operator]
                continue
            ntok = max(1, len(m.group(0).split()))
            found.append(Span(m.start(), m.end(), typ, DETECTOR_CONF, ntok))
    found.sort(key=lambda s: (s.start, s.end, s.type))
    return found
