"""Stub NER emitter: soundness of the per-rule needle prechecks, which skip a
gazetteer regex when no needle occurs in the case-folded chunk text."""

from __future__ import annotations

import random
import re
import string

from pii_core.ner_stub import (
    _L2I,
    _RE_ASCII_FOLDS,
    _RULE_NEEDLES,
    _RULES,
    _needle_text,
    stub_emissions,
)
from pii_core.tokenizer import WordTokenizer


def test_re_ascii_folds_are_exactly_what_re_ignorecase_folds():
    """The fold map must list every non-ASCII character that an
    IGNORECASE regex matches to an ASCII letter — a missing one would let
    the precheck skip a rule whose regex matches."""
    every = "".join(chr(c) for c in range(0x80, 0x110000)
                    if not 0xD800 <= c <= 0xDFFF)
    found = {}
    for ch in re.findall(r"[a-z]", every, re.IGNORECASE):
        letters = [a for a in string.ascii_lowercase
                   if re.fullmatch(a, ch, re.IGNORECASE)]
        assert len(letters) == 1, (hex(ord(ch)), letters)
        found[ch] = letters[0]
    assert found == _RE_ASCII_FOLDS


def test_precheck_keeps_rules_matched_through_re_casefolding():
    """Each text matches its rule's regex only through a character that
    ``str.lower`` does not fold to ASCII; the rule must still fire."""
    tok = WordTokenizer()
    for text, typ in [("Traveſſa das Flores, 10", "ENDERECO"),
                      ("naſcido em 01/02/1990", "DATA_NASC"),
                      ("Avenİda Brasil, 10", "ENDERECO"),
                      ("Avenıda Brasil, 10", "ENDERECO")]:
        em = stub_emissions(text, tok.encode_arr(text))
        assert em[:, _L2I[f"B-{typ}"]].max() > 0, text


_FRAGMENTS = ["Rua", "Avenida", "Av.", "Quadra", "Travessa", "Alameda",
              "nascido em", "nascida em", "data de nascimento:",
              "das Flores", "Brasil", ",", " 10", " nº 5", "01/02/1990",
              "12345-678901/2020-11", "processo", "Maria", "acesso", "ã é ç",
              "\n", ".", "/"]
_VARIANTS = {"i": "iIİı", "s": "sSſ", "k": "kKK", "a": "aAáª",
             "e": "eEé", "o": "oOºó", "u": "uUú"}


def _adversarial(rng: random.Random) -> str:
    text = " ".join(rng.choice(_FRAGMENTS)
                    for _ in range(rng.randint(1, 6)))
    out = []
    for ch in text:
        r = rng.random()
        if r < 0.3 and ch.lower() in _VARIANTS:
            out.append(rng.choice(_VARIANTS[ch.lower()]))
        elif r < 0.45:
            out.append(ch.swapcase())
        else:
            out.append(ch)
    return "".join(out)


def test_needle_precheck_never_skips_a_matching_rule():
    """Differential soundness over a casefold-adversarial corpus: whenever
    the precheck says skip, the rule's regex finds no match."""
    rng = random.Random(20261017)
    folded_matches = 0
    for _ in range(20000):
        text = _adversarial(rng)
        low = _needle_text(text)
        for ri, needles in _RULE_NEEDLES.items():
            m = _RULES[ri][0].search(text)
            if not any(n in low for n in needles):
                assert m is None, (ri, text)
            elif m and any(c in m.group(0) for c in _RE_ASCII_FOLDS):
                folded_matches += 1
    # the corpus does reach the hard case: matches that need re's folds
    assert folded_matches > 100
