"""Regex detectors + checksum validation. [NORTH-ONLY stage]"""

import pytest

from pii_core.detectors import (
    cnpj_checksum_ok,
    cpf_checksum_ok,
    detect_spans,
)
from pii_core.spans import merge_and_resolve


@pytest.mark.parametrize("cpf,ok", [
    ("52998224725", True),
    ("11144477735", True),
    ("52998224724", False),   # bad check digit
    ("00000000000", False),   # all-equal
    ("1234567890", False),    # wrong length
])
def test_cpf_mod11(cpf, ok):
    assert cpf_checksum_ok(cpf) is ok


@pytest.mark.parametrize("cnpj,ok", [
    ("11222333000181", True),
    ("11444777000161", True),
    ("11222333000180", False),
    ("00000000000000", False),
    ("1122233300018", False),
])
def test_cnpj_check_digits(cnpj, ok):
    assert cnpj_checksum_ok(cnpj) is ok


def test_detect_formatted_and_bare():
    text = "CPF 529.982.247-25 e bare 52998224725 e invalido 529.982.247-24."
    spans = detect_spans(text)
    vals = [(text[s.start:s.end], s.type) for s in spans]
    assert ("529.982.247-25", "DOC_PESSOAL") in vals
    assert ("52998224725", "DOC_PESSOAL") in vals
    assert all(v != "529.982.247-24" for v, _ in vals)  # checksum rejected


def test_detect_all_types():
    text = (
        "Email a.b@x.org tel (61) 99999-8888 CEP 70040-010 RG 1.234.567-8 "
        "CNPJ 11.444.777/0001-61."
    )
    spans = detect_spans(text)
    types = {s.type for s in spans}
    assert types == {"CONTATO", "ENDERECO", "DOC_PESSOAL", "DOC_EMPRESA"}
    assert all(s.conf == 1.0 for s in spans)
    assert spans == sorted(spans, key=lambda s: (s.start, s.end, s.type))


def test_bare_cpf_inside_phone_resolved_by_length():
    # an 11-digit run that passes the CPF checksum AND matches the phone shape:
    # overlap resolution keeps the longer span deterministically
    text = "ligue (11) 14447-7735 agora"
    spans = merge_and_resolve(detect_spans(text))
    assert len(spans) == 1
    got = text[spans[0].start:spans[0].end]
    assert got == "(11) 14447-7735"


def test_empty_text():
    assert detect_spans("") == []


def test_batch_checksums_match_scalar_exactly():
    """The NumPy digit-matrix validators must agree elementwise with the
    scalar mod-11 functions on every input class: valid, check-digit-off,
    all-equal, wrong length, formatted (non-digit chars), empty, None,
    and non-ASCII decimal digits (which str.isdigit/int accept)."""
    import numpy as np

    from pii_core.detectors import (
        cnpj_checksum_ok,
        cnpj_checksum_ok_batch,
        cpf_checksum_ok,
        cpf_checksum_ok_batch,
    )

    def variants(valid):
        out = [valid, valid[:-1] + str((int(valid[-1]) + 1) % 10)]
        out += ["1" * len(valid), valid[:-1], valid + "0", "", "abc",
                valid[:-1] + "x"]
        # arabic-indic digits: scalar accepts them, batch must agree
        trans = str.maketrans("0123456789", "٠١٢٣٤٥٦٧٨٩")
        out.append(valid.translate(trans))
        # digit-but-not-decimal (superscript two, isdigit-True): must be
        # False on BOTH paths, not a ValueError that kills the Arrow batch
        out.append(valid[:-1] + "²")
        return out

    cpfs = variants("52998224725") + ["52998224725 ", " 52998224725"]
    want = [cpf_checksum_ok(v) for v in cpfs]
    assert cpf_checksum_ok_batch(cpfs).tolist() == want
    assert want[0] is True and want[-4] is True  # the unicode variant passes
    assert want[-3] is False                     # superscript: False, no raise

    cnpjs = variants("11222333000181")
    want = [cnpj_checksum_ok(v) for v in cnpjs]
    assert cnpj_checksum_ok_batch(cnpjs).tolist() == want

    # bulk random parity + empty batch
    rng = np.random.default_rng(5)
    bulk = ["".join(map(str, rng.integers(0, 10, 11))) for _ in range(500)]
    assert cpf_checksum_ok_batch(bulk).tolist() == [
        cpf_checksum_ok(v) for v in bulk]
    bulk14 = ["".join(map(str, rng.integers(0, 10, 14))) for _ in range(500)]
    assert cnpj_checksum_ok_batch(bulk14).tolist() == [
        cnpj_checksum_ok(v) for v in bulk14]
    assert cpf_checksum_ok_batch([]).tolist() == []


def test_fast_detector_patterns_match_canonical_exactly():
    """The _FAST digit-led twins (leading \\d class restores sre's
    first-set skip; `\\d(?<!\\w\\d)` == `\\b\\d`) must produce the exact
    same (start, end) match sequence as the canonical lookbehind-free spec
    patterns on adversarial digit/punctuation soup and on the synth
    corpus."""
    import random

    from pii_core.detectors import CANONICAL_RES, DETECTORS
    from pii_core.html_extract import html_to_text
    from pii_spark.synth import gen_pages

    fast = {name: rx for name, _t, rx, _ok in DETECTORS}
    rng = random.Random(99)
    alph = "0123456789 .-abcxX_\n()/@%+"
    texts = ["".join(rng.choice(alph) for _ in range(rng.randrange(0, 60)))
             for _ in range(60000)]
    texts += [html_to_text(p["html"]) or (p["text"] or "")
              for p in gen_pages(300, seed=77)]
    for name, canon in CANONICAL_RES.items():
        f = fast[name]
        for t in texts:
            a = [(m.start(), m.end()) for m in canon.finditer(t)]
            b = [(m.start(), m.end()) for m in f.finditer(t)]
            assert a == b, (name, t)


def test_email_prefilter_keeps_behavior():
    from pii_core.detectors import detect_spans

    spans = detect_spans("Contato direto: fulano.tal+x@orgao.gov.br hoje.")
    assert any(s.type == "CONTATO" for s in spans)
    assert detect_spans("Sem contato eletronico aqui, apenas texto.") == []


def test_email_anchor_scan_matches_regex_exactly():
    """The '@'-anchored O(n) email scan must reproduce EMAIL_RE.finditer's
    (start, end) sequence exactly — incl. overlap suppression (a match's
    end clips the next local-part expansion) and multi-@ pathologies."""
    import random

    from pii_core.detectors import EMAIL_RE, _email_spans

    cases = ["a@b.com", "a@b.com@c.com", "x@y.com.zz@w.com", "a@@b.cc",
             "@b.cc", "a@b", "a.b-c_d%e+f@g-h.i.jk", "aa@bb.cc dd@ee.ff",
             "user@exemplo.gov.br, outro@x.org;fim@z.co", "a" * 50 + "@b.com",
             "a@" + "b." * 30 + "com", "x@y.z@w.ab", ".@a.bc", "a@-.bc", "@"]
    rng = random.Random(31337)
    alph = "abAB019._%+-@ .\ncom x@ @@ çé"
    cases += ["".join(rng.choice(alph) for _ in range(rng.randrange(0, 60)))
              for _ in range(40000)]
    for s in cases:
        assert [(m.start(), m.end()) for m in EMAIL_RE.finditer(s)] \
            == _email_spans(s), s
