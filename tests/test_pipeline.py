"""End-to-end pipeline: determinism, chunk-boundary healing, decision
logic, detector/NER union, and parity of the batch core with the
per-document oracle (tests/oracles/pipeline.py)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pii_core.labels import PII_TYPES
from pii_core.pipeline import ExtractConfig, extract_document, extract_page
from oracles import pipeline as oracle


def test_empty_doc_is_public():
    spans, public = extract_document("")
    assert spans == [] and public is True


def test_detector_only_doc():
    cfg = ExtractConfig(use_ner=False)
    text = "Contato: maria@x.org e CPF 529.982.247-25."
    spans, public = extract_document(text, cfg)
    assert {s.type for s in spans} == {"CONTATO", "DOC_PESSOAL"}
    assert public is False


def test_non_pii_only_doc_is_public():
    cfg = ExtractConfig(use_ner=False)
    text = "Empresa CNPJ 11.222.333/0001-81 regular."
    spans, public = extract_document(text, cfg)
    assert [s.type for s in spans] == ["DOC_EMPRESA"]
    assert "DOC_EMPRESA" not in PII_TYPES
    assert public is True


def test_deterministic_across_calls():
    text = ("Maria Clara Santos mora na Rua Azul, 45. " * 30
            + "Email m@x.org CPF 529.982.247-25. " * 5)
    a = extract_document(text)
    b = extract_document(text)
    assert a == b


def test_value_straddling_chunk_boundary_is_healed():
    # Force tiny chunks so the email straddles a boundary; mean-logit
    # aggregation + same-type merge must still produce one exact span.
    filler = "palavra comum repetida muitas vezes aqui. "
    text = filler * 12 + "escreva para maria.santos@example.com hoje. " + filler * 12
    cfg = ExtractConfig(max_length=24, stride=8)
    spans, _ = extract_document(text, cfg)
    emails = [s for s in spans if s.type == "CONTATO"]
    assert len(emails) == 1
    assert text[emails[0].start:emails[0].end] == "maria.santos@example.com"


def test_partitioning_of_doc_list_irrelevant():
    # document independence: extracting docs in any order/batching yields
    # identical per-doc results (the Spark engine relies on this)
    docs = [
        "Dr. João Pedro Lima, CPF 529.982.247-25.",
        "Reunião na Quadra 10, 22 amanhã.",
        "sem pii aqui",
    ]
    fwd = [extract_document(d) for d in docs]
    rev = [extract_document(d) for d in reversed(docs)]
    assert fwd == list(reversed(rev))


def test_aggregate_none_matches_mean_logits_on_nonoverlap_content():
    text = "Nada de interesse " * 50 + "fale com ana.lima@example.org agora. "
    a, _ = extract_document(text, ExtractConfig(max_length=32, stride=8))
    b, _ = extract_document(text, ExtractConfig(max_length=32, stride=8, aggregate="none"))
    ea = [s for s in a if s.type == "CONTATO"]
    eb = [s for s in b if s.type == "CONTATO"]
    assert [(s.start, s.end) for s in ea] == [(s.start, s.end) for s in eb]


def test_extract_page_html_and_record_shape():
    html = (b"<body><p>Sr. Carlos Eduardo Souza pede acesso. "
            b"CPF 529.982.247-25 telefone (61) 99999-0000.</p></body>")
    rec = extract_page("u1", html, None)
    assert rec["url"] == "u1"
    assert rec["extracted_text"].startswith("Sr. Carlos Eduardo Souza")
    assert rec["should_be_public"] is False
    for s in rec["spans"]:
        assert rec["extracted_text"][s["start"]:s["end"]] == s["value"]
        assert s["conf"] == round(s["conf"], 2)


def test_extract_page_falls_back_to_text():
    rec = extract_page("u2", None, "texto simples com c@d.org dentro")
    assert rec["extracted_text"] == "texto simples com c@d.org dentro"
    assert [s["value"] for s in rec["spans"]] == ["c@d.org"]


def test_argmax_decode_path():
    # non-conflicting emissions: both decoders agree
    text = "Assinado por Ana Maria Braga ontem."
    spans_v, _ = extract_document(text, ExtractConfig(decode="bio_viterbi"))
    spans_a, _ = extract_document(text, ExtractConfig(decode="argmax"))
    assert [(s.start, s.end, s.type) for s in spans_v] == \
           [(s.start, s.end, s.type) for s in spans_a]
    assert any(s.type == "NOME_PESSOA" for s in spans_v)


def test_viterbi_beats_argmax_on_conflicting_emissions():
    # "Avenida Central" matches both the person and the address gazetteer
    # rule; Viterbi's BIO constraints pick one consistent path where argmax
    # fragments — this is exactly why the reference defaults to bio_viterbi.
    text = "Ana Maria Braga esteve na Avenida Central, 100."
    spans_v, _ = extract_document(text, ExtractConfig(decode="bio_viterbi"))
    assert (26, 46, "ENDERECO") in [(s.start, s.end, s.type) for s in spans_v]


def test_ner_disabled():
    spans, _ = extract_document("Maria Clara Santos", ExtractConfig(use_ner=False))
    assert spans == []


def test_min_span_tokens_filter_applies_to_ner():
    text = "Assinado: Pedro Henrique Alves."
    base, _ = extract_document(text, ExtractConfig(use_detectors=False))
    assert any(s.type == "NOME_PESSOA" for s in base)
    strict, _ = extract_document(
        text,
        ExtractConfig(use_detectors=False, min_span_tokens_by_type={"NOME_PESSOA": 99}),
    )
    assert strict == []


def test_single_chunk_fast_path_equivalent():
    """The single-chunk fast path must produce byte-identical spans to the
    oracle's plain dict accumulation — on whole pages, and on the
    aggregation matrix of every single-chunk page among them (so the fast
    path is known to have run)."""
    from pii_core.chunking import build_chunks_with_offsets
    from pii_core.ner_stub import stub_emissions
    from pii_core.pipeline import (
        _mean_logit_matrix,
        _payload_to_text,
        extract_page_batch,
    )
    from pii_spark.synth import gen_pages

    pages = [(p["url"], p["html"], p["text"])
             for p in gen_pages(60, seed=21)]
    assert extract_page_batch(pages) == [oracle.extract_page(*p)
                                         for p in pages]

    cfg = ExtractConfig()
    tok = cfg.make_tokenizer()
    single = 0
    for _url, html, text in pages:
        pairs = build_chunks_with_offsets(
            _payload_to_text(html, text), tok, max_length=cfg.max_length,
            stride=cfg.stride, boundary_backoff=cfg.boundary_backoff)
        if len(pairs) != 1 or not len(pairs[0][1]):
            continue
        single += 1
        ch, offs = pairs[0]
        items = [(ch, offs, stub_emissions(ch.text, offs))]
        keys, em = _mean_logit_matrix(items, 1, trusted_offsets=True)
        want_keys, want_em = oracle.mean_logits(items)
        assert np.asarray(keys).tolist() == [list(k) for k in want_keys]
        assert em.tobytes() == want_em.tobytes()
    assert single >= 30


def test_extract_page_batch_parity_mixed_corpus():
    """Cross-document batching (VERDICT r2 #2) must be byte-identical to the
    per-document oracle on a mixed corpus: short single-chunk pages,
    multi-chunk pages (overlap accumulation spanning forward-group
    boundaries), PDFs, empty payloads, text-only rows — and a failing page
    must map to its Exception without poisoning neighbors."""
    from pii_core.pipeline import extract_page_batch
    from pii_spark.synth import gen_pages

    pages = [(p["url"], p["html"], p["text"]) for p in gen_pages(40, seed=5)]
    long_body = ("<p>" + "Solicito acesso ao processo. " * 400
                 + " CPF 529.982.247-25 contato x@y.org</p>").encode()
    pages += [
        ("multi1", long_body, None),
        ("empty", b"", None),
        ("textonly", None, "contato maria@example.com aqui"),
        # giant unbroken run: chunker fail-fast (hard_split off) -> Exception
        ("fails", ("<p>" + "z" * 20000 + "</p>").encode(), None),
        ("multi2", long_body, None),
    ]
    cfg = ExtractConfig(max_length=64, stride=16, batch_size=8)
    got = extract_page_batch(pages, cfg)
    assert len(got) == len(pages)
    for (url, html, text), rec in zip(pages, got):
        if url == "fails":
            assert isinstance(rec, RuntimeError)
            continue
        assert rec == oracle.extract_page(url, html, text, cfg), url


def test_cross_document_forward_batching_saturates():
    """Forward passes must be shared ACROSS documents: N single-chunk pages
    at batch_size B take ceil(chunks/B) emit_batch calls, each full except
    the last — per-document batching would take N batch-of-1 calls and
    starve a GPU emitter."""
    import math

    from pii_core.ner_stub import StubEmitter
    from pii_core.pipeline import extract_page_batch
    from pii_spark.synth import gen_pages

    class CountingEmitter(StubEmitter):
        def __init__(self):
            self.calls = []

        def emit_batch(self, texts, offsets_list):
            self.calls.append(len(texts))
            return super().emit_batch(texts, offsets_list)

    pages = [(p["url"], p["html"], p["text"]) for p in gen_pages(50, seed=7)]
    cfg = ExtractConfig(batch_size=8)
    em = CountingEmitter()
    recs = extract_page_batch(pages, cfg, em, cfg.make_tokenizer())
    assert all(not isinstance(r, Exception) for r in recs)
    total_chunks = sum(em.calls)
    assert total_chunks >= len(pages)  # every page contributed >= 1 chunk
    assert len(em.calls) == math.ceil(total_chunks / 8)
    assert all(c == 8 for c in em.calls[:-1]) and em.calls[-1] <= 8


_WORDS = ["processo", "acesso", "Maria Silva", "CPF 529.982.247-25",
          "contato x@y.org", "Rua das Flores, 10", "ABC-1234", "&", "<p>",
          "informacao", "ã é ç", "12345-678901/2020-11", "", "zzzz" * 30]


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_batch_vs_per_page_parity_property(data):
    """Randomized twin of the fixed-corpus parity test: for ANY corpus of
    small documents (html / raw text / empty / None payloads, entity
    snippets at random positions), any batch_size, and a random chunk
    geometry, extract_page_batch must equal the per-document oracle
    elementwise — quarantined pages included (same exception type) — and
    must not depend on where the record list is split across calls (Arrow
    batch boundaries)."""
    from pii_core.pipeline import extract_page_batch

    st_doc = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=25) \
        .map(" ".join)
    docs = data.draw(st.lists(st_doc, min_size=1, max_size=12))
    max_length = data.draw(st.integers(16, 64))
    stride = data.draw(st.integers(0, min(15, max_length - 3)))
    # decode/aggregate drawn too: every combination decodes through the
    # same batched window (argmax rows or batched Viterbi, one unit per
    # document or per chunk) and must stay byte-identical there
    cfg = ExtractConfig(max_length=max_length, stride=stride,
                        batch_size=data.draw(st.integers(1, 7)),
                        decode=data.draw(st.sampled_from(
                            ["bio_viterbi", "argmax"])),
                        aggregate=data.draw(st.sampled_from(
                            ["mean_logits", "none"])))
    pages = []
    for i, txt in enumerate(docs):
        kind = data.draw(st.sampled_from(["html", "text", "none"]))
        if kind == "html":
            pages.append((f"u{i}", f"<body><p>{txt}</p></body>".encode(), None))
        elif kind == "text":
            pages.append((f"u{i}", None, txt))
        else:
            pages.append((f"u{i}", None, None))
    got = extract_page_batch(pages, cfg)
    assert len(got) == len(pages)
    for (url, html, text), rec in zip(pages, got):
        try:
            want = oracle.extract_page(url, html, text, cfg)
        except Exception as e:  # noqa: BLE001 — parity includes failures
            assert isinstance(rec, type(e)), url
            continue
        assert rec == want, url

    def same(a, b):  # Exceptions compare by type and message
        if isinstance(a, Exception):
            return type(a) is type(b) and str(a) == str(b)
        return a == b

    cut = data.draw(st.integers(0, len(pages)))
    split = (extract_page_batch(pages[:cut], cfg)
             + extract_page_batch(pages[cut:], cfg))
    assert len(split) == len(got)
    assert all(same(a, b) for a, b in zip(split, got)), cut


def test_short_emit_batch_never_silently_truncates():
    """An emitter that violates the count contract (returns fewer emissions
    than chunks) must not let zip-truncation pair emissions with the wrong
    chunks: the group retries per chunk, and pages whose single-chunk call
    also miscounts quarantine with a loud contract error."""
    from pii_core.ner_stub import StubEmitter
    from pii_core.pipeline import extract_page_batch
    from pii_spark.synth import gen_pages

    class ShortEmitter(StubEmitter):
        def emit_batch(self, texts, offsets_list):
            out = super().emit_batch(texts, offsets_list)
            return out[:-1] if len(out) > 1 else []

    pages = [(p["url"], p["html"], p["text"]) for p in gen_pages(10, seed=4)]
    cfg = ExtractConfig(batch_size=4)
    recs = extract_page_batch(pages, cfg, ShortEmitter(), cfg.make_tokenizer())
    assert len(recs) == len(pages)
    # every page either quarantined with the contract error, or (docs with
    # zero emission-needing chunks) matches the healthy oracle record
    for (url, html, text), rec in zip(pages, recs):
        if isinstance(rec, Exception):
            assert "emissions" in str(rec), url
        else:
            assert rec == oracle.extract_page(url, html, text, cfg), url
    assert any(isinstance(r, Exception) for r in recs)


def test_chunking_config_error_aborts_batch_instead_of_quarantining():
    """A config that can never work for ANY page (stride >= the real
    tokenizer's budget) must ABORT extract_page_batch — quarantining it
    per page would record every document as a fail-closed error row and
    commit every url as done: a silently lost corpus."""
    import pytest

    from pii_core.chunking import ChunkingConfigError
    from pii_core.ner_stub import StubEmitter
    from pii_core.pipeline import extract_page_batch
    from pii_core.tokenizer import WordTokenizer

    cfg = ExtractConfig(max_length=64, stride=60)  # fine for 2 specials
    many_specials = WordTokenizer(piece_len=8, num_special_tokens=6)
    with pytest.raises(ChunkingConfigError):
        extract_page_batch([("u", None, "texto longo o suficiente " * 40)],
                           cfg, StubEmitter(), many_specials)


def test_per_doc_path_rejects_short_emit_batch():
    """extract_page (a one-record batch call) must fail loudly on an
    emitter count-contract violation, not zip-truncate: the short group
    retries per chunk (_emit_group), each one-chunk call miscounts too, and
    the page's contract error is raised. A silently dropped trailing chunk
    would leave its PII undecoded and the page could pass as public."""
    import pytest

    from pii_core.ner_stub import StubEmitter

    class ShortEmitter(StubEmitter):
        def emit_batch(self, texts, offsets_list):
            return super().emit_batch(texts, offsets_list)[:-1]

    cfg = ExtractConfig(max_length=32, stride=8, batch_size=4)
    long_text = "Solicito acesso ao processo administrativo. " * 30
    with pytest.raises(RuntimeError, match="emissions"):
        extract_page("u", None, long_text, cfg, ShortEmitter(),
                     cfg.make_tokenizer())


def test_model_path_config_rejects_degenerate_stride_eagerly():
    """A stride that can't fit any realistic transformer budget must fail
    at CONSTRUCTION (submit time): on the executor the chunker's raise
    lands in the per-page quarantine, which would silently fail-close an
    entire corpus run."""
    import pytest

    with pytest.raises(ValueError, match="stride"):
        ExtractConfig(model_path="some/checkpoint", max_length=512,
                      stride=511)
    # ...while a normal config with a model path still constructs,
    # with the padding-determinism knob plumbed through
    cfg = ExtractConfig(model_path="some/checkpoint", stride=64,
                        pad_to_max=False)
    assert cfg.pad_to_max is False
    assert ExtractConfig().pad_to_max is True


def test_emitter_failure_quarantines_only_its_page():
    """An EMITTER exception (model OOM, tokenizer-adapter error on one
    pathological chunk) must quarantine only the page that caused it: the
    group retries per chunk, neighbors sharing the forward group get real
    emissions, and extract_page_batch never raises (a raise would abort the
    whole Spark task and, after retries, the cluster job)."""
    from pii_core.ner_stub import StubEmitter
    from pii_core.pipeline import extract_page_batch
    from pii_spark.synth import gen_pages

    poison = "GATILHO_DO_MODELO"

    class FlakyEmitter(StubEmitter):
        def emit_batch(self, texts, offsets_list):
            if any(poison in t for t in texts):
                raise RuntimeError("model exploded on pathological input")
            return super().emit_batch(texts, offsets_list)

    pages = [(p["url"], p["html"], p["text"]) for p in gen_pages(20, seed=9)]
    pages.insert(7, ("poisoned", None, f"texto com {poison} no meio"))
    cfg = ExtractConfig(batch_size=8)
    recs = extract_page_batch(pages, cfg, FlakyEmitter(), cfg.make_tokenizer())
    assert len(recs) == len(pages)
    bad = [(u, r) for (u, _h, _t), r in zip(pages, recs)
           if isinstance(r, Exception)]
    assert [u for u, _ in bad] == ["poisoned"]
    assert "model exploded" in str(bad[0][1])
    # neighbors (including ones that shared the poisoned forward group)
    # match the healthy-emitter oracle output exactly
    for (url, html, text), rec in zip(pages, recs):
        if url != "poisoned":
            assert rec == oracle.extract_page(url, html, text, cfg), url


@pytest.mark.parametrize("aggregate", ["mean_logits", "none"])
def test_decode_failure_quarantines_only_its_page(monkeypatch, aggregate):
    """A decode failure in the batched window quarantines only the page
    whose matrix fails: the failed batch call retries each unit alone
    through viterbi_bio, and every neighbor (multi-chunk pages included)
    equals the per-document oracle."""
    import pii_core.pipeline as pl
    from pii_core.ner_stub import StubEmitter
    from pii_spark.synth import gen_pages

    poison, mark = "GATILHO_DO_DECODE", 12345.0

    class MarkingEmitter(StubEmitter):
        def emit_batch(self, texts, offsets_list):
            ems = super().emit_batch(texts, offsets_list)
            return [np.full_like(em, mark) if poison in t else em
                    for t, em in zip(texts, ems)]

    real_viterbi = pl.viterbi_bio
    batch_calls = []

    def batch_down(ems, labels, o_id):
        batch_calls.append(len(ems))
        raise RuntimeError("batched decode down")

    def flaky(em, labels, o_id):
        if (np.asarray(em) == mark).any():
            raise RuntimeError("decode exploded on one page")
        return real_viterbi(em, labels, o_id)

    monkeypatch.setattr(pl, "viterbi_bio_batch", batch_down)
    monkeypatch.setattr(pl, "viterbi_bio", flaky)
    pages = [(p["url"], p["html"], p["text"]) for p in gen_pages(20, seed=9)]
    pages.insert(7, ("poisoned", None, f"{poison} " * 80))
    cfg = ExtractConfig(max_length=64, stride=16, aggregate=aggregate)
    recs = pl.extract_page_batch(pages, cfg, MarkingEmitter(),
                                 cfg.make_tokenizer())
    assert batch_calls
    assert [u for (u, _h, _t), r in zip(pages, recs)
            if isinstance(r, Exception)] == ["poisoned"]
    assert "decode exploded" in str(recs[7])
    for (url, html, text), rec in zip(pages, recs):
        if url != "poisoned":
            assert rec == oracle.extract_page(url, html, text, cfg), url


@pytest.mark.parametrize("aggregate", ["mean_logits", "none"])
@pytest.mark.parametrize("bad", [None, "short"])
def test_malformed_emission_quarantines_only_its_page(aggregate, bad):
    """An emitter that returns something other than one row per token for
    one chunk (None, a short array) quarantines only that page: the
    decode window never sees a malformed matrix, so the call does not
    abort and the neighbors equal the per-document oracle."""
    from pii_core.ner_stub import StubEmitter
    from pii_core.pipeline import extract_page_batch
    from pii_spark.synth import gen_pages

    class Malformed(StubEmitter):
        def emit_batch(self, texts, offsets_list):
            ems = super().emit_batch(texts, offsets_list)
            return [em if "GATILHO" not in t
                    else None if bad is None else em[:-1]
                    for t, em in zip(texts, ems)]

    pages = [(p["url"], p["html"], p["text"]) for p in gen_pages(12, seed=9)]
    pages.insert(5, ("poisoned", None, "texto com GATILHO no meio"))
    cfg = ExtractConfig(aggregate=aggregate)
    recs = extract_page_batch(pages, cfg, Malformed(), cfg.make_tokenizer())
    assert [u for (u, _h, _t), r in zip(pages, recs)
            if isinstance(r, Exception)] == ["poisoned"]
    assert "mismatch" in str(recs[5])
    for (url, html, text), rec in zip(pages, recs):
        if url != "poisoned":
            assert rec == oracle.extract_page(url, html, text, cfg), url


def test_emitter_without_emit_batch_aborts_the_call():
    """emit_batch is the only emitter call form: an emitter without it
    makes extract_page_batch raise before any page runs, instead of
    returning one quarantined record per page (a fail-closed corpus)."""
    from pii_core.ner_stub import StubEmitter
    from pii_core.pipeline import extract_page_batch

    class CallOnly:
        labels = StubEmitter.labels

        def __call__(self, text, offsets):
            return StubEmitter()(text, offsets)

    cfg = ExtractConfig()
    with pytest.raises(AttributeError, match="emit_batch"):
        extract_page_batch([("u1", None, "Maria Clara Santos aqui"),
                            ("u2", None, "sem pii")],
                           cfg, CallOnly(), cfg.make_tokenizer())


def test_per_doc_path_rejects_tokenizer_only_under_model_path():
    """ADVICE r4 (medium): extract_document with a caller-supplied
    tokenizer but no emitter must raise when cfg.model_path is set —
    mirroring extract_page_batch's guard — instead of silently running
    StubEmitter gazetteer spans against a model config (pages published
    as public with unscanned names)."""
    import pytest

    cfg = ExtractConfig(model_path="some/checkpoint", stride=64)
    tok = cfg.make_tokenizer()
    with pytest.raises(ValueError, match="only a tokenizer"):
        extract_document("Maria da Silva mora aqui.", cfg, tokenizer=tok)
    # tokenizer-only WITHOUT a model path stays valid (stub is the
    # configured emitter there), and both-supplied stays valid
    spans, _ = extract_document(
        "Contato: teste@exemplo.com.br", ExtractConfig(), tokenizer=tok)
    assert any(s.type == "CONTATO" for s in spans)


def test_giant_page_cap_quarantines_before_parse():
    """Straggler bound: a payload above max_doc_bytes raises
    DocTooLargeError BEFORE any parse work (extract_page) and quarantines
    ONLY its own page on the batch path — one multi-MB pathological page
    (its chunks colocate for fp32 determinism, so it cannot be split) must
    not pin a task. Pages under the cap are untouched; None disables."""
    import pytest

    from pii_core.pipeline import DocTooLargeError, extract_page_batch
    from pii_spark.synth import gen_giant_page, gen_page

    giant = gen_giant_page(0, seed=5)
    assert len(giant["html"]) > 10_000_000
    cfg = ExtractConfig()  # default cap 10 MB
    with pytest.raises(DocTooLargeError, match="max_doc_bytes"):
        extract_page(giant["url"], giant["html"], None, cfg)

    normal = [gen_page(i, seed=5) for i in range(3)]
    recs = extract_page_batch(
        [(p["url"], p["html"], p["text"]) for p in normal]
        + [(giant["url"], giant["html"], None)], cfg)
    assert isinstance(recs[3], DocTooLargeError)
    for p, rec in zip(normal, recs[:3]):
        assert rec == oracle.extract_page(p["url"], p["html"], p["text"],
                                          cfg)

    # cap on pre-extracted text payloads (chars), and None disables
    small_cfg = ExtractConfig(max_doc_bytes=100)
    with pytest.raises(DocTooLargeError):
        extract_page("u", None, "x" * 101, small_cfg)
    # the cap bounds page payloads; caller-held text is never capped
    assert extract_document("x" * 101, small_cfg) == ([], True)
    no_cap = ExtractConfig(max_doc_bytes=None)
    rec = extract_page("u", None, "Texto de tamanho normal aqui mesmo.",
                       ExtractConfig(max_doc_bytes=10_000))
    assert rec["url"] == "u"
    assert extract_page("u", None, "x" * 101, no_cap)["extracted_text"]

    with pytest.raises(ValueError, match="max_doc_bytes"):
        ExtractConfig(max_doc_bytes=0)


def test_trusted_offsets_path_equivalent():
    """The trusted-offsets fast path (skipping per-token validation when the
    offsets come from a slice-stable tokenizer's own scan) must be
    byte-identical to the validating path, and an adapter emitting
    degenerate offsets (specials as (0,0), repeats) must still be routed
    through the general accumulation path, never the trusted skip."""
    import pii_core.pipeline as pl
    from pii_core.tokenizer import WordTokenizer
    from pii_spark.synth import gen_pages

    pages = [p for p in gen_pages(60, seed=33)]

    class NotStable(WordTokenizer):
        """Same scan, stability claim withheld (property self-revokes)."""

        def encode(self, text):
            return WordTokenizer.encode(self, text)

    assert WordTokenizer().slice_stable is True
    assert NotStable().slice_stable is False

    cfg = pl.ExtractConfig()
    recs = [(p["url"], p["html"], p["text"]) for p in pages]
    fast = pl.extract_page_batch(recs, cfg, tokenizer=WordTokenizer())
    slow = pl.extract_page_batch(recs, cfg, tokenizer=NotStable())
    assert fast == slow

    # degenerate offsets: _mean_logit_matrix must dedupe/average via the
    # general path even when told offsets are trusted=False (adapter case)
    import numpy as np
    class Ch:
        char_start = 0
    ch = Ch()
    em = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], dtype=np.float32)
    offs = np.array([(0, 0), (1, 3), (1, 3)], dtype=np.int64)
    keys, m = pl._mean_logit_matrix([(ch, offs, em)], 1,
                                    trusted_offsets=False)
    assert keys.tolist() == [[1, 3]]
    assert np.allclose(m, [[4.0, 5.0]])


def test_detector_only_config_never_loads_a_checkpoint():
    """use_ner=False needs no model: a detector-only config with a
    model_path must run the detectors on every path — the Spark UDF calls
    extract_page_batch with the config's own emitter resolution — instead
    of failing to load the checkpoint (every page an error row)."""
    from pii_core.ner_stub import StubEmitter
    from pii_core.pipeline import extract_page_batch
    from pii_core.tokenizer import WordTokenizer
    from pii_spark.synth import gen_pages

    cfg = ExtractConfig(use_ner=False, model_path="some/checkpoint")
    emitter, tokenizer = cfg.make_emitter_and_tokenizer()
    assert isinstance(emitter, StubEmitter)
    assert isinstance(tokenizer, WordTokenizer)

    pages = [(p["url"], p["html"], p["text"]) for p in gen_pages(20, seed=3)]
    pages.append(("cpf", None, "CPF 529.982.247-25, Maria Clara Santos"))
    recs = extract_page_batch(pages, cfg)
    assert recs == [oracle.extract_page(*p, ExtractConfig(use_ner=False))
                    for p in pages]
    assert [s["type"] for s in recs[-1]["spans"]] == ["DOC_PESSOAL"]
    # a tokenizer alone is fine too: without NER no checkpoint tokenizer
    # is needed to pair with it
    assert extract_page_batch(pages, cfg, tokenizer=WordTokenizer()) == recs
