"""HTML main-content extraction — golden tests freezing the [NORTH-ONLY] spec
so byte-identical extracted text per url is a testable invariant."""

from pii_core.html_extract import html_to_text


def test_empty_inputs():
    assert html_to_text(None) == ""
    assert html_to_text(b"") == ""
    assert html_to_text("   ") == ""
    assert html_to_text(b"\xff\xfe\x00") == ""  # undecodable -> replaced, no text


def test_strips_nav_footer_script():
    html = b"""<html><head><title>T</title><script>var x=1;</script></head><body>
    <nav><a href="/">Home</a> <a href="/a">A</a></nav>
    <p>Este paragrafo tem conteudo principal suficiente para ser mantido.</p>
    <footer>copyright 2026 todos os direitos</footer>
    <style>p{color:red}</style>
    </body></html>"""
    out = html_to_text(html)
    assert out == "Este paragrafo tem conteudo principal suficiente para ser mantido."


def test_boilerplate_class_hint_dropped():
    html = b"""<body>
    <div class="sidebar promo">Oferta imperdivel clique aqui agora mesmo sim.</div>
    <div class="content">Texto central do documento com informacao relevante.</div>
    </body>"""
    out = html_to_text(html)
    assert out == "Texto central do documento com informacao relevante."


def test_link_density_filter():
    html = b"""<body>
    <p><a href="/1">um link</a> <a href="/2">outro link</a> <a href="/3">mais um link aqui</a></p>
    <p>Paragrafo normal com texto corrido e nenhuma ancora de navegacao.</p>
    </body>"""
    out = html_to_text(html)
    assert out == "Paragrafo normal com texto corrido e nenhuma ancora de navegacao."


def test_headings_kept_with_lower_threshold():
    html = b"<body><h1>Pedido LAI</h1><p>Corpo do pedido com detalhes suficientes aqui.</p></body>"
    assert html_to_text(html) == "Pedido LAI\n\nCorpo do pedido com detalhes suficientes aqui."


def test_short_blocks_dropped():
    html = b"<body><p>curto</p><p>Este bloco e longo o bastante para passar do limite.</p></body>"
    assert html_to_text(html) == "Este bloco e longo o bastante para passar do limite."


def test_entities_and_whitespace_normalized():
    html = b"<body><p>Jo&atilde;o   foi \n ao centro &amp; voltou cedo demais hoje.</p></body>"
    assert html_to_text(html) == "João foi ao centro & voltou cedo demais hoje."


def test_golden_full_page():
    html = b"""<html><body>
    <header><div class="menu"><a>x</a></div></header>
    <main>
      <h2>Processo 04021-00012345/2024-11</h2>
      <p>Solicito acesso aos autos. Contato: maria@example.com ou (61) 98888-7777.</p>
      <ul><li>Documento pessoal: CPF 529.982.247-25 conforme anexo enviado.</li></ul>
    </main>
    <aside>veja tambem outras paginas relacionadas</aside>
    </body></html>"""
    expect = (
        "Processo 04021-00012345/2024-11\n\n"
        "Solicito acesso aos autos. Contato: maria@example.com ou (61) 98888-7777.\n\n"
        "Documento pessoal: CPF 529.982.247-25 conforme anexo enviado."
    )
    assert html_to_text(html) == expect


def test_void_boilerplate_tag_does_not_drop_following_content():
    # Regression: a boilerplate-classed VOID tag (<img>, <input>) is never
    # pushed on the stack, so if it incremented _drop_depth nothing would
    # ever decrement it and all following text vanished (fail-open PII risk).
    html = b"""<body>
    <img class="footer-logo" src="x.png">
    <p>Conteudo apos a imagem decorativa deve permanecer visivel aqui.</p>
    <input id="comment" type="text">
    <p>E este texto apos o campo de comentario tambem deve permanecer.</p>
    </body>"""
    assert html_to_text(html) == (
        "Conteudo apos a imagem decorativa deve permanecer visivel aqui.\n\n"
        "E este texto apos o campo de comentario tambem deve permanecer."
    )


def test_block_close_with_open_boilerplate_child_still_flushes():
    # Regression: </div> closing a block that wraps a still-open boilerplate
    # child must flush the text accumulated before the child opened.
    html = (
        b'<body><div>Texto principal do bloco externo antes do anuncio aqui.'
        b'<span class="ad">compre agora</span></div>'
        b"<p>Segundo bloco de conteudo relevante apos o primeiro terminar.</p></body>"
    )
    assert html_to_text(html) == (
        "Texto principal do bloco externo antes do anuncio aqui.\n\n"
        "Segundo bloco de conteudo relevante apos o primeiro terminar."
    )


def test_stray_void_block_end_tag_delimits_blocks():
    # </br> with no matching open element occurs in wild HTML and must still
    # delimit blocks (it is a block tag even when stray).
    html = (
        b"<body>Primeira linha de texto longa o suficiente para manter.</br>"
        b"Segunda linha igualmente longa o suficiente para ser mantida.</body>"
    )
    assert html_to_text(html) == (
        "Primeira linha de texto longa o suficiente para manter.\n\n"
        "Segunda linha igualmente longa o suficiente para ser mantida."
    )


def test_deterministic():
    html = b"<body><p>Conteudo principal repetivel e deterministico sem estado.</p></body>"
    assert html_to_text(html) == html_to_text(html)


# =========================================================================
# Wild-HTML fuzz hardening (VERDICT r2 #7)
# =========================================================================
# Round 2's highest-severity finding was a FAIL-OPEN: boilerplate-classed
# void tags leaked _drop_depth so all following text silently vanished
# (never PII-scanned). This suite generates >= 1200 seeded malformed
# documents — unclosed tags, stray end tags, nested boilerplate, CDATA,
# comments, entities, bogus markup, boilerplate void tags — and asserts the
# frozen-spec invariants: KEEP-sentinels placed in content position outside
# any drop scope always survive (no silent text drop), DROP-sentinels
# placed inside boilerplate/drop subtrees never appear, and extraction
# never raises (fail-closed returns "" only on parser error).

_GARBAGE_SNIPPETS = [
    # unclosed inline / block tags (valid-wild HTML)
    "<p>fragmento curto sem fechamento",
    "<li>item solto<li>outro item",
    "<b><i>negrito aninhado sem fim",
    "<span>vazio<div>bloco aberto</div>",
    # stray end tags (nothing open)
    "</p></div></li></span></br></a>",
    "</body></html></table>",
    # comments, CDATA, processing instructions, declarations
    "<!-- comentario com <p>tags</p> dentro -->",
    "<![CDATA[ dados <brutos> & entidades ]]>",
    "<?php echo 'oi'; ?>",
    "<!DOCTYPE html>",
    # entities, raw ampersands, numeric refs, malformed refs
    "&amp; &lt;tag&gt; &#65; &#xE9; &naoexiste; & solto",
    # bogus / truncated markup
    "<foo<bar>texto</foo<bar>",
    "< notatag >",
    "<div", "<>",
    # boilerplate VOID tags (the round-2 fail-open regression)
    '<img class="ad" src="x.png"><input id="cookie-banner">',
    '<br class="sidebar"><hr id="footer-rule"><meta class="promo">',
    # attribute junk
    '<div data-x="a<b" title=\'c>d\'>curto</div>',
    # deeply nested noise
    "<div><div><div><span>" + "x" * 10 + "</span></div></div></div>",
]

_DROP_WRAPPERS = [
    # (open, close) pairs the generator ALWAYS closes: inside, anything dies
    ('<script>', '</script>'),
    ('<style>', '</style>'),
    ('<nav>', '</nav>'),
    ('<div class="sidebar">', '</div>'),
    ('<span id="main-footer">', '</span>'),
    ('<form><fieldset>', '</fieldset></form>'),
    ('<aside><div>', '</div></aside>'),
]


def _fuzz_doc(seed: int):
    """One malformed document + its expected keep/drop sentinel sets.

    The generator tracks drop/link scopes it opens and closes them after
    each segment (wild-HTML chaos stays INSIDE segments), so a
    keep-sentinel's block is provably outside every drop scope with no
    open <a> — the frozen spec then REQUIRES it in the output."""
    import random

    rng = random.Random(seed)
    parts = ["<body>"]
    keeps, drops = [], []
    for seg in range(rng.randrange(2, 7)):
        roll = rng.random()
        if roll < 0.45:  # malformed garbage, then force-close stray <a>s
            # Each snippet is followed by ">" so a truncated tag ("<div")
            # cannot glue onto the NEXT snippet and steal its boilerplate
            # class (which would legitimately open an unclosed drop scope).
            # A stray ">" with nothing open is just short text — harmless.
            parts.append(rng.choice(_GARBAGE_SNIPPETS))
            parts.append(">")
            if rng.random() < 0.5:
                parts.append(rng.choice(_GARBAGE_SNIPPETS))
                parts.append(">")
            parts.append("</a></a>")
        elif roll < 0.7:  # keep-sentinel in content position
            s = (f"Sentinela mantida numero {seed}x{seg} com texto longo "
                 f"o bastante para o corte de vinte e cinco caracteres.")
            keeps.append(s)
            parts.append(f"<p>{s}</p>")
        else:  # drop-sentinel inside a closed boilerplate/drop subtree
            opener, closer = rng.choice(_DROP_WRAPPERS)
            s = f"SENTINELA-DESCARTADA-{seed}-{seg} nunca deve aparecer aqui."
            drops.append(s.split()[0])
            nested = rng.random() < 0.4
            parts.append(opener)
            if nested:
                o2, c2 = rng.choice(_DROP_WRAPPERS)
                parts.append(o2 + s + c2)
            else:
                parts.append(s)
            parts.append(closer)
    if rng.random() < 0.5:
        parts.append("</body>")  # half the docs end unclosed
    return "".join(parts), keeps, drops


def test_fuzz_malformed_html_no_silent_drop_or_leak():
    n_cases = 1200
    n_with_keeps = 0
    for seed in range(n_cases):
        doc, keeps, drops = _fuzz_doc(seed)
        out = html_to_text(doc.encode("utf-8"))   # must never raise
        assert isinstance(out, str)
        for s in keeps:
            assert s in out, f"seed {seed}: silent drop of content text"
        for tok in drops:
            assert tok not in out, f"seed {seed}: boilerplate leaked"
        n_with_keeps += bool(keeps)
    assert n_with_keeps > n_cases // 3  # the suite actually exercises keeps


def test_fuzz_bytes_garbage_never_raises():
    import random

    rng = random.Random(99)
    for _ in range(300):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        out = html_to_text(blob)
        assert isinstance(out, str)


def test_boilerplate_classed_void_tag_does_not_swallow_siblings():
    """Regression: a boilerplate-classed VOID element (<embed>, <source>,
    <wbr>, ...) must not open a drop that never closes — under the old
    partial void set everything after an ad <embed> vanished, and a
    PII-bearing page could publish as public."""
    html = (b"<body><p>Paragrafo de abertura com conteudo bastante longo "
            b"aqui.</p><embed class=\"ad-player\">"
            b"<p>Maria da Silva com CPF 529.982.247-25 nesta linha de "
            b"texto principal.</p></body>")
    out = html_to_text(html)
    assert "529.982.247-25" in out
    assert "Maria da Silva" in out


def test_strict_html_matches_lenient_on_wild_corpus():
    """html_to_text_strict differs from html_to_text ONLY in surfacing
    parser crashes (which the stdlib parser ~never produces): on a wild
    mutated corpus the outputs must be byte-identical."""
    import random

    from pii_core.html_extract import html_to_text_strict
    from pii_spark.synth import gen_page

    rng = random.Random(3)
    muts = ["<", ">", "&#x", "<a href='x", "<embed class=ad>", "</p>",
            "<script>", "\x00", "<!--", "<![CDATA[", "<br/"]
    for i in range(400):
        h = gen_page(i, seed=21)["html"].decode("utf-8", "replace")
        if i % 2 and h:
            pos = rng.randrange(len(h) + 1)
            h = h[:pos] + rng.choice(muts) + h[pos:]
        assert html_to_text_strict(h) == html_to_text(h)


def test_lenient_html_to_text_never_raises_on_non_text():
    """html_to_text is the lenient wrapper: whatever html_to_text_strict
    raises on (a non-text argument, a codec that is not a text encoding)
    reads "" instead."""
    import pytest

    from pii_core.html_extract import html_to_text_strict

    for bad in (12345, ["<p>x</p>"],
                b'<meta charset="base64"><p>texto</p>'):
        with pytest.raises(Exception):
            html_to_text_strict(bad)
        assert html_to_text(bad) == ""


def test_charset_resolution_latin1_and_declared():
    """Charset step 0: a windows-1252 page must not mojibake accented
    names (blind utf-8+replace turned 'José' into 'Jos\\ufffd' and the
    name patterns stopped matching); BOMs and declared meta charsets win;
    clean utf-8 is untouched."""
    body = ("<body><p>O senhor José Araújo da Conceição mora aqui e "
            "assina este documento publico hoje.</p></body>")
    # undeclared latin-1 bytes -> utf-8 strict fails -> cp1252 fallback
    assert "José Araújo da Conceição" in html_to_text(body.encode("cp1252"))
    # declared charset wins even when utf-8 would also decode
    declared = ('<head><meta charset="iso-8859-1"></head>' + body).encode(
        "iso-8859-1")
    assert "José Araújo" in html_to_text(declared)
    # utf-8 page unchanged; utf-8 BOM honored
    assert "José Araújo" in html_to_text(body.encode("utf-8"))
    assert "José Araújo" in html_to_text(
        b"\xef\xbb\xbf" + body.encode("utf-8"))
    # unknown declared charset falls through to the utf-8/cp1252 rule
    junk = ('<meta charset="no-such-enc">' + body).encode("utf-8")
    assert "José Araújo" in html_to_text(junk)
    # determinism: same bytes, same text
    raw = body.encode("cp1252")
    assert html_to_text(raw) == html_to_text(raw)


# ---------------------------------------------------------------------------
# Scanner vs HTMLParser-oracle differential suite (the fast single-pass
# scanner replaced the HTMLParser callbacks on the production path; the
# callback parser in tests/oracles/html_extract.py IS the frozen spec).
# ---------------------------------------------------------------------------

def _scan_out(h):
    from pii_core.html_extract import _keep_blocks, _scan_blocks
    try:
        return _keep_blocks(_scan_blocks(h))
    except Exception as e:  # noqa: BLE001 — exception parity is asserted too
        return ("RAISE", type(e).__name__, str(e))


def _oracle_out(h):
    from oracles.html_extract import ContentParser

    from pii_core.html_extract import _keep_blocks
    p = ContentParser()
    try:
        p.feed(h)
        p.close()
    except Exception as e:  # noqa: BLE001
        return ("RAISE", type(e).__name__, str(e))
    return _keep_blocks([(b.tag, b.parts, b.link_chars) for b in p.blocks])


_ADVERSARIAL = [
    # CDATA content mode, malformed/unterminated script & style
    "<script>var a = '<div>' + 1 < 2;</script><p>keep this paragraph of text here</p>",
    "<SCRIPT >x</SCRIPT><p>paragraph with more than twenty five chars</p>",
    "<script>no close tag at all <p>swallowed paragraph text entirely here",
    "<style>p{}</ style ><p>kept paragraph needs twenty five characters</p>",
    "<style>a</styleX><p>inside style still</p></style><p>outside style paragraph text ok</p>",
    # comments, PIs, declarations, marked sections (incl. raising forms)
    "<!-- comment <p>hidden</p> --><p>visible paragraph over twenty five chars</p>",
    "<!-- unterminated comment <p>text here that is over twenty five</p>",
    "<!--> weird tiny comment --><p>paragraph following a weird comment here</p>",
    "<!doctype html><p>paragraph after doctype with enough characters</p>",
    "<![CDATA[ raw <p>block</p> ]]><p>after marked section, enough characters</p>",
    "<![if !IE]><p>conditional paragraph long enough to keep here</p><![endif]>",
    "<![bogus section]><p>raises like the stdlib AssertionError</p>",
    "<![unterminated cdata <p>trailing text that is long enough here</p>",
    "<![", "<![x",
    "<?php echo '<p>x</p>'; ?><p>after processing instruction enough chars</p>",
    # entity and stray-angle edge cases
    "<p>a < b and c > d in a sentence long enough to keep around</p>",
    "<p>entity soup &amp; &lt;tag&gt; &#65; &#x42; &notanentity; &amp more text</p>",
    "<p>trailing amp at the very end of the document text here &xyz",
    "<p>ends with a lone angle bracket and enough text to keep <",
    "<p>text<", "<p>text &", "<p>text &a", "<",
    # attribute / boiler-hint edges (fast-path subset boundaries)
    "<div title='a class=menu b'>value contains class text but kept, long enough</div>",
    "<div data-class='menu'>data-class is not class so this text is kept fine</div>",
    "<div CLASS='MENU'>upper</div><p>paragraph definitely over twenty five chars</p>",
    "<div a='1'b='2' class='ad'>adjacent attrs drop this boiler text</div><p>kept paragraph long enough</p>",
    "<div a==1 class='menu'>double equals slow path dropped</div><p>kept paragraph long enough</p>",
    "<div class=>empty bare value</div><p>kept paragraph that is long enough ok</p>",
    "<div class='x &#45;menu'>entity in class dropped</div><p>kept paragraph long enough ok</p>",
    "<a href=/caminho/pagina>bare slash value link text</a><p>kept paragraph long enough ok</p>",
    "<div a=1/>slash-eaten bare value start tag, text long enough to keep</div>",
    "<div a= />sp eq slash, this paragraph text is long enough to keep</div>",
    "<div\nclass='menu'>newline before class dropped</div><p>kept paragraph long enough</p>",
    "<div class\n=\n'menu'>newlines around equals dropped</div><p>kept paragraph long enough</p>",
    "<p id=sidebar>unquoted boiler id dropped</p><p>kept paragraph long enough ok</p>",
    "<DIV CLASS=MENU>all caps unquoted dropped</DIV><p>kept paragraph long enough</p>",
    # malformed start/end tags
    "<p attr>malformed = <p =>< p><p attr='unterminated>text that is long enough to keep</p>",
    "<div a='1'/x>odd slash<p>paragraph long enough to keep here ok</p>",
    "</>empty end tag<p>paragraph that is long enough to keep here</p>",
    "</ div>space end tag<p>paragraph that is long enough to keep ok</p>",
    "</div attr>end tag with attr<p>paragraph long enough to keep here</p>",
    "</div unterminated <p>does this paragraph survive the bogosity here</p>",
    "<div unterminated start tag at eof", "<div a='b", "<div/", "<div ",
]


def test_scanner_matches_oracle_on_adversarial_markup():
    for h in _ADVERSARIAL:
        assert _scan_out(h) == _oracle_out(h), h


def test_scanner_matches_oracle_on_synth_corpus():
    from pii_core.html_extract import _decode_html
    from pii_spark.synth import gen_pages

    n = 0
    for p in gen_pages(600, seed=913):
        if p["html"]:
            h = _decode_html(p["html"])
            assert _scan_out(h) == _oracle_out(h), p["url"]
            n += 1
    assert n > 500


def test_scanner_matches_oracle_on_token_soup():
    import random

    rng = random.Random(20260817)
    tokens = ["<p>", "</p>", "<div class='menu'>", "<div>", "</div>",
              "<a href='x'>", "</a>", "<script>", "</script>", "<style>",
              "</style>", "<!--", "-->", "<![CDATA[", "]]>", "<br>", "<br/>",
              "<li>", "<h1>", "</h1>", "&amp;", "&#65;", "&bogus;", "&", "<",
              ">", "texto com conteudo suficiente ", "palavra ", " ", "\n",
              "<!doctype html>", "<?pi?>", "<div", "class", "='ad'", ">",
              "</", "p>", "<td>", "<table>", "</table>", "<input>",
              "<embed class='ad'>", "<X>", "</X>", '"', "'", "=", "/>",
              "<p", " id=footer", "]>", "<![if x]>", "<![endif]>", "<![",
              "word&#x20;mais ", "<div title='a class=menu'>",
              "<DIV CLASS=AD>", "<p id=x>", "a=1", "/", "<div a=1/>",
              "<a href=/x/y>", "<div a= />"]
    # \x85/\xa0/\x1c: Unicode whitespace that stdlib start-tag NAMES
    # absorb (tagfind breaks only on ASCII [\t\n\r\f />\x00]) — caught a
    # real fast-path divergence where `<a\x85>` was read as tag "a"
    alph = "<>/!?&;#abAB='\"[] \n-xX.1\x00\\\tç\x85\xa0\x1c"
    tokens += ["<a\x85>", "<a \x85>", "<div\xa0class='menu'>", "<p\x1c>"]
    for trial in range(1500):
        h = "".join(rng.choice(tokens)
                    for _ in range(rng.randrange(1, 40)))
        assert _scan_out(h) == _oracle_out(h), h
        h2 = "".join(rng.choice(alph)
                     for _ in range(rng.randrange(1, 120)))
        assert _scan_out(h2) == _oracle_out(h2), h2
