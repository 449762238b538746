"""HTML main-content extraction (boilerplate strip). [NORTH-ONLY]

The north rule requires a DOM-heuristic main-content stage (tag-density,
link-ratio, text-block segmentation) ahead of PII extraction; the reference
has no HTML handling, so this spec is defined here from public
boilerplate-removal literature (Arc90 Readability / Boilerpipe-style
heuristics) and FROZEN — golden tests in tests/test_html_extract.py pin the
exact output so "byte-identical extracted text per url" is a testable
invariant.

Spec (deterministic, document order):
1. Parse with the stdlib HTMLParser (convert_charrefs=True → entities decoded).
2. Content inside script/style/noscript/template/svg/head/nav/header/footer/
   aside/form/button/iframe is dropped, as is any element whose class or id
   matches the BOILERPLATE_HINT regex (menu/nav/footer/sidebar/ad/banner/
   cookie/comment/share/promo).
3. Text accumulates into blocks delimited by block-level tags; per block we
   track total chars and chars contributed inside <a> (link chars).
4. A block is kept iff its normalized text has
     - >= 8 chars for headings h1-h3 with link_ratio < 0.5, or
     - >= 25 chars with link_ratio <= 1/3 otherwise.
5. Normalization: runs of whitespace collapse to a single space; block text is
   stripped. Kept blocks join with "\n\n".
6. Empty/undecodable html → "".

Production does not run the stdlib parser: ``_scan_blocks`` walks the
document once with the parser's OWN compiled regexes — imported, not
re-derived, so tokenization cannot drift — and fuses steps 2-3 inline,
which removes the per-event method dispatch, skips entity-unescape and
slicing for data inside dropped subtrees, and skips attribute value
processing for everything but class/id. Step 1 read literally (the
``HTMLParser`` callbacks) is the oracle in tests/oracles/html_extract.py;
the golden suite plus differential fuzz over synth pages and adversarial
markup pin the scanner to it byte for byte.

Pure stdlib; runs vectorized over Arrow batches in the Spark engine.
"""

from __future__ import annotations

import re
from html import unescape as _unescape
from html.parser import (  # CPython's own tolerant regexes
    attrfind_tolerant as _ATTRFIND,
    commentclose as _COMMENTCLOSE,
    endtagfind as _ENDTAGFIND,
    locatestarttagend_tolerant as _LOCATESTARTTAGEND,
    tagfind_tolerant as _TAGFIND,
)
from _markupbase import (  # marked-section regexes
    _declname_match as _DECLNAME_MATCH,
    _markedsectionclose as _MARKEDSECTIONCLOSE,
    _msmarkedsectionclose as _MSMARKEDSECTIONCLOSE,
)

_DROP_SUBTREE = frozenset({
    "script", "style", "noscript", "template", "svg", "head", "nav",
    "header", "footer", "aside", "form", "button", "iframe",
})
_BLOCK_TAGS = frozenset({
    "p", "div", "section", "article", "main", "li", "td", "th", "blockquote",
    "pre", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "table", "tr",
    "br", "body",
})
_HEADINGS = frozenset({"h1", "h2", "h3"})
BOILERPLATE_HINT = re.compile(
    r"(?:^|[\s_-])(?:menu|nav|navbar|footer|sidebar|side-bar|ad|ads|advert|"
    r"banner|cookie|comment|comments|share|social|promo|related|breadcrumb)"
    r"(?:$|[\s_-])",
    re.IGNORECASE,
)
_WS_RUN = re.compile(r"\s+")

# The FULL HTML5 void set matters for drop correctness, not just stack
# hygiene: a void tag is never pushed, so nothing ever decrements a drop it
# started — a boilerplate-classed <embed>/<source>/<wbr> from the old
# partial set opened a drop that silently swallowed every following
# sibling (PII included) until an ancestor closed.
_VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
})

_CDATA_CLOSE = {
    # set_cdata_mode's exact pattern, precompiled for the two CDATA elements
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}
_MARKED_STD = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_MARKED_MS = frozenset({"if", "else", "endif"})

# Fast-path patterns for the COMMON tag shapes. Each accepts a strict
# SUBSET of what the tolerant stdlib regexes accept, chosen so that within
# the subset the stdlib's parse is unambiguous and identical: simple ASCII
# tag name, well-formed attributes (quoted values without <>&, or bare
# values without quote/=/</&), terminated by '>' or '/>'. Anything else
# takes the faithful slow path in _scan_blocks. Differential fuzz pins the
# equivalence.
_SIMPLE_START = re.compile(
    # The (?=...) after the name is load-bearing: stdlib tagfind_tolerant
    # breaks a start-tag NAME only on ASCII [\t\n\r\f />\x00] — a Unicode
    # whitespace like \x85 or \xa0 JOINS the name (`<a\x85>` is tag
    # "a\x85", not "a"). Without the lookahead the fast path would read
    # the name as "a" and the \x85 as a separator — a different tag, and
    # a wrong link/drop decision. Such tags must take the slow path.
    r"<([a-zA-Z][a-zA-Z0-9]*)(?=[\t\n\r\f />])"
    r"((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:'[^'<>&]*'|\"[^\"<>&]*\"|[^\s>'\"=<&]+))?"
    r")*)\s*(/?)>")
_SIMPLE_END = re.compile(r"</([a-zA-Z][a-zA-Z0-9]*)\s*>")
# One attribute inside a _SIMPLE_START attrs blob. Sequential finditer
# matches tile the blob exactly (each match consumes its full — possibly
# quoted — value, so 'class=' text INSIDE another attribute's quoted value
# is never re-scanned as an attribute).
_SIMPLE_ATTR = re.compile(
    r"\s+([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*('[^'<>&]*'|\"[^\"<>&]*\"|[^\s>'\"=<&]+))?")
_CLASSID_HINT = re.compile(r"(?:class|id)\s*=", re.IGNORECASE)
# check_for_whole_start_tag's "end of input in or before attribute value"
_INCOMPLETE_NEXT = frozenset("abcdefghijklmnopqrstuvwxyz=/"
                             "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
_ASCII_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _scan_blocks(raw: str) -> list[tuple[str, list[str], int]]:
    """One pass over ``raw`` producing ``(tag, parts, link_chars)`` blocks —
    the block stream the stdlib parser's callbacks build, mirroring
    CPython's ``HTMLParser.goahead`` control flow for a single full-buffer feed
    (feed + close is equivalent: the incremental branches only DEFER work
    to the close() pass, they never split a data segment)."""
    n = len(raw)
    i = 0
    find = raw.find
    startswith = raw.startswith

    blocks: list[tuple[str, list[str], int]] = []
    cur_tag = "body"
    cur_parts: list[str] = []
    cur_link = 0
    drop_depth = 0
    link_depth = 0
    stack: list[tuple[str, bool, bool]] = []
    cdata_close = None  # compiled </elem> pattern while inside script/style

    def emit(seg: str) -> None:
        nonlocal cur_link
        if seg:
            cur_parts.append(seg)
            if link_depth:
                cur_link += len(seg)

    def flush(next_tag: str) -> None:
        nonlocal cur_tag, cur_parts, cur_link
        if cur_parts:
            blocks.append((cur_tag, cur_parts, cur_link))
            cur_parts = []
            cur_link = 0
        cur_tag = next_tag

    def do_endtag(tag: str) -> None:
        nonlocal drop_depth, link_depth
        if stack:
            if stack[-1][0] == tag:  # well-nested close: the common case
                _t, adds_drop, adds_link = stack.pop()
                if adds_drop:
                    drop_depth -= 1
                if adds_link and link_depth:
                    link_depth -= 1
            else:
                for idx in range(len(stack) - 1, -1, -1):
                    if stack[idx][0] == tag:
                        while len(stack) > idx:
                            _t, adds_drop, adds_link = stack.pop()
                            if adds_drop:
                                drop_depth -= 1
                            if adds_link and link_depth:
                                link_depth -= 1
                        break
        if tag in _BLOCK_TAGS and not drop_depth:
            flush("body")

    def recover(pos: int) -> int:
        """goahead's k<0 EOF recovery: emit the unterminated construct as
        data up to the next '>' (inclusive) / '<' / one char."""
        k = find(">", pos + 1)
        if k < 0:
            k = find("<", pos + 1)
            if k < 0:
                k = pos + 1
        else:
            k += 1
        if not drop_depth:
            seg = raw[pos:k]
            emit(_unescape(seg) if "&" in seg else seg)
        return k

    while i < n:
        # --- data run up to the next markup boundary ---
        if cdata_close is not None:
            # inside <script>/<style>: the only interesting token is the
            # matching end tag (set_cdata_mode's exact pattern); content is
            # raw data — inside a drop subtree by construction, so skip it
            m = cdata_close[1].search(raw, i)
            if m is None:
                # unterminated CDATA content: stdlib stays in cdata mode and
                # the trailing-data handler is skipped — nothing is emitted
                return _finish(blocks, cur_tag, cur_parts, cur_link)
            do_endtag(cdata_close[0])
            cdata_close = None
            i = m.end()
            continue
        j = find("<", i)
        if j < 0:
            j = n
        if i < j and not drop_depth:
            seg = raw[i:j]
            emit(_unescape(seg) if "&" in seg else seg)
        i = j
        if i == n:
            break

        # --- dispatch on the construct at raw[i] == '<' ---
        c = raw[i + 1] if i + 1 < n else ""
        if c in _ASCII_LETTERS:
            # ---- start tag ----
            sm = _SIMPLE_START.match(raw, i)
            if sm is not None:
                # fast path: unambiguous simple tag — one regex match
                # replaces locatestarttagend + tagfind + attrfind loop
                tag = sm.group(1)
                if not tag.islower():
                    tag = tag.lower()
                boiler = False
                blob = sm.group(2)
                if blob and ("class" in blob or "id" in blob
                             or (not blob.islower()
                                 and _CLASSID_HINT.search(blob))):
                    for am in _SIMPLE_ATTR.finditer(blob):
                        aname = am.group(1)
                        if aname in ("class", "id") or aname.lower() in (
                                "class", "id"):
                            aval = am.group(2)
                            if aval:
                                q = aval[0]
                                if (q == "'" or q == '"') \
                                        and aval[-1] == q:
                                    aval = aval[1:-1]
                                if aval and BOILERPLATE_HINT.search(aval):
                                    boiler = True
                selfclose = sm.group(3) == "/"
                endpos = sm.end()
            else:
                # slow path (check_for_whole_start_tag + parse_starttag)
                lm = _LOCATESTARTTAGEND.match(raw, i)
                j2 = lm.end()
                nxt = raw[j2:j2 + 1]
                if nxt == ">":
                    endpos = j2 + 1
                elif nxt == "/":
                    endpos = j2 + 2 if startswith("/>", j2) else -1
                elif nxt == "":
                    endpos = -1
                elif nxt in _INCOMPLETE_NEXT:
                    endpos = -1
                else:
                    endpos = j2 if j2 > i else i + 1
                if endpos < 0:
                    i = recover(i)
                    continue
                tm = _TAGFIND.match(raw, i + 1)
                tag = tm.group(1)
                if not tag.islower():
                    tag = tag.lower()
                k = tm.end()
                boiler = False
                while k < endpos:
                    am = _ATTRFIND.match(raw, k)
                    if am is None:
                        break
                    aname = am.group(1)
                    if aname in ("class", "id") or aname.lower() in (
                            "class", "id"):
                        aval = am.group(3)
                        if am.group(2) and aval:
                            q = aval[0]
                            if (q == "'" or q == '"') and aval[-1] == q:
                                aval = aval[1:-1]
                            if aval:
                                if "&" in aval:
                                    aval = _unescape(aval)
                                if BOILERPLATE_HINT.search(aval):
                                    boiler = True
                    k = am.end()
                endchars = raw[k:endpos].strip()
                if endchars not in (">", "/>"):
                    # malformed start tag: stdlib emits the RAW slice
                    if not drop_depth:
                        emit(raw[i:endpos])
                    i = endpos
                    continue
                selfclose = endchars == "/>"
            adds_drop = boiler or tag in _DROP_SUBTREE
            adds_link = tag == "a" and not adds_drop and not drop_depth
            void = tag in _VOID_TAGS
            if not void:
                stack.append((tag, adds_drop, adds_link))
            if adds_drop:
                if not void:
                    drop_depth += 1
            elif not drop_depth:
                if adds_link:
                    link_depth += 1
                if tag in _BLOCK_TAGS:
                    flush(tag)
            if selfclose:
                # handle_startendtag = starttag + endtag, no cdata mode
                do_endtag(tag)
            elif tag == "script" or tag == "style":
                cdata_close = (tag, _CDATA_CLOSE[tag])
            i = endpos
        elif c == "/":
            # ---- end tag (parse_endtag, non-cdata) ----
            em = _SIMPLE_END.match(raw, i)
            if em is not None:
                do_endtag(em.group(1).lower())
                i = em.end()
                continue
            gt = find(">", i + 1)
            if gt < 0:
                i = recover(i)
                continue
            em = _ENDTAGFIND.match(raw, i)
            if em is not None:
                do_endtag(em.group(1).lower())
                i = gt + 1
                continue
            nm = _TAGFIND.match(raw, i + 2)
            if nm is None:
                if startswith("</>", i):
                    i += 3
                else:  # bogus comment: skip to '>' (handle_comment no-op)
                    pos = find(">", i + 2)
                    i = recover(i) if pos < 0 else pos + 1
                continue
            do_endtag(nm.group(1).lower())
            i = find(">", nm.end()) + 1
        elif startswith("<!--", i):
            cm = _COMMENTCLOSE.search(raw, i + 4)
            i = recover(i) if cm is None else cm.end()
        elif c == "?":
            pos = find(">", i + 2)
            i = recover(i) if pos < 0 else pos + 1
        elif c == "!":
            if startswith("<![", i):
                # parse_marked_section (+ _scan_name) semantics
                dm = _DECLNAME_MATCH(raw, i + 3)
                if i + 3 == n or (dm is not None and i + 3 + len(dm.group())
                                  == n):
                    i = recover(i)
                    continue
                if dm is None:
                    # _markupbase._scan_name's exact failure (3.11 raises
                    # AssertionError; strict callers quarantine on it)
                    raise AssertionError(
                        "expected name token at %r" % raw[i:i + 20])
                name = dm.group().strip().lower()
                if name in _MARKED_STD:
                    mm = _MARKEDSECTIONCLOSE.search(raw, i + 3)
                elif name in _MARKED_MS:
                    mm = _MSMARKEDSECTIONCLOSE.search(raw, i + 3)
                else:
                    raise AssertionError(
                        "unknown status keyword %r in marked section"
                        % raw[i + 3:dm.end()])
                i = recover(i) if mm is None else mm.end()
            elif raw[i:i + 9].lower() == "<!doctype":
                pos = find(">", i + 9)
                i = recover(i) if pos < 0 else pos + 1
            else:  # bogus comment
                pos = find(">", i + 2)
                i = recover(i) if pos < 0 else pos + 1
        elif i + 1 < n:
            if not drop_depth:
                emit("<")
            i += 1
        else:
            # lone '<' at EOF: falls to the trailing-data handler
            break

    if i < n and cdata_close is None:
        seg = raw[i:n]
        if not drop_depth:
            emit(_unescape(seg) if "&" in seg else seg)
    return _finish(blocks, cur_tag, cur_parts, cur_link)


def _finish(blocks, cur_tag, cur_parts, cur_link):
    if cur_parts:
        blocks.append((cur_tag, cur_parts, cur_link))
    return blocks


def _keep_blocks(blocks: list[tuple[str, list[str], int]]) -> str:
    """Steps 4-5 of the frozen spec, shared by scanner and oracle paths.

    ``" ".join(s.split())`` is byte-identical to
    ``_WS_RUN.sub(" ", s).strip()``: re's ``\\s`` and ``str.isspace`` agree
    on every Unicode codepoint (verified exhaustively), and both collapse
    runs + strip ends — but split/join runs in C."""
    kept: list[str] = []
    for tag, parts, link_chars in blocks:
        txt = " ".join("".join(parts).split())
        if not txt:
            continue
        raw_len = sum(len(p) for p in parts)
        link_ratio = link_chars / raw_len if raw_len else 0.0
        if tag in _HEADINGS:
            if len(txt) >= 8 and link_ratio < 0.5:
                kept.append(txt)
        elif len(txt) >= 25 and link_ratio <= 1 / 3:
            kept.append(txt)
    return "\n\n".join(kept)


_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)", re.IGNORECASE)


def _decode_html(b: bytes) -> str:
    """Deterministic charset resolution (frozen spec, step 0):

    1. A BOM wins (utf-8-sig / utf-16 le / utf-16 be).
    2. Else the first ``<meta ... charset=X`` declaration in the leading
       2048 bytes, when X names a codec Python knows.
    3. Else strict utf-8; if that fails, windows-1252 — the dominant
       legacy encoding of the pt-BR web this taxonomy targets. Blind
       utf-8-with-replace would mojibake every accented character of a
       Latin-1 page ('José' -> 'Jos\\ufffd') and the name/gazetteer
       patterns ([a-zà-ÿ]) would silently stop matching — degraded PII
       recall with no error anywhere.

    All branches decode with errors="replace", so the result is always a
    str and the choice is a pure function of the bytes."""
    if b.startswith(b"\xef\xbb\xbf"):
        return b.decode("utf-8-sig", errors="replace")
    if b.startswith((b"\xff\xfe", b"\xfe\xff")):
        return b.decode("utf-16", errors="replace")
    m = _META_CHARSET_RE.search(b[:2048])
    if m:
        name = m.group(1).decode("ascii", errors="replace").lower()
        try:
            import codecs  # noqa: PLC0415

            codecs.lookup(name)
        except LookupError:
            name = None
        if name:
            return b.decode(name, errors="replace")
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("windows-1252", errors="replace")


def html_to_text_strict(html: bytes | str | None) -> str:
    """Extract main-content text from raw HTML bytes (or str) per the frozen
    spec above; "" for empty input. A PARSER CRASH surfaces instead of
    returning "" (the pipeline path, mirroring ``pdf_to_text_strict``): a
    page the parser could not walk must quarantine fail-closed, not be
    recorded as publishable-with-no-spans — '' cannot distinguish "all
    boilerplate" from "never scanned". The stdlib parser is designed to
    recover from malformed markup, so in practice this raises ~never; the
    distinction is the contract, not the frequency."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = _decode_html(bytes(html))
    if not html.strip():
        return ""
    # Tag-free fast path: with no '<' (no markup) and no '&' (no entities to
    # decode) the parser would emit the whole input as ONE body block, so the
    # keep rule reduces to the >=25-chars check on the normalized text (link
    # ratio is 0). Byte-identical to the parser path — pinned by a property
    # test — at ~20x the throughput for plain-text payloads.
    if "<" not in html and "&" not in html:
        txt = _WS_RUN.sub(" ", html).strip()
        return txt if len(txt) >= 25 else ""
    return _keep_blocks(_scan_blocks(html))


def html_to_text(html: bytes | str | None) -> str:
    """Lenient ``html_to_text_strict``: "" for empty, undecodable or
    unparseable input (or a non-text argument); never raises."""
    try:
        return html_to_text_strict(html)
    except Exception:
        return ""
