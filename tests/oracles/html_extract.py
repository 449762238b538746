"""The frozen main-content spec read literally: stdlib ``HTMLParser``
callbacks (steps 1-3 of ``pii_core.html_extract``'s spec) feeding the
shared keep rule. Production walks the document with the single-pass
``_scan_blocks`` instead; the differential suites
(tests/test_html_extract.py, tests/test_properties.py) check it against
this parser byte for byte, exception outcome included."""

from __future__ import annotations

from html.parser import HTMLParser

from pii_core.html_extract import (
    _BLOCK_TAGS,
    _DROP_SUBTREE,
    _VOID_TAGS,
    BOILERPLATE_HINT,
    _keep_blocks,
)


class Block:
    __slots__ = ("tag", "parts", "link_chars")

    def __init__(self, tag: str):
        self.tag = tag
        self.parts: list[str] = []
        self.link_chars = 0


class ContentParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._cur = Block("body")
        self._drop_depth = 0
        self._link_depth = 0
        # Open-element stack: (tag, adds_drop, adds_link). End tags pop by
        # name with implied-end-tag recovery (everything above the matched
        # element is closed too), so unclosed tags — <li>/<p> without end
        # tags are valid HTML, unclosed <a> is ubiquitous in the wild —
        # cannot leak drop/link state over the rest of the document.
        self._stack: list[tuple[str, bool, bool]] = []

    def updatepos(self, i: int, j: int) -> int:
        # stdlib tracks (lineno, offset) purely for getpos()/error messages,
        # which this extractor never reads. Parsing decisions never depend
        # on position, so skipping the bookkeeping cannot change output.
        return j

    # -- helpers --
    def _flush(self, next_tag: str) -> None:
        if self._cur.parts:
            self.blocks.append(self._cur)
        self._cur = Block(next_tag)

    @staticmethod
    def _is_boiler(attrs: list[tuple[str, str | None]]) -> bool:
        for k, v in attrs:
            if k in ("class", "id") and v and BOILERPLATE_HINT.search(v):
                return True
        return False

    def _pop_entry(self, entry: tuple[str, bool, bool]) -> None:
        _tag, adds_drop, adds_link = entry
        if adds_drop:
            self._drop_depth -= 1
        if adds_link and self._link_depth:
            self._link_depth -= 1

    # -- parser events --
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        adds_drop = tag in _DROP_SUBTREE or self._is_boiler(attrs)
        adds_link = tag == "a" and not adds_drop and not self._drop_depth
        if tag not in _VOID_TAGS:
            self._stack.append((tag, adds_drop, adds_link))
        if adds_drop:
            # Void tags are never pushed, so nothing would ever decrement the
            # counter: a boilerplate-classed <img>/<input> must not start a
            # drop (it has no content to drop anyway).
            if tag not in _VOID_TAGS:
                self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if adds_link:
            self._link_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush(tag)

    def handle_endtag(self, tag: str) -> None:
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                while len(self._stack) > i:
                    self._pop_entry(self._stack.pop())
                break
        # Flush on the MATCHED element being a block tag (or a stray block end
        # tag — </br>/</p> with no open element occur in wild HTML), provided
        # the parser is no longer inside a dropped subtree. Using the current
        # drop state rather than the pre-pop state means closing a block that
        # wraps an open boilerplate child (<div>text<span class="ad">…</div>)
        # still flushes the accumulated block.
        if tag in _BLOCK_TAGS and not self._drop_depth:
            self._flush("body")

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        self._cur.parts.append(data)
        if self._link_depth:
            self._cur.link_chars += len(data)

    def close(self) -> None:  # flush the trailing block
        super().close()
        if self._cur.parts:
            self.blocks.append(self._cur)
            self._cur = Block("body")


def html_to_text_parsed(html: str, strict: bool = False) -> str:
    """Steps 1-6 of the spec over ``ContentParser``: the text the
    production ``html_to_text`` must equal."""
    parser = ContentParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        if strict:
            raise
        return ""
    return _keep_blocks(
        [(b.tag, b.parts, b.link_chars) for b in parser.blocks])
