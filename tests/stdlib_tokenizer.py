"""Reference tokenizer: stdlib ``html.parser`` driving a tag-event →
``Block`` state machine.

This is the oracle that ``test_tokenizer_equiv.py`` holds the fast
``webextract.html_extract.tokenize_blocks`` to; production code never
imports it. It shares ``Block`` and the tag tables with the fast engine,
so a difference in the emitted blocks is a difference in tag-event
handling.
"""

from __future__ import annotations

from html.parser import HTMLParser

from webextract.config import (
    BLOCK_TAGS,
    MARGINAL_ANCESTOR_TAGS,
    SKIP_CONTENT_TAGS,
    VOID_TAGS,
)
from webextract.html_extract import _BLOCK_NONVOID_TAGS, Block


class _BlockBuilder:
    """Tag-event → Block state machine: the method-call form of the state
    that ``tokenize_blocks`` inlines as locals.

    Tolerance contract (FIXTURES.md template 6): unclosed tags, comment-only
    pages, CDATA, entity soup and deep nesting must all parse without error.
    """

    __slots__ = ("blocks", "_cur", "_block_stack", "_skip_stack",
                 "_anchor_depth", "_marginal_depth")

    def __init__(self) -> None:
        self.blocks: list[Block] = []
        self._cur: Block | None = None
        self._block_stack: list[str] = []
        # stack of OPEN skip-content tags: a stray closer of a skip tag
        # that is not actually open (e.g. a literal "</script>" inside a
        # <textarea> code sample) must not end the skip region — a bare
        # depth counter shared across all skip tags leaked the rest of
        # the textarea body into extracted text
        self._skip_stack: list[str] = []
        self._anchor_depth = 0
        self._marginal_depth = 0

    def flush(self) -> None:
        cur = self._cur
        if cur is not None:
            text = cur.text()
            if text:
                # nws over the normalized text == sum of per-piece token
                # lengths (whitespace runs collapse to single spaces), but
                # counted once per BLOCK in C instead of once per data event
                cur.total_nws = len(text) - text.count(" ")
                self.blocks.append(cur)
            self._cur = None

    def start_tag(self, tag: str) -> None:
        if tag in SKIP_CONTENT_TAGS:
            if self._cur is not None:
                self.flush()
            self._skip_stack.append(tag)
            return
        if self._skip_stack:
            return
        if tag == "a":
            self._anchor_depth += 1
            return
        if tag in BLOCK_TAGS:
            if self._cur is not None:
                self.flush()
            if tag in MARGINAL_ANCESTOR_TAGS:
                self._marginal_depth += 1
            if tag not in VOID_TAGS:
                self._block_stack.append(tag)

    def end_tag(self, tag: str) -> None:
        if tag in SKIP_CONTENT_TAGS:
            stack = self._skip_stack
            if stack and stack[-1] == tag:
                stack.pop()
            elif tag in stack:
                # tolerant unwind to the matching open skip tag (same
                # convention as the block stack); a closer of a skip tag
                # that is NOT open is ignored — it is raw content
                while stack and stack.pop() != tag:
                    pass
            if self._cur is not None:
                self.flush()
            return
        if self._skip_stack:
            return
        if tag == "a":
            if self._anchor_depth:
                self._anchor_depth -= 1
            return
        if tag in _BLOCK_NONVOID_TAGS:
            # the None guard at each call site skips ~2 no-op flush()
            # calls per tag event on real pages (most tag closes arrive
            # with no open text block)
            if self._cur is not None:
                self.flush()
            stack = self._block_stack
            # fast path: properly nested markup closes the top of stack
            if stack and stack[-1] == tag:
                stack.pop()
                if tag in MARGINAL_ANCESTOR_TAGS:
                    self._marginal_depth = max(0, self._marginal_depth - 1)
            # tolerant pop: unwind to the matching open tag if present
            elif tag in stack:
                while stack:
                    popped = stack.pop()
                    if popped in MARGINAL_ANCESTOR_TAGS:
                        self._marginal_depth = max(0, self._marginal_depth - 1)
                    if popped == tag:
                        break

    def data(self, data: str) -> None:
        if self._skip_stack or not data:
            return
        if self._cur is None:
            tag = self._block_stack[-1] if self._block_stack else "body"
            self._cur = Block(
                tag=tag, marginal=self._marginal_depth > 0, pieces=[]
            )
        self._cur.pieces.append(data)
        # total_nws is counted once per block at flush(); only anchored
        # pieces need the per-event count (link-density numerator)
        if self._anchor_depth > 0:
            self._cur.link_nws += sum(map(len, data.split()))


class _BlockParser(HTMLParser):
    """stdlib-HTMLParser driver of :class:`_BlockBuilder` — the reference
    engine used for cross-validation of the fast tokenizer."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.builder = _BlockBuilder()

    def handle_starttag(self, tag: str, attrs) -> None:
        self.builder.start_tag(tag)

    def handle_endtag(self, tag: str) -> None:
        self.builder.end_tag(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.builder.start_tag(tag)
        self.builder.end_tag(tag)

    def handle_data(self, data: str) -> None:
        self.builder.data(data)

    # charrefs mostly handled by convert_charrefs; these cover broken cases
    def handle_entityref(self, name: str) -> None:
        self.builder.data(f"&{name};")

    def handle_charref(self, name: str) -> None:
        self.builder.data(f"&#{name};")

    def error(self, message: str) -> None:  # pragma: no cover - py<3.10 hook
        pass


def tokenize_blocks_stdlib(html_text: str) -> list[Block]:
    parser = _BlockParser()
    try:
        parser.feed(html_text)
        parser.close()
    except Exception:
        # Tolerate pathological markup: keep whatever parsed so far
        # (reference contract: corrupt input -> skip, inference.py:344-346).
        pass
    parser.builder.flush()
    return parser.builder.blocks
