"""Fast-vs-stdlib tokenizer equivalence.

The fast regex tokenizer is the hot-path engine; the stdlib
``html.parser``-driven one (``stdlib_tokenizer.py``, test tree only) is
the cross-validation reference. Equivalence of the emitted blocks —
(tag, marginal, text, char counts) — over the whole fixture sweep plus
hypothesis-generated tag soup pins the fast engine's event stream.

Scope: the generated soup covers nesting, unclosed tags, comments,
CDATA, entities (known/unknown/numeric), rawtext elements
(script/style), skip-content elements (textarea), self-closing and void
tags, and anchors. Truly adversarial byte streams (e.g. ``<`` followed
by a letter at EOF with no ``>``) are owned by the fast engine's
semantics; the extraction contract for those is "never raise", covered
by the pathological fixtures in test_html_extract.
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import given, settings

from stdlib_tokenizer import tokenize_blocks_stdlib
from webextract.fixtures import gen_pages
from webextract.html_extract import decode_payload, tokenize_blocks
from webextract.pdf_extract import is_pdf


def _sig(blocks):
    return [(b.tag, b.marginal, b.text(), b.total_nws, b.link_nws)
            for b in blocks]


def test_fast_vs_stdlib_fixture_sweep():
    n_checked = 0
    for row in gen_pages(400, giant_every=100, giant_repeat=50):
        payload = row["html"]
        if not payload or is_pdf(payload):
            continue
        text = decode_payload(payload)
        assert _sig(tokenize_blocks(text)) == \
            _sig(tokenize_blocks_stdlib(text)), row["url"]
        n_checked += 1
    assert n_checked > 300  # the sweep actually covered the templates


_TAGS = ["p", "div", "li", "td", "h1", "span", "em", "nav", "aside",
         "pre", "blockquote", "ul", "table", "br", "hr", "img", "title"]

# no '<' or '>' in text pieces: markup boundaries come from the grammar;
# '&', '#', ';' exercise entity handling inside data segments
_text = st.text(alphabet="abc xyz012.,!?\n\t&;#", max_size=30)


def _piece():
    return st.one_of(
        _text,
        st.sampled_from(_TAGS).map(lambda t: f"<{t}>"),
        st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),
        st.sampled_from(_TAGS).map(lambda t: f"<{t} class='x' data-a=\"1\">"),
        st.sampled_from(_TAGS).map(lambda t: f"<{t}/>"),
        _text.map(lambda s: f"<!--{s}-->"),
        st.tuples(st.sampled_from(["script", "style", "textarea"]), _text)
        .map(lambda ts: f"<{ts[0]}>{ts[1]}</{ts[0]}>"),
        _text.map(lambda s: f"<a href='/x'>{s}</a>"),
        st.just("<![CDATA[ not text ]]>"),
        st.just("&amp; &#65; &unknown; &lt;tag&gt;"),
        st.just("<!DOCTYPE html>"),
    )


@given(st.lists(_piece(), max_size=25))
@settings(max_examples=200, deadline=None)
def test_fast_vs_stdlib_tag_soup(pieces):
    html = "<html><body>" + "".join(pieces) + "</body></html>"
    assert _sig(tokenize_blocks(html)) == _sig(tokenize_blocks_stdlib(html))
