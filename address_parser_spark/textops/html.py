"""HTML → text extraction for the ``html:binary`` page column.

The input contract (BASELINE.json ``input_hint``) carries pages as
``(url, warc_ts, html:binary, text:string, lang)``; at web scale the
pre-extracted ``text`` column is the exception, not the rule, so the
pipeline needs a deterministic markup→text path. The reference consumes
already-extracted text (``ner/build_real_dataset.py:106-113`` projects a
text field), so the EXTRACTION rules are this engine's own contract —
pinned by byte-identity goldens, not by reference parity.

Extraction rules (applied in order, all deterministic):

1. drop ``<!-- … -->`` comments, ``<script>``/``<style>`` elements, and the
   ``<head>`` element (title/meta are chrome, not content);
2. block-level boundaries (``<br>``, closing ``p/div/li/tr/td/th/h1-6/
   section/article/ul/ol/table/blockquote/pre``) become newlines;
3. every remaining tag is stripped;
4. character/entity references are decoded (full HTML5 table via
   ``html.unescape`` — numeric ``&#…;`` and named ``&amp;`` alike);
5. whitespace is normalized: horizontal runs collapse to one space, lines
   are stripped, empty lines dropped, lines joined with ``\n``.

The function is pure Python (stdlib only) and runs Arrow-batched inside the
fused page UDFs (``functions.udfs.page_features``, on the pages whose
``text`` is null or empty, see ``operators.parse._page_args``) —
entity decoding over the full HTML5 named-reference table is not expressible
with JVM builtins, so this is a genuine UDF case; the batch path keeps it off
the per-row interpreter.
"""

from __future__ import annotations

import html as _html
import re

_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
# script/style/head swallow their content; non-greedy to the matching close
_DROP_ELEMENT = re.compile(
    r"<(script|style|head)\b[^>]*>.*?</\1\s*>", re.DOTALL | re.IGNORECASE
)
_BLOCK_BOUNDARY = re.compile(
    r"<(?:br\s*/?|/(?:p|div|li|tr|td|th|h[1-6]|section|article|ul|ol|table"
    r"|blockquote|pre))\s*>",
    re.IGNORECASE,
)
# A '<' only opens a tag when followed by a tag-name start, '/', '!' or '?'
# (the HTML5 tokenizer rule) — a literal '<' in text ("gia < 100k") is
# CONTENT; stripping to the next '>' would silently swallow everything
# between, address mentions included.
_TAG = re.compile(r"<[a-zA-Z/!?][^>]*>")
_HSPACE = re.compile(r"[ \t\r\f\v ]+")


def html_to_text(markup: str | bytes | None) -> str:
    """Deterministic markup→text extraction (rules in the module docstring).

    Accepts bytes (the ``html:binary`` column shape) — decoded as UTF-8 with
    replacement so one mojibake page can't kill a 100 TB extract stage.
    """
    if markup is None:
        return ""
    if isinstance(markup, (bytes, bytearray, memoryview)):
        markup = bytes(markup).decode("utf-8", errors="replace")
    if not markup:
        return ""
    s = _COMMENT.sub("", markup)
    s = _DROP_ELEMENT.sub("", s)
    s = _BLOCK_BOUNDARY.sub("\n", s)
    s = _TAG.sub("", s)
    s = _html.unescape(s)
    lines = (_HSPACE.sub(" ", line).strip() for line in s.split("\n"))
    return "\n".join(line for line in lines if line)
