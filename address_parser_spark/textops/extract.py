"""Address-mention extraction from free web text.

The reference's bulk pipeline treats each input row as exactly one address
(``ner/build_real_dataset.py:196-235``). Web pages are not that clean, so the
engine adds an explicit extraction step: deterministic, pure, row-local — a
trigger-phrase scan plus an admin-keyword density heuristic. The per-url
invariant ("byte-identical extracted text") is defined over THIS function's
output: extraction returns exact substrings of the page text, untouched.
"""

from __future__ import annotations

import re

# Phrases that introduce an address in Vietnamese web copy.
_TRIGGER = re.compile(
    r"(?:địa\s*chỉ(?:\s*liên\s*hệ)?|đ/c|đc|address|trụ\s*sở(?:\s*(?:tại|chính))?"
    r"|văn\s*phòng(?:\s*tại)?|liên\s*hệ\s*tại|showroom|chi\s*nhánh)"
    r"\s*[:\-–]\s*",
    re.IGNORECASE,
)

# End of an address span: line break, ';', '!', '?', or a '.' that closes a
# sentence (followed by whitespace, EOL, or any character that is neither a
# letter nor a digit: "minh.) tiếp", "minh.\ufffd") — a '.' glued to a letter
# or digit is an abbreviation ("P.5", "TP.Hồ Chí Minh") and stays inside the
# span.
_SPAN_END = re.compile(r"\.(?![^\W_])|[\n;!?]|$")

# A '.' immediately preceded by a bare admin-type abbreviation token
# ("TP. Hồ Chí Minh", "H. Thạnh Lộc", "X. Yên Đức") is part of the
# abbreviation even when followed by a space — the span continues past it.
_DOT_ABBREV = re.compile(r"\b(?:tp|tx|tt|p|q|h|x)$", re.IGNORECASE)

# When the overshoot fallback cuts at an abbreviation dot, the span ends with
# the bare prefix token itself ("…, TP") — a stray token with no following
# name. Strip it (plus its separating comma/whitespace) before emitting.
_TRAILING_BARE_ABBREV = re.compile(r"[\s,]*\b(?:tp|tx|tt|p|q|h|x)$", re.IGNORECASE)

# Administrative keywords for the density heuristic on untriggered lines.
_ADMIN_KEYWORD = re.compile(
    r"\b(?:phường|xã|quận|huyện|tỉnh|thành\s*phố|thị\s*xã|thị\s*trấn"
    r"|tp|p|q|tx|tt|đường|số)\b\.?",
    re.IGNORECASE,
)

MAX_MENTION_LEN = 200
MAX_MENTIONS_PER_DOC = 16


def extract_mentions(text: str) -> list[str]:
    """Return address-like spans (exact substrings, document order, deduped).

    Two detectors, deterministic and order-stable:
    1. trigger phrase → capture to end of sentence/line;
    2. full lines with ≥3 distinct admin-keyword hits and a comma.
    """
    if not text:
        return []
    out: list[str] = []
    seen: set[str] = set()

    def push(span: str) -> None:
        span = span.strip()
        if 0 < len(span) <= MAX_MENTION_LEN and span not in seen:
            seen.add(span)
            out.append(span)

    for m in _TRIGGER.finditer(text):
        start = m.end()
        pos = start
        fit_end: int | None = None  # longest abbreviation-dot cut ≤ cap
        while True:
            end_match = _SPAN_END.search(text, pos)
            if end_match is None:
                end = len(text)
                break
            end = end_match.start()
            if (
                end < len(text)
                and text[end] == "."
                and _DOT_ABBREV.search(text, start, end)
            ):
                if len(text[start:end].strip()) <= MAX_MENTION_LEN:
                    fit_end = end
                pos = end + 1  # abbreviation dot — keep scanning
                continue
            break
        span = text[start:end]
        if len(span.strip()) > MAX_MENTION_LEN and fit_end is not None:
            # The abbreviation-dot extension overshot the length cap; the
            # longest unextended cut still yields a usable (shorter)
            # mention — prefer that to dropping the span entirely. The cut
            # lands AT an abbreviation dot, so the raw slice ends with the
            # bare prefix token ("…, TP") — strip it so a dangling admin
            # prefix never reaches detection/normalization.
            span = _TRAILING_BARE_ABBREV.sub("", text[start:fit_end].rstrip())
        push(span)
        if len(out) >= MAX_MENTIONS_PER_DOC:
            return out

    for line in text.split("\n"):
        stripped = line.strip()
        if not stripped or stripped in seen or "," not in stripped:
            continue
        if _TRIGGER.search(stripped):
            continue  # already captured by detector 1
        if len(_ADMIN_KEYWORD.findall(stripped)) >= 3:
            push(stripped)
            if len(out) >= MAX_MENTIONS_PER_DOC:
                break
    return out
