"""Layer 1 — content cleaning (string -> string).

Reference: ``lib/json_remedy/layer1/content_cleaning.ex``.
Order (content_cleaning.ex process/2): code fences -> comments ->
HTML wrappers -> prose extraction -> trailing wrapper text ->
trailing-dots truncation -> encoding normalization.

All scans are string-aware (a fence/comment inside a JSON string
literal is content, not markup) via unescaped-quote parity, mirroring
``lib/json_remedy/layer_behaviour.ex:69-96``.
"""

from __future__ import annotations

import re

_FENCE = "```"
_HTML_WRAPPERS = ("pre", "code", "json")
_TRAILING_DOTS = re.compile(r"[.…][.…\s]{9,}$")


def _quote_parity_even(s: str, pos: int) -> bool:
    """True if position ``pos`` is *outside* any string literal."""
    in_str = False
    esc = False
    for ch in s[:pos]:
        if esc:
            esc = False
        elif ch == "\\":
            esc = True
        elif ch == '"':
            in_str = not in_str
    return not in_str


def strip_trailing_lone_fence(s: str, log: list) -> str:
    """A single ``` at end-of-input is an LLM terminator artifact, not a
    fence pair — drop it (utils/repair_pipeline.ex:56-66)."""
    t = s.rstrip()
    if t.endswith("```") and t.count("```") == 1:
        log.append({"layer": "layer1", "action": "removed trailing code fence", "position": len(t) - 3,
                    "original": "```", "replacement": ""})
        return t[:-3]
    return s


def remove_code_fences(s: str, log: list) -> str:
    """Strip ``` / ```json fences, keeping inner content.

    Fences inside string literals are preserved
    (content_cleaning.ex:56-64, 298-466).
    """
    idx = s.find(_FENCE)
    while idx != -1 and not _quote_parity_even(s, idx):
        idx = s.find(_FENCE, idx + 3)
    if idx == -1:
        return s
    # skip optional language word up to end of line
    j = idx + 3
    line_end = s.find("\n", j)
    lang = s[j:line_end] if line_end != -1 else s[j:]
    if re.fullmatch(r"[A-Za-z0-9_-]*\s*", lang or ""):
        body_start = (line_end + 1) if line_end != -1 else len(s)
    else:
        body_start = j
    end = s.find(_FENCE, body_start)
    while end != -1 and not _quote_parity_even(s[body_start:], end - body_start):
        end = s.find(_FENCE, end + 3)
    if end == -1:
        inner = s[body_start:]
    else:
        inner = s[body_start:end]
    # anything before the fence is wrapper text; after the closing fence may
    # hold more values — keep it so the multi-value detector can see it
    tail = s[end + 3 :] if end != -1 else ""
    result = (inner.strip() + (" " + tail if tail.strip() else "")).strip()
    # original/replacement per content_cleaning.ex:334-335 (whole input
    # -> extracted content)
    log.append({"layer": "layer1", "action": "removed code fences", "position": idx,
                "original": s, "replacement": result})
    return result


def remove_comments(s: str, log: list) -> str:
    """// line comments and nested /* */ block comments, outside strings
    (content_cleaning.ex:69-77, 469-619).

    Beyond the reference (which tracks only double quotes and would
    truncate ``'https://...'`` at the slashes — its own README example
    7 input): SINGLE-quoted strings also shield comments, but a ``'``
    opens one only at value/key position (previous non-ws char in
    ``{[:,`` or start), so prose apostrophes ("Here's …") never mask
    a real comment.

    Record convention: one action per comment with ``original`` = the
    comment text and ``replacement`` = "" — the reference's BLOCK form
    (content_cleaning.ex:553-560); its line-comment pass is line-based
    and records original = whole line / replacement = cleaned line
    (:478-490).  We use the block convention uniformly (our scanner is
    not line-oriented); the information content is equivalent."""
    if "//" not in s and "/*" not in s:  # C-speed guard: nothing to strip
        return s
    out: list[str] = []
    i, n = 0, len(s)
    in_str = False
    in_sq = False
    esc = False
    prev_sig = ""  # last non-whitespace char emitted outside strings
    while i < n:
        ch = s[i]
        if in_str:
            out.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
            i += 1
            continue
        if in_sq:
            out.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == "'":
                in_sq = False
                prev_sig = ch
            i += 1
            continue
        if ch == '"':
            in_str = True
            out.append(ch)
            i += 1
            continue
        if ch == "'" and (prev_sig == "" or prev_sig in "{[:,"):
            in_sq = True
            out.append(ch)
            i += 1
            continue
        if ch == "/" and i + 1 < n and s[i + 1] == "/":
            nl = s.find("\n", i)
            end = nl if nl != -1 else n
            # per-comment record like the reference
            # (content_cleaning.ex:556-559): original = the comment
            # text, replacement = ""
            log.append({"layer": "layer1", "action": "removed comments", "position": i,
                        "original": s[i:end], "replacement": ""})
            i = end
            continue
        if ch == "/" and i + 1 < n and s[i + 1] == "*":
            start = i
            depth = 1
            i += 2
            while i < n and depth:
                if s.startswith("/*", i):
                    depth += 1
                    i += 2
                elif s.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            log.append({"layer": "layer1", "action": "removed comments", "position": start,
                        "original": s[start:i], "replacement": ""})
            continue
        out.append(ch)
        if not ch.isspace():
            prev_sig = ch
        i += 1
    return "".join(out)


def extract_from_html(s: str, log: list) -> str:
    """Pull JSON out of <pre>/<code>/<json> wrappers
    (content_cleaning.ex:638-678)."""
    for tag in _HTML_WRAPPERS:
        m = re.search(rf"<{tag}[^>]*>(.*?)</{tag}>", s, re.DOTALL | re.IGNORECASE)
        if m and any(c in m.group(1) for c in "{["):
            log.append({"layer": "layer1", "action": "extracted JSON from html wrapper", "position": m.start(),
                        "original": s, "replacement": m.group(1).strip()})
            return m.group(1).strip()
    return s


# One alternation: a whole string literal is ONE match (consumed at
# C speed), structural chars another; a bare trailing quote (the
# unterminated-string case) falls through to the single-char branch.
_SPAN_RE = re.compile(r'"(?:[^"\\]|\\.)*"|[{}\[\]"]')


def _balanced_span(s: str, start: int) -> str | None:
    """Single-pass regex scan (the per-char Python loop ran over the
    whole doc once per repair; quote-dense docs need strings consumed
    as single tokens for the regex form to win)."""
    depth = 0
    for m in _SPAN_RE.finditer(s, start):
        tok = m.group(0)
        c = tok[0]
        if c == '"':
            if len(tok) == 1:
                return None  # unterminated string -> no balanced span
            continue
        if c in "{[":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return s[start : m.start() + 1]
    return None


def remove_trailing_wrapper_text(s: str, log: list) -> str:
    """Drop prose after the balanced JSON end unless it's another JSON
    value (content_cleaning.ex:795-869)."""
    t = s.rstrip()
    if not t or t[0] not in "{[":
        return s
    span = _balanced_span(t, 0)
    if span is None or len(span) == len(t):
        return s
    rest = t[len(span) :].lstrip()
    if rest[:1] in '{[",' or re.match(r"^-?\d|^true|^false|^null", rest):
        # multi-value or object-continuation case — leave for the parser
        return s
    brace = rest.find("{")
    if brace != -1 and ":" in rest[brace:]:
        # prose followed by a REAL object (log-embedded JSON — an
        # opener with a colon in its tail): the reference's
        # MultipleJsonDetector runs BEFORE layer 1 and keeps it; our
        # multi-value pass lives in the parser, so layer 1 must not
        # eat it.  Prose-shaped brackets ("see [1]", "use {curly}
        # syntax") have no colon and still drop — keying on ANY
        # opener fabricated values out of citations (review r3).
        return s
    log.append({"layer": "layer1", "action": "removed trailing wrapper text", "position": len(span),
                "original": t[len(span):], "replacement": ""})
    return span


def strip_trailing_dots(s: str, log: list) -> str:
    """>=10 trailing dots (LLM max-token truncation artifact),
    content_cleaning.ex:136-182 (threshold at :149)."""
    m = _TRAILING_DOTS.search(s)
    if m and m.group(0).count(".") + m.group(0).count("…") >= 10:
        log.append({"layer": "layer1", "action": "removed trailing dots", "position": m.start(),
                    "original": m.group(0), "replacement": ""})
        return s[: m.start()]
    return s


def normalize_encoding(raw: bytes | str, log: list) -> str:
    """bytes -> str; invalid UTF-8 degraded to ASCII
    (content_cleaning.ex:103-120, 920-925)."""
    if isinstance(raw, str):
        return raw
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        log.append({"layer": "layer1", "action": "normalized encoding to ascii", "position": 0,
                    "original": None, "replacement": None})
        return raw.decode("ascii", errors="ignore")


def clean(s: str, log: list) -> str:
    """Full Layer-1 pass in reference order."""
    s = strip_trailing_lone_fence(s, log)
    s = remove_code_fences(s, log)
    s = remove_comments(s, log)
    s = extract_from_html(s, log)
    # NOTE: the reference's prose extraction (content_cleaning.ex:681-783,
    # first balanced span of wrapper text) is subsumed by the tolerant
    # parser's garbage-skipping top level, which also preserves multiple
    # JSON values embedded in wrapper text; extracting here would
    # truncate multi-value prose to the first balanced span.
    s = remove_trailing_wrapper_text(s, log)
    s = strip_trailing_dots(s, log)
    return s


def supports(s: str) -> bool:
    """Cheap applicability gate (content_cleaning.ex:191-203)."""
    if "```" in s or "//" in s or "/*" in s:
        return True
    if "<pre" in s or "<code" in s or "<json" in s:
        return True
    t = s.strip()
    return len(t) > 100 and bool(t) and t[0] not in "{["
