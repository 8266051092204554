"""Tolerant JSON parser — Layers 2+3 of the reference, fused.

A recursive-descent parser over a context stack that *repairs while it
parses*: unbalanced/mismatched delimiters (reference Layer 2,
``lib/json_remedy/layer2/structural_repair.ex``), quote/literal/number/
comma/colon normalization (reference Layer 3,
``lib/json_remedy/layer3/*.ex``), and the object-boundary-merge /
multi-value behaviors ported by the reference from the public Python
``json_repair`` library (``test/missing_patterns/*.exs``).

The reference implements these as string->string rewrite passes plus a
strict parse; we fuse them into one pass that emits the parsed term
directly — same observable semantics (golden-tested), one O(n) scan.

Every repair appends an action record
``{"layer", "action", "position", "original", "replacement"}`` — the
reference's full ``repair_action`` struct
(``lib/json_remedy/layer_behaviour.ex:9-15``).  Layer-3 records carry
``original``/``replacement`` as None, matching the reference's public
examples (``lib/json_remedy.ex:80,251-254``); layer-2 structural
records carry the removed char / added closer
(``layer2/structural_repair.ex:166-171``).
"""

from __future__ import annotations

import re
from typing import Any

# Sentinel: "nothing parsed here, drop it" (e.g. spurious opener).
SKIP = object()

_WS = " \t\n\r\u00a0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u202f\u205f\u3000\ufeff"
_QUOTES = {'"', "'", "“", "”", "‘", "’"}
_LITERALS = {
    "true": True,
    "True": True,
    "TRUE": True,
    "false": False,
    "False": False,
    "FALSE": False,
    "null": None,
    "None": None,
    "NULL": None,
    "Null": None,
    "nil": None,
}
# Reference literal table: lib/json_remedy/layer3/literal_processors.ex:17-25

# first-char dispatch for _try_literal (hot in garbage-prose scanning)
_LITERALS_BY_FIRST: dict = {}
for _w, _v in _LITERALS.items():
    _LITERALS_BY_FIRST.setdefault(_w[0], []).append((_w, _v))

# maximal run of characters the top-level garbage skip would consume
# one at a time: everything except value openers ({ [ "), number
# starts, literal first-chars, and whitespace (handled by _skip_ws so
# the garbage flag stays accurate).  Quotes other than `"` only break
# the loop at the very first non-ws position, which can never be
# mid-run — safe to swallow.
_GARBAGE_RUN = re.compile("[^" + re.escape('{["0123456789-.TtFfNn' + _WS) + "]+")

_NUM_START = set("0123456789-.")
# Between-token whitespace includes the common exotic Unicode spaces
# web text carries (NBSP, en/em quads, narrow NBSP, ideographic space,
# BOM/ZWNBSP) — the reference's ASCII-only skip loop turns
# `{ "name": "Alice"}` into garbage keys; INSIDE strings
# these characters are preserved untouched (string content never goes
# through _skip_ws).
_FUNC_LITERAL_RE = re.compile(r"function\b(\s+[A-Za-z_$][\w$]*)?\s*\(")
_NONWS = re.compile("[^ \\t\\n\\r\\u00a0\\u1680\\u2000-\\u200a\\u202f\\u205f\\u3000\\ufeff]")
# chars the string scanner must stop at; everything else bulk-copies
_STR_SPECIAL = re.compile(r"[\\\"'“”‘’\n\}\]]")
_IDENT = re.compile(r"[A-Za-z0-9_$-￿]")

_RE_UNDERSCORE_INT = re.compile(r"^-?\d+(?:_\d+)+$")
_RE_THOUSANDS = re.compile(r"^-?\d{1,3}(?:,\d{3})+(?:\.\d+)?$")
_RE_FRACTION = re.compile(r"^-?\d+/-?\d+$")
_RE_RANGE = re.compile(r"^-?\d+-\d+$")
_RE_MULTIDOT = re.compile(r"^-?\d+(?:\.\d+){2,}$")
_RE_TRAIL_EXP = re.compile(r"^(-?\d+(?:\.\d+)?)[eE][+-]?$")
_RE_INT = re.compile(r"^-?(?:0|[1-9]\d*|\d+)$")
_RE_FLOAT = re.compile(r"^-?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?$")


class _Frame:
    OBJECT_KEY = "object_key"
    OBJECT_VALUE = "object_value"
    ARRAY = "array"


class TolerantParser:
    """One-pass repairing JSON parser.

    Parameters
    ----------
    s : str
        Input (after Layer-1 cleaning and regex pre-passes).
    log : list | None
        Mutable list receiving repair-action dicts.
    """

    def __init__(
        self,
        s: str,
        log: list | None = None,
        *,
        object_merging: bool = True,
        multi_value: bool = True,
        fix_doubled_quotes: bool = False,
    ):
        # flags mirror the reference's app-env toggles (defaults on):
        # object_merging  <- :enable_object_merging (json_remedy.ex:389)
        # multi_value     <- :enable_multiple_json_aggregation (ex:355)
        # fix_doubled_quotes — DEFAULT OFF: the reference DEFERS this
        # pattern (test/missing_patterns/doubled_quotes_test.exs tags
        # every case :layer5_target, excluded from its CI); on, we
        # implement the deferred layer-5 semantics the suite specifies
        # (""value"" boundary doubling, per json_repair parse_string).
        self.s = s
        self.n = len(s)
        self.i = 0
        self.ctx: list[str] = []
        self.log = log if log is not None else []
        self.object_merging = object_merging
        self.multi_value = multi_value
        self.fix_doubled_quotes = fix_doubled_quotes
        self._dangling_key: str | None = None
        j = 0
        while j < self.n and s[j] in _WS:
            j += 1
        self._first_nonws = j

    # ------------------------------------------------------------- helpers
    def _rec(
        self,
        layer: str,
        action: str,
        original: str | None = None,
        replacement: str | None = None,
    ) -> None:
        """Append one repair action in the reference's full record shape
        `%{layer, action, position, original, replacement}`
        (lib/json_remedy/layer_behaviour.ex:9-15).  Layer-3 syntax
        actions carry nil/nil like the reference's public examples
        (lib/json_remedy.ex:80,251-254); layer-2 structural actions
        carry the removed char / added closer
        (layer2/structural_repair.ex:166-171,191-196)."""
        self.log.append(
            {
                "layer": layer,
                "action": action,
                "position": self.i,
                "original": original,
                "replacement": replacement,
            }
        )

    def _peek(self, off: int = 0) -> str:
        j = self.i + off
        return self.s[j] if 0 <= j < self.n else ""

    def _skip_ws(self) -> str:
        # fast path: already at a non-space char (the common case —
        # profiling shows ~4k calls/doc, mostly no-ops)
        i = self.i
        if i < self.n:
            c = self.s[i]
            if c not in _WS:
                return c
        m = _NONWS.search(self.s, i)
        self.i = m.start() if m else self.n
        return self.s[self.i] if self.i < self.n else ""

    def _next_nonws(self, j: int) -> tuple[str, int]:
        m = _NONWS.search(self.s, j)
        j = m.start() if m else self.n
        return (self.s[j] if j < self.n else "", j)

    # --------------------------------------------------------------- parse
    def parse(self) -> Any:
        """Top level: one value, or multiple concatenated values.

        Multi-value semantics per reference
        ``lib/json_remedy/utils/multiple_json_detector.ex:28-75``:
        structurally identical consecutive values replace the previous
        one; trailing primitives are dropped when wrapper text was
        skipped; ``[] X`` collapses per the two-value special case.
        """
        saw_garbage_box = [False]
        first = self._parse_top(saw_garbage_box)
        if not self.multi_value:
            # :enable_multiple_json_aggregation off -> single-value
            # pipeline (reference json_remedy.ex:355-376 skips the
            # MultipleJsonDetector entirely)
            return first
        values = []
        if first is not SKIP:
            values.append(first)
        while True:
            c = self._skip_ws()
            if not c:
                break
            v = self._parse_top(saw_garbage_box)
            if v is SKIP:
                continue
            if values and _same_structure(values[-1], v):
                self._rec("layer3", "replaced structurally identical value")
                values[-1] = v
            else:
                values.append(v)
        if saw_garbage_box[0]:
            values = _filter_trailing_primitives(values, self.log)
        if not values:
            return SKIP
        if len(values) == 1:
            return values[0]
        if len(values) == 2 and values[0] == [] and isinstance(values[0], list):
            # reference multiple_json_detector.ex:58-70
            return values[0] if _is_empty(values[1]) else values[1]
        return values

    def _parse_top(self, saw_garbage_box: list) -> Any:
        """Parse one top-level value, skipping garbage before it."""
        while True:
            c = self._skip_ws()
            if not c:
                return SKIP
            # mid-stream, only `"` opens a string — a lone apostrophe in
            # wrapper prose ("Here's …") must stay garbage
            if c in "{[" or c == '"' or c in _NUM_START:
                break
            if c in _QUOTES and self.i == self._first_nonws:
                break
            # only literal first-chars can start a value here — any
            # other alpha is garbage without the _try_literal call
            if c in _LITERALS_BY_FIRST:
                lit = self._try_literal()
                if lit is not SKIP:
                    return lit
            saw_garbage_box[0] = True
            self.i += 1
            m = _GARBAGE_RUN.match(self.s, self.i)
            if m:
                self.i = m.end()
        if c in _NUM_START:
            start = self.i
            v = self.parse_number()
            if v is SKIP and self.i == start:
                self.i += 1
                saw_garbage_box[0] = True
            return v
        return self.parse_value()

    def parse_value(self) -> Any:
        c = self._skip_ws()
        if not c:
            return SKIP
        if c == "{":
            return self.parse_object()
        if c == "[":
            return self.parse_array()
        if c in _QUOTES:
            return self.parse_string()
        if c in _NUM_START:
            return self.parse_number()
        if c == "f" and self._try_function_literal():
            return SKIP  # array element dropped; object pairs drop earlier
        lit = self._try_literal()
        if lit is not SKIP:
            return lit
        if c.isalpha() or c == "<" or not c.isascii() or c in "$€£¥_":
            return self.parse_string()  # unquoted value
        return SKIP

    def _try_function_literal(self) -> bool:
        """JavaScript ``function [name](args) { body }`` at value
        position: consume the whole literal and report True so the
        caller drops it (reference README.md:247-249 — JS object
        literals parse with the function value removed).  Strings
        inside the parens/body are honored when balancing; a truncated
        body consumes to EOF.  ``false`` never matches (\\b guard)."""
        # positional match — never slice self.s (a copy of the whole
        # remaining document per probe; `false` values probe this)
        if not self.s.startswith("function", self.i):
            return False
        m = _FUNC_LITERAL_RE.match(self.s, self.i)
        if not m:
            return False

        def skip_balanced(j: int, op: str, cl: str) -> int | None:
            depth, in_str, quote, esc = 1, False, "", False
            while j < len(self.s):
                ch = self.s[j]
                if in_str:
                    if esc:
                        esc = False
                    elif ch == "\\":
                        esc = True
                    elif ch == quote:
                        in_str = False
                elif ch in "\"'":
                    in_str, quote = True, ch
                elif ch == op:
                    depth += 1
                elif ch == cl:
                    depth -= 1
                    if depth == 0:
                        return j + 1
                j += 1
            return None

        j = skip_balanced(m.end(), "(", ")")  # positional match: absolute end
        if j is None:
            self.i = len(self.s)
            self._rec("layer1", "removed function literal value")
            return True
        k = j
        while k < len(self.s) and self.s[k] in _WS:
            k += 1
        if k >= len(self.s) or self.s[k] != "{":
            return False  # `function(...)` call-like value, not a literal
        j = skip_balanced(k + 1, "{", "}")
        self.i = len(self.s) if j is None else j
        self._rec("layer1", "removed function literal value")
        return True

    # -------------------------------------------------------------- object
    def parse_object(self) -> Any:
        assert self._peek() == "{"
        self.i += 1
        # Spurious-opener rule (reference structural_repair.ex:283-318):
        # `{` immediately closed by `]` with nothing inside -> delete it.
        c = self._skip_ws()
        if c == "]":
            self._rec("layer2", "removed spurious opening brace", original="{", replacement="")
            self.i += 1
            return SKIP
        if c == "{" and not self.ctx and self._looks_like_doubled_opener("{"):
            # top-level only: a nested `[[…]]`/`{{…}}` tail at EOF is far
            # more likely a truncated document than a doubled opener
            self._rec("layer2", "removed extra opening brace", original="{", replacement="")
            self.i += 1

        # `{"key", 105,12,}` -> {"key": "105,12"} — a single quoted key,
        # comma instead of colon, numeric tail joined as one string
        # (number_edge_cases_test.exs:264-268); must win over brace-set
        # coercion below
        m = re.match(r'\s*"((?:[^"\\]|\\.)*)"\s*,\s*([\d.,\s]+)\}', self.s[self.i :])
        if m:
            self._rec("layer3", "joined comma-separated value into string")
            self.i += m.end()
            return {m.group(1): m.group(2).strip().rstrip(",").strip()}

        # Brace-wrapped value set `{'a','b'}` -> array (reference
        # utils/structure_coercion.ex:5-57): no colon but a comma at
        # depth 0.  A colon-less, comma-less `{"a" "b"}` — or one with
        # adjacent quoted tokens like `{"k" "v", "k2" 30}` — is a
        # missing-colon object, not a set.
        has_colon, has_comma, adjacent = self._scan_depth1_punct()
        if not has_colon and has_comma and not adjacent:
            vals = self._parse_brace_set()
            if vals is not SKIP:
                return vals

        obj: dict[str, Any] = {}
        while True:
            c = self._skip_ws()
            if not c:
                self._rec("layer2", "added missing closing brace at EOF", replacement="}")
                break
            if c == "}":
                self.i += 1
                # boundary merge applies only to the top-level object —
                # `, "k":` after a *nested* close is the parent's next pair
                # (object_merger.ex runs on whole documents only)
                if not self.ctx and self._merge_continuation():
                    continue
                break
            if c == "]":
                if obj:
                    self._rec("layer2", "added missing closing brace before ]", replacement="}")
                else:
                    self._rec("layer2", "removed empty object before ]", original="{", replacement="")
                    # empty object closed by ] -> drop object, don't eat ]
                    return SKIP
                break
            if c == ",":
                # comma-triggered context closure (structural_repair.ex:
                # 340-343, 402-462): `, {` or `, [` in key position with
                # an array frame buried below means this object was left
                # unclosed — close it and let the array consume the comma
                nxt, _ = self._next_nonws(self.i + 1)
                if nxt in "{[" and _Frame.ARRAY in self.ctx:
                    self._rec("layer2", "added missing closing brace before next element", replacement="}")
                    break
                if nxt == "}":
                    self._rec("layer3", "removed trailing comma")
                self.i += 1
                continue
            if (
                c not in _QUOTES
                and not c.isalpha()
                and c != "_"
                and not c.isdigit()
                and (c.isascii() or c in _WS)
            ):
                # garbage char at pair position (e.g. stray backtick);
                # non-ASCII non-space chars start unquoted keys instead
                # (reference: `🚀status:` keeps the emoji in the key,
                # critical/byte_size_vs_string_length_layer_3_test.exs)
                self._rec(
                    "layer1", "skipped non-JSON character in object",
                    original=c, replacement="",
                )
                self.i += 1
                continue
            key = self.parse_string(ctx=_Frame.OBJECT_KEY)
            if key is SKIP or key == "" and self._skip_ws() not in ":":
                continue
            if not isinstance(key, str):
                key = _to_json_text(key)
            c = self._skip_ws()
            had_colon = c == ":"
            if had_colon:
                self.i += 1
            else:
                self._rec("layer3", "added missing colon")
            c = self._skip_ws()
            if c == "}" or c == ",":
                # missing value -> "" (reference pattern2 test:37-43)
                self._rec("layer3", "added empty value for dangling key")
                obj[key] = ""
                continue
            if not c:
                if not had_colon and self.ctx and self.ctx[-1] == _Frame.ARRAY:
                    # truncated `[{"k":"v", "danglingKey` — close the
                    # object and emit ["danglingKey"] as the next element
                    # (utils/preprocessing.ex:19-147)
                    self._rec("layer2", "split truncated object key into array")
                    self._dangling_key = key
                else:
                    self._rec("layer3", "added empty value for dangling key")
                    obj[key] = ""
                continue
            if c == "f" and self._try_function_literal():
                # JS function value: drop the WHOLE pair (README.md:249)
                continue
            self.ctx.append(_Frame.OBJECT_VALUE)
            val = self.parse_value()
            self.ctx.pop()
            if val is SKIP:
                val = ""
            obj[key] = val
            self._consume_stray_quote()
        return obj

    def _scan_depth1_punct(self) -> tuple[bool, bool, bool]:
        """String-aware scan of this object at depth 1 for ``:`` / ``,``
        and the quote-space-quote adjacency that marks missing colons.

        Returns early at the first depth-1 colon: the only consumer is
        the set-coercion guard (``not has_colon and ...``), which is
        decided False right there — without this, every nested object
        re-scans its whole span (15% of slow-path time on the 100-obj
        microbench doc)."""
        depth = 1
        j = self.i
        in_str: str | None = None
        esc = False
        has_colon = has_comma = adjacent = False
        just_closed_string = False
        while j < self.n:
            ch = self.s[j]
            if in_str:
                if esc:
                    esc = False
                elif ch == "\\":
                    esc = True
                elif ch == in_str:
                    in_str = None
                    just_closed_string = depth == 1
            else:
                if ch in ('"', "'"):
                    if just_closed_string:
                        adjacent = True
                    in_str = ch
                elif ch == ":" and depth == 1:
                    return True, has_comma, adjacent
                elif ch == "," and depth == 1:
                    has_comma = True
                elif ch in "{[":
                    depth += 1
                elif ch in "}]":
                    depth -= 1
                    if depth == 0:
                        break
                if ch not in _WS and ch not in ('"', "'"):
                    just_closed_string = False
            j += 1
        return has_colon, has_comma, adjacent

    def _parse_brace_set(self) -> Any:
        """`{'a','b'}` -> ['a','b'];  `{}` stays an empty object."""
        save = self.i
        c = self._skip_ws()
        if c == "}":
            self.i += 1
            if self.object_merging and self._merge_continuation_probe():
                self.i = save
                return SKIP
            return {}
        vals: list[Any] = []
        self._rec("layer3", "coerced colon-less object to array")
        self.ctx.append(_Frame.ARRAY)
        try:
            while True:
                c = self._skip_ws()
                if not c:
                    break
                if c == "}":
                    self.i += 1
                    break
                if c == ",":
                    self.i += 1
                    continue
                v = self.parse_value()
                if v is SKIP:
                    self.i += 1
                    continue
                vals.append(v)
        finally:
            self.ctx.pop()
        return vals

    def _merge_continuation_probe(self) -> bool:
        """True if `}` here is followed by `, "key":` (continuation)."""
        _, j = self._next_nonws(self.i)
        if j >= self.n or self.s[j] != ",":
            return False
        c, j = self._next_nonws(j + 1)
        if c in _QUOTES:
            j2 = j + 1
            while j2 < self.n and self.s[j2] not in '"\n' and self.s[j2] not in _QUOTES:
                j2 += 1
            if j2 < self.n:
                c3, _ = self._next_nonws(j2 + 1)
                return c3 == ":"
        return False

    def _merge_continuation(self) -> bool:
        """Object-boundary merge (reference layer3/object_merger.ex:19-48).

        After consuming `}`, if `, "key": …` follows, absorb the pairs
        into the object we are still building; `, []` / `, {}` trailing
        empties are dropped.  Gated by ``object_merging``
        (:enable_object_merging, default on).
        """
        if not self.object_merging:
            return False
        save = self.i
        c, j = self._next_nonws(self.i)
        if c != ",":
            return False
        c2, j2 = self._next_nonws(j + 1)
        if c2 in _QUOTES:
            if not self._merge_continuation_probe():
                return False
            self._rec("layer3", "merged object boundary")
            self.i = j + 1
            return True
        if c2 in "[{":
            # `, []` or `, {}` -> drop (object_merger.ex empty-trailer rule)
            c3, j3 = self._next_nonws(j2 + 1)
            if (c2 == "[" and c3 == "]") or (c2 == "{" and c3 == "}"):
                nxt, _ = self._next_nonws(j3 + 1)
                if nxt in ("", "}", ","):
                    self._rec("layer3", "dropped empty trailing container")
                    self.i = j3 + 1
                    return False
        self.i = save
        return False

    def _looks_like_doubled_opener(self, ch: str) -> bool:
        """`{{"a":1}}` -> inner object only (structural_repair.ex:162-210).

        A doubled opener is dropped when the inner structure closes with a
        doubled closer too (no `], [` / `}, {` between — i.e. not a real
        nested container in first position).
        """
        closer = "}" if ch == "{" else "]"
        depth = 0
        in_str: str | None = None
        esc = False
        j = self.i
        while j < self.n:
            cj = self.s[j]
            if in_str:
                if esc:
                    esc = False
                elif cj == "\\":
                    esc = True
                elif cj == in_str:
                    in_str = None
            else:
                if cj in ('"', "'"):
                    in_str = cj
                elif cj in "{[":
                    depth += 1
                elif cj in "}]":
                    depth -= 1
                    if depth == 0:
                        # doubled iff the inner span is followed by the
                        # matching extra closer and then nothing
                        nxt, j2 = self._next_nonws(j + 1)
                        if cj != closer or nxt != closer:
                            return False
                        after, _ = self._next_nonws(j2 + 1)
                        return after == ""
                    if depth < 0:
                        return False
            j += 1
        return False

    def _quote_run_len(self, quote: str) -> int:
        """Length of the run of same-class quotes starting at self.i."""
        j = self.i
        while j < self.n:
            cj = self.s[j]
            if cj == quote or (quote != '"' and cj in _QUOTES and _same_quote_class(quote, cj)):
                j += 1
            else:
                break
        return j - self.i

    def _consume_stray_quote(self) -> None:
        """`"numbers": 12345", …` — eat an orphan quote after a value."""
        save = self.i
        c = self._skip_ws()
        if c in _QUOTES:
            nxt, _ = self._next_nonws(self.i + 1)
            if nxt in (",", "}", "]", ""):
                self._rec("layer3", "removed stray quote after value")
                self.i += 1
                return
        self.i = save

    # --------------------------------------------------------------- array
    def parse_array(self) -> Any:
        assert self._peek() == "["
        self.i += 1
        c = self._skip_ws()
        if c == "[" and not self.ctx and self._looks_like_doubled_opener("["):
            self._rec("layer2", "removed extra opening bracket", original="[", replacement="")
            self.i += 1
        arr: list[Any] = []
        self.ctx.append(_Frame.ARRAY)
        try:
            while True:
                c = self._skip_ws()
                if not c:
                    self._rec("layer2", "added missing closing bracket at EOF", replacement="]")
                    break
                if c == "]":
                    self.i += 1
                    break
                if c == "}":
                    # mismatched closer for an array frame -> treat as ]
                    self._rec("layer2", "rewrote } closing an array to ]", original="}", replacement="]")
                    self.i += 1
                    break
                if c == ",":
                    nxt, _ = self._next_nonws(self.i + 1)
                    if nxt == "]":
                        self._rec("layer3", "removed trailing comma")
                    self.i += 1
                    continue
                v = self.parse_value()
                if v is SKIP:
                    if self._peek() and self._peek() not in "]}":
                        self.i += 1
                    continue
                arr.append(v)
                if self._dangling_key is not None:
                    arr.append([self._dangling_key])
                    self._dangling_key = None
                self._consume_stray_quote()
        finally:
            self.ctx.pop()
        return arr

    # -------------------------------------------------------------- string
    def parse_string(self, ctx: str | None = None) -> Any:
        """Parse a (possibly unquoted / unterminated / quote-embedded) string.

        Reference semantics spread across layer3:
        quote normalization (syntax_normalization.ex:169-188), unquoted
        keys (quote_processors.ex:14-33), unquoted multi-word values
        (binary_processors.ex:486-543), embedded quotes
        (syntax_normalization.ex:612-667), missing closing quote at EOF
        (syntax_normalization.ex:529-543).
        """
        if ctx is None:
            ctx = self.ctx[-1] if self.ctx else _Frame.OBJECT_VALUE
        c = self._skip_ws()
        if c not in _QUOTES:
            return self._parse_unquoted(ctx)
        quote = c
        if quote != '"':
            self._rec("layer3", "normalized quote")
        self.i += 1
        if self.fix_doubled_quotes:
            # layer-5 doubled-opener handling (doubled_quotes_test.exs):
            # `""value""` strips the extra opener; a bare `""` before a
            # terminator is a LEGITIMATE empty string and stays silent.
            extra = self._quote_run_len(quote)
            if extra:
                nxt_after, _ = self._next_nonws(self.i + extra)
                if nxt_after in (",", "]", "}", ":", ""):
                    self.i += extra
                    if extra > 1:
                        self._rec("layer3", "removed doubled quote")
                    return ""
                self.i += extra
                self._rec("layer3", "removed doubled quote")
        out: list[str] = []
        saw_embedded = False
        while self.i < self.n:
            # bulk-copy the run of ordinary characters (regex jump —
            # a per-char Python loop is the kernel's hottest spot)
            m = _STR_SPECIAL.search(self.s, self.i)
            j = m.start() if m else self.n
            if j > self.i:
                out.append(self.s[self.i : j])
                self.i = j
                if self.i >= self.n:
                    break
            ch = self.s[self.i]
            if ch == "\\":
                self.i += 1
                out.append(self._read_escape())
                continue
            if ch == quote or (quote != '"' and ch in _QUOTES and _same_quote_class(quote, ch)):
                # candidate closing quote — decide: close or embedded?
                if self.fix_doubled_quotes:
                    # layer-5 doubled-closer: a quote RUN followed by a
                    # value terminator closes the string, eating the
                    # whole run (`value""` / `""value""` / `"""v"""`);
                    # a run followed by content falls through to the
                    # embedded-quote rules below
                    run = self._quote_run_len(quote)
                    if run > 1:
                        nxt_after, _ = self._next_nonws(self.i + run)
                        if nxt_after in (",", "]", "}", ":", ""):
                            self._rec("layer3", "removed doubled quote")
                            self.i += run
                            break
                if ctx != _Frame.OBJECT_VALUE or not self.ctx:
                    # keys, array elements and top-level strings close at
                    # the first unescaped quote (missing commas are the
                    # caller's problem — recent_python_cases:47-66)
                    self.i += 1
                    break
                nxt, k = self._next_nonws(self.i + 1)
                if "\n" in self.s[self.i + 1 : k]:
                    # a line break after the quote ends the value even if
                    # prose follows (truncated docs with trailing text)
                    self.i += 1
                    break
                if nxt in (",", "]", ":", ""):
                    self.i += 1
                    break
                if nxt == "}":
                    if saw_embedded:
                        # `{"key": "v"alue"}` -> `v"alue"` keeps this quote
                        # too; the `}` then ends the dirty string below
                        # (recent_python_cases_test.exs:96-101)
                        out.append(ch)
                        self._rec("layer3", "escaped embedded quote")
                        self.i += 1
                        continue
                    self.i += 1
                    break
                if nxt in _QUOTES:
                    # `"According...""ans": "YES"` — next quoted token is a
                    # key? close here with a missing comma.
                    if self._quoted_token_is_key(k):
                        self._rec("layer3", "added missing comma")
                        self.i += 1
                        break
                    if k == self.i + 1 and out:
                        # doubled quote `it''s` -> drop both
                        self._rec("layer3", "removed doubled quote")
                        self.i += 2
                        continue
                    out.append(ch)
                    saw_embedded = True
                    self._rec("layer3", "escaped embedded quote")
                    self.i += 1
                    continue
                # letter/digit follows -> embedded quote, keep scanning
                out.append(ch)
                saw_embedded = True
                self._rec("layer3", "escaped embedded quote")
                self.i += 1
                continue
            if saw_embedded and ch in "}]":
                # dirty string hit a structural closer — end it here
                # (`{"key": "v"alue"}` -> `v"alue"`)
                self._rec("layer3", "added missing closing quote")
                break
            if ch == "\n" and ctx == _Frame.OBJECT_KEY:
                self._rec("layer3", "added missing closing quote")
                break
            out.append(ch)
            self.i += 1
        else:
            self._rec("layer3", "added missing closing quote at EOF")
        return "".join(out)

    def _quoted_token_is_key(self, j: int) -> bool:
        """At a quote at ``j``: does `"token" :` follow (an object key)?"""
        if j >= self.n:
            return False
        q = self.s[j]
        k = j + 1
        esc = False
        while k < self.n:
            ck = self.s[k]
            if esc:
                esc = False
            elif ck == "\\":
                esc = True
            elif ck == q:
                nxt, _ = self._next_nonws(k + 1)
                return nxt == ":"
            elif ck == "\n":
                return False
            k += 1
        return False

    def _read_escape(self) -> str:
        ch = self._peek()
        self.i += 1
        table = {
            '"': '"',
            "\\": "\\",
            "/": "/",
            "b": "\b",
            "f": "\f",
            "n": "\n",
            "r": "\r",
            "t": "\t",
            "'": "'",
        }
        if ch in table:
            return table[ch]
        if ch == "u":
            hexs = self.s[self.i : self.i + 4]
            if len(hexs) == 4 and all(h in "0123456789abcdefABCDEF" for h in hexs):
                self.i += 4
                cp = int(hexs, 16)
                # combine a \uD800-\uDBFF \uDC00-\uDFFF surrogate-pair
                # escape sequence like json.loads does; a lone
                # surrogate stays lone (re-escaped at serialization)
                if 0xD800 <= cp <= 0xDBFF and self.s[self.i : self.i + 2] == "\\u":
                    lo_hex = self.s[self.i + 2 : self.i + 6]
                    if len(lo_hex) == 4 and all(h in "0123456789abcdefABCDEF" for h in lo_hex):
                        lo = int(lo_hex, 16)
                        if 0xDC00 <= lo <= 0xDFFF:
                            self.i += 6
                            return chr(0x10000 + ((cp - 0xD800) << 10) + (lo - 0xDC00))
                return chr(cp)
        if ch == "x":
            hexs = self.s[self.i : self.i + 2]
            if len(hexs) == 2 and all(h in "0123456789abcdefABCDEF" for h in hexs):
                self.i += 2
                return chr(int(hexs, 16))
        self._rec("layer3", "normalized invalid escape")
        return ch

    def _parse_unquoted(self, ctx: str) -> Any:
        """Bare token: literal, HTML blob, or unquoted (multi-word) string."""
        start = self.i
        lit = self._try_literal()
        if lit is not SKIP:
            return lit
        if self._peek() == "<":
            return self._parse_html_value()
        if ctx == _Frame.OBJECT_KEY:
            terms = ":,}\n"
        else:
            # binary_processors.ex:528-533 consume_until_delimiter stops
            # at , } ] and newline in EVERY value context — `}` ends a
            # bare array/set element too (it closes a coerced brace set)
            terms = ",}]\n"
        out: list[str] = []
        ended_at = ""
        while self.i < self.n:
            ch = self.s[self.i]
            if ch in terms:
                ended_at = ch
                break
            if ch in _QUOTES:
                # `abcdef"` — orphan right quote terminates the token
                self.i += 1
                self._rec("layer3", "removed orphan quote after unquoted value")
                break
            out.append(ch)
            self.i += 1
        else:
            self._rec("layer2", "closed unquoted value at EOF", replacement='"')
        token = "".join(out).strip()
        if not token:
            return SKIP
        if ctx == _Frame.OBJECT_KEY and ended_at in ("\n", "") and token not in _LITERALS:
            # an unquoted "key" that ran to end-of-line/EOF with no colon
            # is trailing wrapper prose inside a truncated object — drop
            # the whole line rather than fabricating a pair
            nxt, _ = self._next_nonws(self.i)
            if nxt != ":":
                self._rec("layer1", "skipped wrapper prose line inside object")
                return SKIP
        self._rec(
            "layer3",
            "quoted unquoted key" if ctx == _Frame.OBJECT_KEY else "quoted unquoted string value",
        )
        if token in _LITERALS:
            return _LITERALS[token]
        return token

    def _parse_html_value(self) -> str:
        """`{"page": <html>…</html>}` — consume an HTML blob as a string.

        Tag-depth tracking incl. void elements / comments
        (reference layer3/html_handlers.ex:15-284).
        """
        void = {
            "area", "base", "br", "col", "embed", "hr", "img", "input",
            "link", "meta", "param", "source", "track", "wbr",
            "!doctype",
        }
        out: list[str] = []
        depth = 0
        started = False
        while self.i < self.n:
            ch = self.s[self.i]
            if ch == "<":
                if self.s.startswith("<!--", self.i):
                    end = self.s.find("-->", self.i)
                    end = (end + 3) if end != -1 else self.n
                    out.append(self.s[self.i : end])
                    self.i = end
                    continue
                close = self.s.find(">", self.i)
                if close == -1:
                    out.append(self.s[self.i :])
                    self.i = self.n
                    break
                tag = self.s[self.i + 1 : close].strip()
                name = tag.split()[0].lower().rstrip("/") if tag else ""
                out.append(self.s[self.i : close + 1])
                self.i = close + 1
                if tag.startswith("!"):
                    # DOCTYPE / comments are prologue — the blob isn't
                    # closed until a real element tree closes
                    continue
                if tag.endswith("/") or name in void:
                    pass
                elif tag.startswith("/"):
                    depth -= 1
                else:
                    depth += 1
                started = True
                if started and depth <= 0:
                    break
                continue
            if depth <= 0 and started and ch in ",}]":
                break
            out.append(ch)
            self.i += 1
        self._rec("layer3", "quoted unquoted HTML value")
        return "".join(out).strip()

    def _try_literal(self) -> Any:
        # first-char dispatch: the full 11-entry scan was 40% of kernel
        # time in the corpus profile (garbage prose calls this per
        # alpha char); same results, <=3 candidates per hit
        cands = _LITERALS_BY_FIRST.get(self.s[self.i] if self.i < self.n else "")
        if not cands:
            return SKIP
        for word, val in cands:
            if self.s.startswith(word, self.i):
                j = self.i + len(word)
                if j >= self.n or not _IDENT.match(self.s[j]):
                    if word not in ("true", "false", "null"):
                        self._rec("layer3", f"normalized literal {word}")
                    self.i = j
                    return val
        return SKIP

    # -------------------------------------------------------------- number
    def parse_number(self) -> Any:
        """Number with the reference's malformed-number algebra
        (binary_processors.ex:239-455). See kernel tests for the table."""
        start = self.i
        saw_e = False
        while self.i < self.n:
            ch = self.s[self.i]
            if ch.isdigit() or ch == "_" or ch == "." or ch == "/":
                saw_e = False
                self.i += 1
                continue
            if ch == "-":
                self.i += 1
                continue
            if ch == "+" and saw_e:
                self.i += 1
                saw_e = False
                continue
            if ch in "eE":
                saw_e = True
                self.i += 1
                continue
            if ch == ",":
                # thousands separator: `,` + exactly 3 digits not followed
                # by a 4th, and the token so far must itself look like the
                # head of a grouped integer (binary_processors.ex:274-290).
                # Never inside an array, where a comma always separates
                # elements: `[.5, 583,908]` has three, not `583908`
                grp = self.s[self.i + 1 : self.i + 4]
                nxt = self.s[self.i + 4 : self.i + 5]
                head = self.s[start : self.i]
                if (
                    not (self.ctx and self.ctx[-1] == _Frame.ARRAY)
                    and len(grp) == 3
                    and grp.isdigit()
                    and not nxt.isdigit()
                    and re.fullmatch(r"-?\d{1,3}(?:,\d{3})*", head)
                ):
                    self.i += 4
                    continue
                break
            break
        token = self.s[start : self.i]
        # text-number hybrid: absorb trailing identifier chars when inside
        # a structure (`1notanumber` -> "1notanumber"); at top level the
        # number ends so `123true` splits (multiple_json_detector.ex:429).
        nxt_ch = self.s[self.i] if self.i < self.n else ""
        # _IDENT's wide range includes U+00A0..U+FFFF — unicode SPACES
        # in it are token terminators, never hybrid-absorbed
        if self.ctx and nxt_ch and nxt_ch not in _WS and _IDENT.match(nxt_ch):
            j = self.i
            while j < self.n and self.s[j] not in _WS and _IDENT.match(self.s[j]):
                j += 1
            token += self.s[self.i : j]
            self.i = j
            self._rec("layer3", "converted text-number hybrid to string")
            return token
        return self._classify_number(token, start)

    def _classify_number(self, token: str, start: int) -> Any:
        token = token.strip()
        if not token or token in ("-", ".", "-."):
            if token:
                self._rec("layer2", "dropped dangling number sign")
            return SKIP
        if _RE_INT.match(token):
            return int(token)
        if _RE_FLOAT.match(token):
            return float(token)
        if _RE_UNDERSCORE_INT.match(token):
            self._rec("layer3", "removed underscore separators in number")
            return int(token.replace("_", ""))
        if re.match(r"^-?[\d_]+\.[\d_]+$", token) and "_" in token:
            self._rec("layer3", "removed underscore separators in number")
            return float(token.replace("_", ""))
        if _RE_THOUSANDS.match(token):
            self._rec("layer3", "removed thousands separators in number")
            clean = token.replace(",", "")
            return float(clean) if "." in clean else int(clean)
        if _RE_FRACTION.match(token):
            self._rec("layer3", "converted fraction to string")
            return token
        if _RE_RANGE.match(token):
            self._rec("layer3", "converted range to string")
            return token
        if _RE_MULTIDOT.match(token):
            self._rec("layer3", "converted multi-dot version to string")
            return token
        m = _RE_TRAIL_EXP.match(token)
        if m:
            self._rec("layer3", "trimmed trailing exponent")
            base = m.group(1)
            return float(base) if "." in base else int(base)
        if token.endswith(".") and _RE_INT.match(token[:-1]):
            self._rec("layer3", "completed trailing decimal")
            return float(token)
        if token.startswith(".") and _RE_FLOAT.match("0" + token):
            self._rec("layer3", "added leading zero to decimal")
            return float(token)
        if token.startswith("-.") and _RE_FLOAT.match("-0" + token[1:]):
            self._rec("layer3", "added leading zero to decimal")
            return float("-0" + token[1:])
        self._rec("layer3", "converted malformed number to string")
        return token


# ----------------------------------------------------------------- helpers

def _same_quote_class(q1: str, q2: str) -> bool:
    classes = [{"'", "‘", "’"}, {"“", "”"}]
    for cl in classes:
        if q1 in cl:
            return q2 in cl
    return q1 == q2


def _is_empty(v: Any) -> bool:
    return v == "" or v == [] or v == {}


def _same_structure(a: Any, b: Any) -> bool:
    """Structure equality for the replace-previous rule
    (multiple_json_detector.ex:256-274): same keys for objects, same
    length + element-wise same structure for arrays."""
    if isinstance(a, dict) and isinstance(b, dict):
        return sorted(a.keys()) == sorted(b.keys())
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same_structure(x, y) for x, y in zip(a, b))
    return False


def _filter_trailing_primitives(values: list, log: list) -> list:
    """Drop primitives after the last structure when wrapper text was
    present (multiple_json_detector.ex:90-107)."""
    last = -1
    for idx, v in enumerate(values):
        if isinstance(v, (dict, list)):
            last = idx
    if last >= 0 and last < len(values) - 1:
        log.append({"layer": "layer1", "action": "dropped trailing wrapper primitives", "position": -1, "original": None, "replacement": None})
        return values[: last + 1]
    return values


def _to_json_text(v: Any) -> str:
    if v is True:
        return "true"
    if v is False:
        return "false"
    if v is None:
        return "null"
    return str(v)
