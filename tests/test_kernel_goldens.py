"""Golden end-to-end kernel tests, ported from the reference ExUnit suites.

Sources (behavioral spec only — inputs/expected pairs):
  /root/reference/test/missing_patterns/pattern1_multiple_json_test.exs
  /root/reference/test/missing_patterns/pattern2_object_merging_test.exs
  /root/reference/test/missing_patterns/pattern3_ellipsis_test.exs
  /root/reference/test/missing_patterns/pattern4_comment_keywords_test.exs
  /root/reference/test/missing_patterns/number_edge_cases_test.exs
  /root/reference/test/missing_patterns/recent_python_cases_test.exs
  /root/reference/test/unit/layer*_test.exs (structure/syntax classes)
"""

import pytest

from json_remedy_spark.kernel import repair


def rep(s):
    r = repair(s)
    assert r.ok, f"repair failed: {r.error} for {s!r}"
    return r.value


# --------------------------------------------------------------- fast path
FAST = [
    ('{"a": 1}', {"a": 1}),
    ("[1, 2, 3]", [1, 2, 3]),
    ('"hello"', "hello"),
    ("true", True),
    ("null", None),
    ("42", 42),
    ("{}", {}),
    ("[]", []),
    ('{"name": "José", "city": "São Paulo"}', {"name": "José", "city": "São Paulo"}),
]


@pytest.mark.parametrize("inp,exp", FAST)
def test_fast_path(inp, exp):
    r = repair(inp)
    assert r.ok and r.value == exp and r.fast_path


# ------------------------------------------------- layer 2: structure
STRUCTURE = [
    ('{"name": "Alice"', {"name": "Alice"}),
    ('{"a": {"b": {"c": 1', {"a": {"b": {"c": 1}}}),
    ("[1, 2, 3", [1, 2, 3]),
    ('{"a":1}}}', {"a": 1}),
    ('{{"a":1}}', {"a": 1}),
    ('{"name":"Alice"]', {"name": "Alice"}),
    ('{"data":[1,2,3}', {"data": [1, 2, 3]}),
    ('{"array":[{"key": "value"], "key2": "value2"}',
     {"array": [{"key": "value"}], "key2": "value2"}),
    ("[{]", []),
    ('{"a": "text with } brace"}', {"a": "text with } brace"}),
    ('{"a": "text with ] bracket"}', {"a": "text with ] bracket"}),
]


@pytest.mark.parametrize("inp,exp", STRUCTURE)
def test_structure(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- layer 3: syntax
SYNTAX = [
    ("{'name':'Alice'}", {"name": "Alice"}),
    ("{'a': 'it''s'}", {"a": "its"}),
    ('{“k”: “v”}', {"k": "v"}),
    ('{name: "Alice", age: 30}', {"name": "Alice", "age": 30}),
    ('{"name": Weiss Savage}', {"name": "Weiss Savage"}),
    ('{"a": True, "b": False, "c": None}', {"a": True, "b": False, "c": None}),
    ('{"a": TRUE, "b": FALSE, "c": NULL}', {"a": True, "b": False, "c": None}),
    ('{"x": Null}', {"x": None}),
    ("[1,2,3,]", [1, 2, 3]),
    ('{"a": 1,}', {"a": 1}),
    ('{"a":1 "b":2}', {"a": 1, "b": 2}),
    ('{"name" "Alice"}', {"name": "Alice"}),
    ('{"key": "value" "key2": "value2"}', {"key": "value", "key2": "value2"}),
    ('{"missing" "colon"}', {"missing": "colon"}),
    ('{key:value}', {"key": "value"}),
    ('{"a": }', {"a": ""}),
    ('{"key": , "key2": "value2"}', {"key": "", "key2": "value2"}),
]


@pytest.mark.parametrize("inp,exp", SYNTAX)
def test_syntax(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- numbers (number_edge_cases_test.exs)
NUMBERS = [
    ('{"value": 82_461_110}', {"value": 82461110}),
    ('{"key": 1/3}', {"key": "1/3"}),
    ('{"ratio": 12345/67890}', {"ratio": "12345/67890"}),
    ("[1, 2, 1/3, 4]", [1, 2, "1/3", 4]),
    ('{"here": "now", "key": 1/3, "foo": "bar"}', {"here": "now", "key": "1/3", "foo": "bar"}),
    ('{"value": -5/10}', {"value": "-5/10"}),
    ('{"range": 10-20}', {"range": "10-20"}),
    ('{"years": 1990-2020}', {"years": "1990-2020"}),
    ('{"temp": -20}', {"temp": -20}),
    ("[10-20, 30-40]", ["10-20", "30-40"]),
    ('{"version": 1.1.1}', {"version": "1.1.1"}),
    ('{"version": 2.3.4.5}', {"version": "2.3.4.5"}),
    ('{"value": 3.14159}', {"value": 3.14159}),
    ('{"key": .25}', {"key": 0.25}),
    ('{"probability": .999}', {"probability": 0.999}),
    ("[.5, .75, 1.0]", [0.5, 0.75, 1.0]),
    ('{"value": -.5}', {"value": -0.5}),
    ('{"key": 1notanumber}', {"key": "1notanumber"}),
    ("[1, 2notanumber]", [1, "2notanumber"]),
    ('{"count": 42}', {"count": 42}),
    ('{"value": 1e10notvalid}', {"value": "1e10notvalid"}),
    ('{"key": 1e}', {"key": 1}),
    ('{"key": 1.}', {"key": 1.0}),
    ('{"key": 1e-}', {"key": 1}),
    ("[- ]", []),
    (' - { "test_key": ["test_value", "test_value2"] }',
     {"test_key": ["test_value", "test_value2"]}),
    ('{"population": 1,234,567}', {"population": 1234567}),
    ('{"amount": 1,234.56}', {"amount": 1234.56}),
    ('{"key": 1e10}', {"key": 1.0e10}),
    # long tail (number_edge_cases_test.exs:29-34, 280-344, 346-404)
    ('{"value": 1_234.5_6}', {"value": 1234.56}),
    ('{"key": 2.5e+5}', {"key": 2.5e5}),
    ('{"key": 3.14e-2}', {"key": 3.14e-2}),
    ('{"key": 5e}', {"key": 5}),
    ('{"fraction": 1/3, "range": 10-20, "decimal": .5, "version": 1.0.0}',
     {"fraction": "1/3", "range": "10-20", "decimal": 0.5, "version": "1.0.0"}),
    ("[1, .5, 1/2, 10-20, 1.1.1, 42]", [1, 0.5, "1/2", "10-20", "1.1.1", 42]),
    ('{"outer": {"inner": 1/3, "value": .75}}', {"outer": {"inner": "1/3", "value": 0.75}}),
    ('{"pi": 3.14159}', {"pi": 3.14159}),
    ('{"temp": -273.15}', {"temp": -273.15}),
    ('{"value": 0}', {"value": 0}),
    ('{"bignum": 9007199254740991}', {"bignum": 9007199254740991}),
    ('{"value": 123€}', {"value": "123€"}),
    ('{"price": $100}', {"price": "$100"}),
    ('{"neg": -1,234}', {"neg": -1234}),
    # inside an array a comma separates elements, never thousands
    ('{"a": [.5, 583,908]}', {"a": [0.5, 583, 908]}),
]


@pytest.mark.parametrize("inp,exp", NUMBERS)
def test_numbers(inp, exp):
    assert rep(inp) == exp


def test_many_number_edge_cases_document():
    # number_edge_cases_test.exs:407-429 — 100 mixed-format pairs in one
    # doc; each format class must land on its table-row behavior
    pairs = []
    for i in range(1, 101):
        if i % 4 == 0:
            pairs.append(f'"key{i}": {i}/{i + 1}')
        elif i % 4 == 1:
            pairs.append(f'"key{i}": .{i}')
        elif i % 4 == 2:
            pairs.append(f'"key{i}": {i}-{i + 10}')
        else:
            pairs.append(f'"key{i}": {i}.{i}.{i}')
    result = rep("{" + ", ".join(pairs) + "}")
    assert isinstance(result, dict) and len(result) == 100
    assert result["key1"] == 0.1 and result["key4"] == "4/5"
    assert result["key2"] == "2-12" and result["key3"] == "3.3.3"


# ------------------------------------------------- ellipsis (pattern3)
ELLIPSIS = [
    ("[1, 2, 3, ...]", [1, 2, 3]),
    ("[1, 2, ..., 99, 100]", [1, 2, 99, 100]),
    ("[..., 98, 99, 100]", [98, 99, 100]),
    ("[1, ..., 50, ..., 100]", [1, 50, 100]),
    ('[1, "...", 3]', [1, "...", 3]),
    ("[1,  ...  , 3]", [1, 3]),
    ("[[1, 2, ...], [4, 5, ...]]", [[1, 2], [4, 5]]),
    ('["a", "b", true, false, 100, ...]', ["a", "b", True, False, 100]),
    ("[...]", []),
    ('{"logs": ["Entry 1", "Entry 2", "Entry 3", ...], "truncated": true}',
     {"logs": ["Entry 1", "Entry 2", "Entry 3"], "truncated": True}),
]


@pytest.mark.parametrize("inp,exp", ELLIPSIS)
def test_ellipsis(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- keywords (pattern4)
KEYWORDS = [
    ('{"value_1": true, COMMENT "value_2": "data"}', {"value_1": True, "value_2": "data"}),
    ('{"value_1": true, SHOULD_NOT_EXIST "value_2": "data"}', {"value_1": True, "value_2": "data"}),
    ('{"a": 1, COMMENT "b": 2, DEBUG "c": 3}', {"a": 1, "b": 2, "c": 3}),
    ("[1, 2, PLACEHOLDER 3, 4]", [1, 2, 3, 4]),
    ('{"valid": "true", INVALID "another": "value"}', {"valid": "true", "another": "value"}),
    ('{"key": "value", SEPARATOR "key2": "value2"}', {"key": "value", "key2": "value2"}),
    ('{"outer": {"inner": "value", MARKER "data": "test"}}',
     {"outer": {"inner": "value", "data": "test"}}),
    ('{HEADER "key": "value", "key2": "value2"}', {"key": "value", "key2": "value2"}),
    ("[1, 2, 3 FOOTER]", [1, 2, 3]),
    ('{"status": "ok", DEBUG_INFO "data": [1, 2, 3], TRACE_END "timestamp": 1234}',
     {"status": "ok", "data": [1, 2, 3], "timestamp": 1234}),
]


@pytest.mark.parametrize("inp,exp", KEYWORDS)
def test_keywords(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- multiple values (pattern1)
MULTI = [
    ("[]{}", []),
    ('[]{"key":"value"}', {"key": "value"}),
    ('{"key":"value"}[1,2,3]', [{"key": "value"}, [1, 2, 3]]),
    ('[1,2,3]{"key":"value"}', [[1, 2, 3], {"key": "value"}]),
    ('{"a":1}{"b":2}{"c":3}', [{"a": 1}, {"b": 2}, {"c": 3}]),
    ("[1,2][3,4][5,6]", [[1, 2], [3, 4], [5, 6]]),
    ('"string"123true{"key":"value"}', ["string", 123, True, {"key": "value"}]),
    ('{"a":1}[2,3]"four"5', [{"a": 1}, [2, 3], "four", 5]),
    ('  {"a":1}  \n  [2,3]  \n  "text"  ', [{"a": 1}, [2, 3], "text"]),
    ('{"outer":{"inner":"value"}}[1,[2,[3]]]',
     [{"outer": {"inner": "value"}}, [1, [2, [3]]]]),
    ('{}{"key":"value"}[]', [{}, {"key": "value"}, []]),
    ('{"key":"value"}[1,2,3,True]', [{"key": "value"}, [1, 2, 3, True]]),
    ('lorem ```json {"key":"value"} ``` ipsum ```json [1,2,3,True] ``` 42',
     [{"key": "value"}, [1, 2, 3, True]]),
    ('[{"key":"value"}][{"key":"value_after"}]', [{"key": "value_after"}]),
]


@pytest.mark.parametrize("inp,exp", MULTI)
def test_multiple_values(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- object merging (pattern2)
MERGE = [
    ('{"key": "value"}, "key2": "value2"}', {"key": "value", "key2": "value2"}),
    ('{"key1": "value1"}, "key2": "value2", "key3": "value3"}',
     {"key1": "value1", "key2": "value2", "key3": "value3"}),
    ('{"key1": "value1"}, "key2": }', {"key1": "value1", "key2": ""}),
    ('{"key": "value"}, []', {"key": "value"}),
    ('{"key": "value"}, {}', {"key": "value"}),
    ('{"outer": {"inner": "value"}}, "extra": "field"}',
     {"outer": {"inner": "value"}, "extra": "field"}),
    ('{"items": [1, 2, 3]}, "count": 3}', {"items": [1, 2, 3], "count": 3}),
    ('  {"key1": "value1"}  ,  \n  "key2": "value2"  }  ',
     {"key1": "value1", "key2": "value2"}),
    ('{"level1": {"level2": {"level3": "value"}}}, "sibling": "data"}',
     {"level1": {"level2": {"level3": "value"}}, "sibling": "data"}),
    ('{"a": 1}, "b": 2}, "c": 3}', {"a": 1, "b": 2, "c": 3}),
    ('{"key": ""}, "key2": "value"}', {"key": "", "key2": "value"}),
    ('{"status": "success", "data": {"id": 123}}, "timestamp": "2024-10-24"}',
     {"status": "success", "data": {"id": 123}, "timestamp": "2024-10-24"}),
]


@pytest.mark.parametrize("inp,exp", MERGE)
def test_object_merging(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- strings (recent cases)
STRINGS = [
    ('{"key": "v"alue"}', {"key": 'v"alue"'}),
    ('{"key": "v"alue", "key2": "value2"}', {"key": 'v"alue', "key2": "value2"}),
    ('[{"key": "v"alu,e", "key2": "value2"}]', [{"key": 'v"alu,e', "key2": "value2"}]),
    ('{"key": "valu\\\'e"}', {"key": "valu'e"}),
    ("{'key': \"{\\\"key\\\": 1, \\\"key2\\\": 1}\"}", {"key": '{"key": 1, "key2": 1}'}),
    ('{ "words": abcdef", "numbers": 12345", "words2": ghijkl" }',
     {"words": "abcdef", "numbers": 12345, "words2": "ghijkl"}),
    ('{"number": 1,"reason": "According...""ans": "YES"}',
     {"number": 1, "reason": "According...", "ans": "YES"}),
    ('{"key": "value, value2"```', {"key": "value, value2"}),
    ('{"key": "value}```', {"key": "value"}),
    ('["value1" value2", "value3"]', ["value1", "value2", "value3"]),
    ('["a" "b" "c" 1', ["a", "b", "c", 1]),
    ('{"key": ["value" "value1" "value2"]}', {"key": ["value", "value1", "value2"]}),
    ("{'key1', 'key2'}", ["key1", "key2"]),
    ('[{"key": "value", "key', [{"key": "value"}, ["key"]]),
]


@pytest.mark.parametrize("inp,exp", STRINGS)
def test_strings(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- fences in strings
FENCES = [
    ('{"key": "``"}', {"key": "``"}),
    ('{"key": "```json"}', {"key": "```json"}),
    ('{"response": "```json{}"}', {"response": "```json{}"}),
    ('{"key": "```json {"key": [{"key1": 1},{"key2": 2}]}```"}',
     {"key": {"key": [{"key1": 1}, {"key2": 2}]}}),
]


@pytest.mark.parametrize("inp,exp", FENCES)
def test_fences_in_strings(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- layer 1 cleaning
LAYER1 = [
    ('```json\n{"name": "Alice", "age": 30}\n```', {"name": "Alice", "age": 30}),
    ('```\n{"a": 1}\n```', {"a": 1}),
    ('{"example": "Use ```json for highlighting"}',
     {"example": "Use ```json for highlighting"}),
    ('// comment\n{"name": "Alice"}', {"name": "Alice"}),
    ('{"name": "Alice"} /* trailing */', {"name": "Alice"}),
    ('{"message": "This // is not a comment", "note": "Neither /* is this */"}',
     {"message": "This // is not a comment", "note": "Neither /* is this */"}),
    ('{"name": "Alice" /* outer /* inner */ still outer */}', {"name": "Alice"}),
    ('<pre>{"a": 1}</pre>', {"a": 1}),
    ('<code>{"a": 1}</code>', {"a": 1}),
    ("Here's your JSON data: {\"name\": \"Alice\", \"age\": 30}\nHope this helps!",
     {"name": "Alice", "age": 30}),
    ('[\r\n  {"id": 1}\r\n]\r\n1 Volume(s) created\r\n', [{"id": 1}]),
    ('{"a": 1}..........', {"a": 1}),
    ('{"key": "value"}...............', {"key": "value"}),
]


@pytest.mark.parametrize("inp,exp", LAYER1)
def test_layer1(inp, exp):
    assert rep(inp) == exp


# ------------------------------------------------- plain text
def test_plain_text():
    assert rep("string") == ""
    assert rep(" \n\t ") == ""
    assert repair("x" * 200000).value == ""


# ------------------------------------------------- strict mode
STRICT_REJECTS = [
    '{"key":"value"}["value"]',
    '[{"key": "first", "key": "second"}]',
    '{"" : "value"}',
    '{"missing" "colon"}',
    '{"key": , "key2": "value2"}',
    '{"dangling"}',
    '{"key": """"}',
    '{"key": "" "value"}',
]


@pytest.mark.parametrize("inp", STRICT_REJECTS)
def test_strict_rejects(inp):
    r = repair(inp, strict_mode=True)
    assert not r.ok


def test_strict_accepts():
    r = repair('{"a": 1, "b": [true, null]}', strict_mode=True)
    assert r.ok and r.value == {"a": 1, "b": [True, None]}


# ------------------------------------------------- logging parity
def test_logging_empty_for_valid():
    r = repair("{}")
    assert r.repairs == []


def test_logging_nonempty_for_repairs():
    r = repair('{"key": "value}')
    assert r.ok and r.value == {"key": "value"} and len(r.repairs) > 0


def test_canonical_serialization():
    r = repair('{name: "Alice", age: 30}')
    assert r.repaired == '{"name":"Alice","age":30}'


def test_comma_instead_of_colon_numeric_tail():
    # number_edge_cases_test.exs:264-268
    assert rep('{"key", 105,12,}') == {"key": "105,12"}


# ------------------------------------------- round-2 ADVICE regressions
# Fast-path guard: smart-quoted prose around valid JSON must behave
# exactly like ASCII-quoted prose (prepass normalizes smart quotes, so
# the tolerant path parses the quoted fragment as a top-level string).
SMART_QUOTE_WRAP = [
    ('say “x” {"a":1}', ["x", {"a": 1}]),
    ('say "x" {"a":1}', ["x", {"a": 1}]),
    ('‘y’ [1,2]', ["y", [1, 2]]),
    ("'y' [1,2]", ["y", [1, 2]]),
]


@pytest.mark.parametrize("inp,exp", SMART_QUOTE_WRAP)
def test_smart_quote_prefix_blocks_span_fast_path(inp, exp):
    assert rep(inp) == exp


# Plain-text gate: leading-zero numbers are numbers to the reference
# (plain_text_detector.ex `^-?\d+(\.\d+)?([eE][+-]?\d+)?$`) and route
# through number normalization, not the plain-text -> "" drop.
LEADING_ZERO_NUMBERS = [
    ("007", 7),
    ("00.5", 0.5),
    ("-007", -7),
    ("-007e2", -700.0),
]


@pytest.mark.parametrize("inp,exp", LEADING_ZERO_NUMBERS)
def test_leading_zero_numbers_not_plain_text(inp, exp):
    assert rep(inp) == exp
