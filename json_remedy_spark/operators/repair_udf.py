"""The repair kernel as a vectorized pandas UDF.

One Arrow-batched UDF carries the only non-relational work in the
engine (reference layers 1-4, SURVEY.md §3.1); everything before and
after it is JVM-side column algebra.  Returns a struct so one UDF call
yields all repair outputs (single Python round-trip per batch).

Plan shape (see plans/explain.py):
  Scan -> Project[codegen: predicates, langid, quality]
       -> ArrowEvalPython[repair] -> Project[codegen: scrub, keep] -> ...
"""


from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from pyspark.sql.types import DoubleType

# one row of the reference's repair_action struct
# (lib/json_remedy/layer_behaviour.ex:9-15)
REPAIR_ACTION_SCHEMA = StructType(
    [
        StructField("layer", StringType()),
        StructField("action", StringType()),
        StructField("position", IntegerType()),
        StructField("original", StringType()),
        StructField("replacement", StringType()),
    ]
)

REPAIR_SCHEMA = StructType(
    [
        StructField("repaired", StringType()),
        StructField("ok", BooleanType()),
        StructField("fast_path", BooleanType()),
        StructField("n_repairs", IntegerType()),
        StructField("layer_hits", MapType(StringType(), IntegerType())),
        StructField("actions", ArrayType(StringType())),
        # full lineage records incl. original/replacement — the widest
        # payload (fence extraction carries the replaced span); project
        # it only where per-fix diffs are consumed
        StructField("repairs", ArrayType(REPAIR_ACTION_SCHEMA)),
        StructField("error", StringType()),
        # perplexity rides in the same struct: one Arrow hop for all
        # Python-side work instead of two UDF stages (two extra python
        # worker pools oversubscribe the host at high core counts)
        StructField("ppl", DoubleType()),
    ]
)


def make_repair_udf(with_repairs: bool = False):
    """Build the pandas UDF lazily (imports pandas on executors only).

    ``with_repairs`` adds the full repair_action structs to the output
    struct.  OPT-IN because it is by far the widest Arrow payload:
    layer-1 extraction records carry the replaced span — for fence /
    prose extraction that is the whole input text, which would nearly
    double the Arrow transfer of every malformed doc in the hot
    pipeline that doesn't consume per-fix diffs.  The kernel runs with
    its default toggles."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StructType

    from ..functions.perplexity import score_texts
    from ..kernel import repair as _repair

    schema = (
        REPAIR_SCHEMA
        if with_repairs
        else StructType([f for f in REPAIR_SCHEMA.fields if f.name != "repairs"])
    )

    @pandas_udf(schema)
    def repair_udf(texts: pd.Series) -> pd.DataFrame:
        n = len(texts)
        out = {
            "repaired": [None] * n,
            "ok": [False] * n,
            "fast_path": [False] * n,
            "n_repairs": [0] * n,
            "layer_hits": [None] * n,
            "actions": [None] * n,
            "error": [None] * n,
        }
        if with_repairs:
            out["repairs"] = [None] * n
        vals = texts.fillna("").tolist()
        ppl = score_texts(vals)
        for i, s in enumerate(vals):
            r = _repair(s)
            out["ok"][i] = r.ok
            out["fast_path"][i] = r.fast_path
            out["repaired"][i] = r.repaired
            out["error"][i] = r.error
            if r.repairs:
                out["n_repairs"][i] = len(r.repairs)
                hits: dict[str, int] = {}
                for a in r.repairs:
                    hits[a["layer"]] = hits.get(a["layer"], 0) + 1
                out["layer_hits"][i] = hits
                out["actions"][i] = [a["action"] for a in r.repairs]
                if with_repairs:
                    out["repairs"][i] = r.repairs
        out["ppl"] = ppl
        # column order must match the declared schema
        return pd.DataFrame(out)[[f.name for f in schema.fields]]

    return repair_udf


def needs_repair_predicate(text: Column) -> Column:
    """Cheap JVM-side applicability gate — the UNION of the reference's
    per-layer ``supports?/1`` heuristics (SURVEY.md §2.2):

    * layer 1 (content_cleaning.ex:191-203): fences / comments
    * layer 3 (syntax_detectors.ex:14-70): single quotes, unquoted
      keys, Python/SQL literal variants (bare-substring semantics, like
      the reference — "The value is True" fires too), trailing commas,
      missing commas (quote/brace/bracket digrams + digit-ws-digit),
      missing colons (folded into the quote-ws-quote digram)
    * layer 2 (structural_repair.ex:513-559): delimiter-count imbalance
      and the eight mismatch digrams — note ``}}``/``{{`` fire on VALID
      nested JSON by design, same as the reference (supports? means
      "this layer will look", not "this doc is broken")

    Used for metrics and to short-circuit clean rows in custom flows.
    The main pipeline routes all rows through the UDF because even
    clean rows need canonical serialization."""

    def _count(ch_re: str) -> Column:
        return F.length(text) - F.length(F.regexp_replace(text, ch_re, ""))

    mismatch_digrams = ["}]", "]{", "[}", "{]", "{{", "[[", "}}", "]]"]
    digrams = F.lit(False)
    for d in mismatch_digrams + ['" "', "} {", "] ["]:
        digrams = digrams | text.contains(d)
    return (
        text.contains("```")
        | text.contains("//")
        | text.contains("/*")
        | text.contains("'")
        | text.rlike(r",\s*[}\]]")
        | text.rlike(r"[{,]\s*[A-Za-z_][A-Za-z0-9_]*\s*:")
        | text.rlike("True|False|TRUE|FALSE|None|NULL|Null")
        | text.rlike(r"\d\s+\d")  # digit-ws-digit number sequence
        | text.rlike(r'\d\s+"')  # number value then string (": 1 " generalized)
        | digrams
        | (_count(r"\{") != _count(r"\}"))
        | (_count(r"\[") != _count(r"\]"))
    )
