"""Web-graph operators over Common-Crawl-style pages: outlink
extraction from the raw ``html`` binary column (input_hint shape),
per-host link stats, and a fixed-iteration PageRank for crawl/domain
prioritization (Page et al. 1999 — the classic damped iteration).

All extraction is pure JVM column expressions (decode + regexp), so it
codegens into the scan stage with zero Python; the graph ops shuffle
only (src, dst) pairs and per-node ranks, never page bodies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# capture group 1 = the href target; double-quoted attributes only
# (the canonical serialization; single-quote support is one more
# alternation both engines share if a corpus needs it)
HREF_PATTERN = r'href="([^"]*)"'
# scheme://HOST with host ended by / : ? #
HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)"


def url_host(url: Column) -> Column:
    """Lowercased host of a URL ('' when there is no scheme://host)."""
    return F.lower(F.regexp_extract(url, HOST_PATTERN, 1))


def extract_outlinks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, href) — one row per anchor href in the decoded HTML.

    Map-only: decode the binary, ``regexp_extract_all`` the href
    attributes, explode.  At 100 TB this runs inside the parquet scan
    stage and the page body never reaches a shuffle — only the
    extracted link strings do.

    Decode is the lossy ``cast(binary AS string)`` (invalid UTF-8 ->
    U+FFFD), NOT ``decode()``: under ANSI mode decode raises
    MALFORMED_CHARACTER_CODING, and one mojibake page must never kill
    a crawl-scale job."""
    hrefs = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(HREF_PATTERN), 1
    )
    return pages.select(F.col(url_col).alias("src_url"), F.explode(hrefs).alias("href"))


def outlink_host_stats(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per target host: ``(dst_host, n_links, n_src_pages)`` — the
    inlink summary used for domain ranking and crawl frontier scoring.

    One shuffle keyed on (dst_host, src_url) for the distinct-source
    count; partial map-side aggregation bounds it, and hot hosts
    (the facebook.com problem) are exactly what AQE skew-split handles
    — the key space is host × source, never a single-host single key."""
    links = extract_outlinks(pages, url_col, html_col)
    return (
        links.where(url_host(F.col("href")) != "")
        .groupBy(url_host(F.col("href")).alias("dst_host"))
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("src_url").alias("n_src_pages"),
        )
    )


# href + its anchor text; two capture groups extracted in two passes
# over the SAME pattern and zipped positionally (regexp_extract_all
# returns one group per call in both engines)
ANCHOR_PATTERN = r'href="([^"]*)"[^>]*>([^<]*)<'


def extract_anchors(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, href, anchor) — every link with its (trimmed) anchor
    text, the unit of link-context training data and anchor-text
    indexing.  Map-only JVM: two regexp_extract_all passes zipped with
    ``arrays_zip`` (positional alignment is guaranteed — same pattern,
    same subject), then one explode.  Page bodies never shuffle."""
    h = F.col(html_col).cast("string")
    z = F.arrays_zip(
        F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 1).alias("href"),
        F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 2).alias("anchor"),
    )
    return pages.select(
        F.col(url_col).alias("src_url"), F.explode(z).alias("la")
    ).select(
        "src_url",
        F.col("la.href").alias("href"),
        F.trim(F.col("la.anchor")).alias("anchor"),
    )


# everything after the authority (path + query + fragment); robots
# Disallow prefixes match against this per RFC 9309 §2.2.2
_URL_PATH_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*(/.*)?$"
# path only — query/fragment excluded (url_features)
_URL_PATH_ONLY_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(/[^?#]*)?"
_URL_PORT_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*:([0-9]+)"


def url_path(url: Column) -> Column:
    """Path component of a URL ('/' when the authority ends the URL)."""
    p = F.regexp_extract(url, _URL_PATH_PATTERN, 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_features(
    pages: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """URL-level quality/spam signals — the cheapest filter in the
    stack (FineWeb/DCLM gate on these before touching page bytes):
    (doc_id, host, path_depth, path_len, n_query_params, digit_frac,
    host_digit_frac, n_subdomains, has_port, tilde_user).  All JVM
    regexp/length expressions over the url column — pure projection,
    scans only the url bytes of the table."""
    host = url_host(F.col(url_col))
    # path WITHOUT query/fragment (url_path keeps them; digit_frac and
    # path_len must not be polluted by '?a=1' payloads)
    p = F.regexp_extract(F.col(url_col), _URL_PATH_ONLY_PATTERN, 1)
    path = F.when(p == "", F.lit("/")).otherwise(p)
    q = F.regexp_extract(F.col(url_col), r"\?([^#]*)", 1)
    has_port = F.regexp_extract(F.col(url_col), _URL_PORT_PATTERN, 1) != ""
    return pages.select(
        F.col(id_col).alias("doc_id"),
        host.alias("host"),
        # '/a/b/' and '/a/b' both have depth 2: count non-empty segments
        F.size(F.filter(F.split(path, "/"), lambda s: s != "")).cast("long").alias(
            "path_depth"
        ),
        F.length(path).cast("long").alias("path_len"),
        F.when(q == "", F.lit(0)).otherwise(
            F.size(F.split(q, "&"))
        ).cast("long").alias("n_query_params"),
        F.round(
            F.length(F.regexp_replace(path, r"[^0-9]", ""))
            / F.greatest(F.length(path), F.lit(1)),
            6,
        ).alias("digit_frac"),
        F.round(
            F.length(F.regexp_replace(host, r"[^0-9]", ""))
            / F.greatest(F.length(host), F.lit(1)),
            6,
        ).alias("host_digit_frac"),
        (F.size(F.split(host, r"\.")) - 1).cast("long").alias("n_subdomains"),
        has_port.alias("has_port"),
        path.startswith("/~").alias("tilde_user"),
    )


def url_features_sql(
    url_col: str = "url", id_col: str = "doc_id", source: str = "documents"
) -> str:
    """DuckDB replay over a ``source`` relation with (id, url) —
    same regexes as the column form."""
    host = f"lower(regexp_extract({url_col}, '{HOST_PATTERN}', 1))"
    path = (
        f"CASE WHEN regexp_extract({url_col}, '{_URL_PATH_ONLY_PATTERN}', 1) = '' THEN '/' "
        f"ELSE regexp_extract({url_col}, '{_URL_PATH_ONLY_PATTERN}', 1) END"
    )
    q = f"regexp_extract({url_col}, '\\?([^#]*)', 1)"
    return f"""
      SELECT {id_col} AS doc_id,
             {host} AS host,
             len(list_filter(string_split({path}, '/'), s -> s != ''))::BIGINT AS path_depth,
             length({path})::BIGINT AS path_len,
             (CASE WHEN {q} = '' THEN 0 ELSE len(string_split({q}, '&')) END)::BIGINT AS n_query_params,
             round(length(regexp_replace({path}, '[^0-9]', '', 'g')) * 1.0
                   / greatest(length({path}), 1), 6)::DOUBLE AS digit_frac,
             round(length(regexp_replace({host}, '[^0-9]', '', 'g')) * 1.0
                   / greatest(length({host}), 1), 6)::DOUBLE AS host_digit_frac,
             (len(string_split({host}, '.')) - 1)::BIGINT AS n_subdomains,
             regexp_extract({url_col}, '{_URL_PORT_PATTERN}', 1) != '' AS has_port,
             starts_with({path}, '/~') AS tilde_user
      FROM {source}
    """


# URL-gate thresholds — the published heuristics' shape (digit-heavy
# hosts/paths = auto-generated spam farms; parameter blowups =
# calendars/session ids; subdomain stuffing; nonstandard ports).
# One definition, shared by the column gate and its SQL mirror.
URL_GATE = {
    "max_path_digit_frac": 0.5,
    "max_host_digit_frac": 0.2,
    "max_query_params": 4,
    "max_path_len": 128,
    "max_path_depth": 8,
    "max_subdomains": 3,
}


def url_quality_gate(
    pages: DataFrame, url_col: str = "url", **overrides
) -> DataFrame:
    """``url_ok`` boolean from URL-ONLY spam/quality heuristics — the
    cheapest gate in the stack, which is why FineWeb/DCLM run it
    first: it reads zero page bytes.  Pure projection over the url
    column (same JVM regexes as ``url_features``); Catalyst prunes
    every other column until the filter, so at 100 TB the gate's scan
    cost is the url bytes alone.  Thresholds come from ``URL_GATE``
    (override per call); nonstandard ports always fail."""
    t = dict(URL_GATE, **overrides)
    host = url_host(F.col(url_col))
    p = F.regexp_extract(F.col(url_col), _URL_PATH_ONLY_PATTERN, 1)
    path = F.when(p == "", F.lit("/")).otherwise(p)
    q = F.regexp_extract(F.col(url_col), r"\?([^#]*)", 1)
    n_params = F.when(q == "", F.lit(0)).otherwise(F.size(F.split(q, "&")))
    digit_frac = F.length(F.regexp_replace(path, r"[^0-9]", "")) / F.greatest(
        F.length(path), F.lit(1)
    )
    host_digit_frac = F.length(F.regexp_replace(host, r"[^0-9]", "")) / F.greatest(
        F.length(host), F.lit(1)
    )
    ok = (
        (F.regexp_extract(F.col(url_col), _URL_PORT_PATTERN, 1) == "")
        & (digit_frac <= t["max_path_digit_frac"])
        & (host_digit_frac <= t["max_host_digit_frac"])
        & (n_params <= t["max_query_params"])
        & (F.length(path) <= t["max_path_len"])
        & (
            F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
            <= t["max_path_depth"]
        )
        & (F.size(F.split(host, r"\.")) - 1 <= t["max_subdomains"])
    )
    return pages.withColumn("url_ok", ok)


def url_quality_gate_expr_sql(url_col: str = "url", **overrides) -> str:
    """DuckDB boolean mirror of ``url_quality_gate`` — same regexes,
    same ``URL_GATE`` thresholds, for chained funnel oracles."""
    t = dict(URL_GATE, **overrides)
    host = f"lower(regexp_extract({url_col}, '{HOST_PATTERN}', 1))"
    path = (
        f"CASE WHEN regexp_extract({url_col}, '{_URL_PATH_ONLY_PATTERN}', 1) = '' THEN '/' "
        f"ELSE regexp_extract({url_col}, '{_URL_PATH_ONLY_PATTERN}', 1) END"
    )
    q = f"regexp_extract({url_col}, '\\?([^#]*)', 1)"
    return f"""(
      regexp_extract({url_col}, '{_URL_PORT_PATTERN}', 1) = ''
      AND length(regexp_replace({path}, '[^0-9]', '', 'g')) * 1.0
          / greatest(length({path}), 1) <= {t["max_path_digit_frac"]}
      AND length(regexp_replace({host}, '[^0-9]', '', 'g')) * 1.0
          / greatest(length({host}), 1) <= {t["max_host_digit_frac"]}
      AND (CASE WHEN {q} = '' THEN 0 ELSE len(string_split({q}, '&')) END) <= {t["max_query_params"]}
      AND length({path}) <= {t["max_path_len"]}
      AND len(list_filter(string_split({path}, '/'), s -> s != '')) <= {t["max_path_depth"]}
      AND len(string_split({host}, '.')) - 1 <= {t["max_subdomains"]}
    )"""


def robots_disallow_rules(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """(host, prefix) Disallow rules that bind the ``*`` user-agent —
    the crawl-politeness gate every Common-Crawl-style pipeline applies
    before spending a byte of downstream compute.

    Group semantics (RFC 9309 §2.2.1): a rule group is a maximal run
    of consecutive ``User-agent:`` lines followed by its directives;
    a Disallow binds ``*`` iff its group's agent run names ``*``.
    Comments (``#`` to end of line) are stripped, directive names are
    case-insensitive, empty ``Disallow:`` (allow-all) emits no rule.
    Deliberately out of scope, documented: ``Allow:`` longest-match
    precedence and ``*``/``$`` wildcards inside paths.

    Scale shape: robots.txt bodies are KB-sized and one-per-host, so
    the per-host window sort is bounded and the output rule table is
    tiny relative to the page corpus — it BROADCASTS into
    ``robots_filter``.  Parsing is pure JVM (split/regexp/window)."""
    from pyspark.sql import Window

    line = F.trim(F.regexp_replace(F.col("raw"), r"#.*", ""))
    lines = (
        robots.select(
            F.col(host_col).alias("host"),
            F.posexplode(F.split(F.col(text_col), r"\n")).alias("line_no", "raw"),
        )
        .withColumn("key", F.lower(F.trim(F.regexp_extract(line, r"^([^:]+):", 1))))
        .withColumn("val", F.trim(F.regexp_extract(line, r"^[^:]+:(.*)$", 1)))
    )
    is_ua = F.col("key") == "user-agent"
    w = Window.partitionBy("host").orderBy("line_no")
    grouped = lines.withColumn(
        "grp",
        F.sum(
            (is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False))).cast("int")
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    star_groups = (
        grouped.where(is_ua & (F.col("val") == "*"))
        .select("host", "grp")
        .distinct()
    )
    return (
        grouped.where((F.col("key") == "disallow") & (F.col("val") != ""))
        .join(star_groups, ["host", "grp"])
        .select("host", F.col("val").alias("prefix"))
        .distinct()
    )


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pages + a ``robots_disallowed`` flag: true iff the page's host
    has a ``*``-agent Disallow prefix matching the URL path (prefix
    match on path+query, RFC 9309 §2.2.2).  Callers drop flagged rows
    map-side before any downstream spend.

    The rule table broadcasts (one host's rules are a few strings;
    even 10^8 hosts fit a few GB).  Pages never duplicate: the prefix
    join's hits collapse to a distinct id set before flagging."""
    host = F.col("_robots_host")
    keyed = pages.withColumn("_robots_host", url_host(F.col(url_col)))
    rules = F.broadcast(rules)
    hits = (
        keyed.select(F.col(id_col).alias("_rid"), host.alias("host"), url_path(F.col(url_col)).alias("_path"))
        .join(rules, "host")
        .where(F.col("_path").startswith(F.col("prefix")))
        .select("_rid")
        .distinct()
        .withColumn("_dis", F.lit(True))
    )
    return (
        keyed.join(hits, keyed[id_col] == hits["_rid"], "left")
        .withColumn("robots_disallowed", F.coalesce(F.col("_dis"), F.lit(False)))
        .drop("_rid", "_dis", "_robots_host")
    )


# page-metadata patterns (canonical attribute order; inline (?i) so
# the identical pattern runs in Java regex and DuckDB/RE2)
NOINDEX_PATTERN = r'(?i)<meta[^>]*name="robots"[^>]*content="[^"]*noindex'
CANONICAL_PATTERN = r'(?i)<link[^>]*rel="canonical"[^>]*href="([^"]*)"'
TITLE_PATTERN = r"(?i)<title>([^<]*)</title>"
HTML_LANG_PATTERN = r'(?i)<html[^>]*\blang="([^"]*)"'


def page_meta(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per page: ``(url, noindex, canonical, title, html_lang)`` from
    the raw html binary — the html-metadata gates a crawl pipeline
    applies before spending anything on a page (robots noindex
    exclusion, rel=canonical for URL dedup, declared language to
    cross-check langid, title for indexing).

    Map-only lossy-decode + regexp column expressions: codegens into
    the scan, zero shuffle, no Python.  Missing fields are '' (the
    regexp_extract no-match value), which keeps the op NULL-free."""
    h = F.col(html_col).cast("string")
    return pages.select(
        F.col(url_col).alias("url"),
        h.rlike(NOINDEX_PATTERN).alias("noindex"),
        F.regexp_extract(h, CANONICAL_PATTERN, 1).alias("canonical"),
        F.regexp_extract(h, TITLE_PATTERN, 1).alias("title"),
        F.regexp_extract(h, HTML_LANG_PATTERN, 1).alias("html_lang"),
    )


# html -> text extraction chain (order matters; each stage's pattern
# is shared verbatim with the DuckDB oracle)
# no backreferences — DuckDB's RE2 has none; spell the alternation out
_SCRIPT_STYLE = r"(?is)(<script[^>]*>.*?</script>|<style[^>]*>.*?</style>)"
_HTML_COMMENT = r"(?s)<!--.*?-->"
_ANY_TAG = r"<[^>]*>"
_ENTITIES = [
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"),
]


def html_to_text(html: Column) -> Column:
    """Visible text of an HTML page: drop script/style/comments, strip
    tags, decode the six ubiquitous entities, collapse whitespace.

    Pure JVM regexp chain (codegen, zero shuffle, no Python) — the
    deliberately simple, deterministic extraction (trafilatura-class
    boilerplate models are a drop-in replacement behind the same
    column).  ``&amp;`` decodes LAST so ``&amp;lt;`` correctly yields
    the literal ``&lt;`` and not ``<``."""
    t = F.regexp_replace(html, _SCRIPT_STYLE, " ")
    t = F.regexp_replace(t, _HTML_COMMENT, " ")
    t = F.regexp_replace(t, _ANY_TAG, " ")
    for ent, rep in _ENTITIES:
        if ent == "&amp;":
            continue
        t = F.replace(t, F.lit(ent), F.lit(rep))
    t = F.replace(t, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def html_to_text_sql(col: str = "html") -> str:
    """DuckDB expression computing exactly ``html_to_text``."""
    t = f"regexp_replace({col}, '{_SCRIPT_STYLE}', ' ', 'g')"
    t = f"regexp_replace({t}, '{_HTML_COMMENT}', ' ', 'g')"
    t = f"regexp_replace({t}, '{_ANY_TAG}', ' ', 'g')"
    for ent, rep in _ENTITIES:
        if ent == "&amp;":
            continue
        r = rep.replace("'", "''")
        t = f"replace({t}, '{ent}', '{r}')"
    t = f"replace({t}, '&amp;', '&')"
    return f"trim(regexp_replace({t}, '\\s+', ' ', 'g'))"


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list -> (node, rank).

    The classic damped formulation: ``rank(v) = (1-d) + d * sum over
    in-edges (rank(u) / out_deg(u))`` from a uniform start of 1.0 —
    deterministic for a fixed ``iters``, which is what makes the
    unrolled-CTE DuckDB oracle possible.  Dangling-node mass is NOT
    redistributed (their rank still receives contributions; they just
    leak — the standard simplification; redistribution is one
    broadcast scalar add per round if a corpus needs it).

    100 TB shape: per round, one shuffle keyed on the node id, sized
    to |edges| — page bodies never enter the loop.  The edge and
    degree tables are persisted once and reused every round, and each
    round ends in ``localCheckpoint`` so the plan does not double per
    iteration (the iterative-loop driver-OOM gotcha)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").cast("double").alias("outd")).persist()
    ranks = nodes.select("node", F.lit(1.0).alias("rank")).localCheckpoint()
    for _ in range(iters):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outd")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    for h in (e, nodes, deg):
        h.unpersist()
    return ranks


# --------------------------------------------------------------------------
# block-level main-content extraction (jusText-lite)
# --------------------------------------------------------------------------
#
# html_to_text keeps EVERY visible string — nav bars, footers, cookie
# banners included.  Real crawl pipelines classify block-level
# segments and keep only content-like ones (jusText, Pomikalek 2011;
# trafilatura).  This is the deterministic context-free core of that
# family: split on block-level tags, score each block by length,
# link density, and stopword presence, keep passing blocks.  The
# whole rule set is mirrored in DuckDB (main_content_sql) so the
# extraction is oracle-checked byte-for-byte.

_BLOCK_SPLIT = (
    r"(?i)</?(?:p|div|li|ul|ol|h[1-6]|td|th|tr|table|section|article|"
    r"aside|nav|header|footer|blockquote|pre|br)\b[^>]*>"
)
_LINK_CONTENT = r"(?is)<a\b[^>]*>(.*?)</a>"
# ASCII whitespace only — Python \s is unicode-wide, Java/RE2 are
# ASCII; an explicit class keeps all three dialects identical
_WS_RUN = r"[ \t\r\n\f]+"
MIN_BLOCK_CHARS = 40
MAX_LINK_DENSITY = 0.3


def _block_clean(seg: str) -> str:
    import re as _re2

    t = _re2.sub(_ANY_TAG, " ", seg)
    for ent, rep in _ENTITIES:
        if ent == "&amp;":
            continue
        t = t.replace(ent, rep)
    t = t.replace("&amp;", "&")
    # strip SPACES only (edges are already collapsed to single spaces)
    # — Python str.strip() is unicode-wide while the oracle's trim()
    # removes spaces only, and the two must agree byte-for-byte
    return _re2.sub(_WS_RUN, " ", t).strip(" ")


def main_content(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    extra_cols: tuple = (),
) -> DataFrame:
    """(doc_id, main_text, n_blocks, n_kept): boilerplate-classified
    page text.  A block survives iff its cleaned text has
    >= MIN_BLOCK_CHARS chars, link density <= MAX_LINK_DENSITY
    (anchor-text chars / text chars), and at least one stopword
    (quality.STOPWORD_PATTERN — the multi-language inventory).

    Zero-shuffle mapInPandas (page bodies never shuffle); regexes are
    dialect-shared with the DuckDB oracle."""
    import re as _re2

    import pandas as pd

    from json_remedy_spark.functions.quality import STOPWORD_PATTERN

    block_re = _re2.compile(_BLOCK_SPLIT)
    link_re = _re2.compile(_LINK_CONTENT)
    stop_re = _re2.compile(STOPWORD_PATTERN)

    extras = list(extra_cols)
    src = pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(html_col).cast("string").alias("h"),
        *extras,
    )
    id_type = src.schema["doc_id"].dataType.simpleString()
    extra_fields = "".join(
        f", {c} {src.schema[c].dataType.simpleString()}" for c in extras
    )

    def extract(html: str):
        t = _re2.sub(_SCRIPT_STYLE, " ", html or "")
        t = _re2.sub(_HTML_COMMENT, " ", t)
        kept, n_blocks = [], 0
        for seg in block_re.split(t):
            text = _block_clean(seg)
            if not text:
                continue
            n_blocks += 1
            link_chars = sum(
                len(_block_clean(m)) for m in link_re.findall(seg)
            )
            density = link_chars / len(text)
            if (
                len(text) >= MIN_BLOCK_CHARS
                and density <= MAX_LINK_DENSITY
                and stop_re.search(text)
            ):
                kept.append(text)
        return "\n".join(kept), n_blocks, len(kept)

    def gen(batches):
        for pdf in batches:
            rows = [extract(h) for h in pdf["h"]]
            out = {"doc_id": pdf["doc_id"]}
            for c in extras:
                out[c] = pdf[c]
            out["main_text"] = [r[0] for r in rows]
            out["n_blocks"] = [r[1] for r in rows]
            out["n_kept"] = [r[2] for r in rows]
            yield pd.DataFrame(out)

    return src.mapInPandas(
        gen,
        schema=(
            f"doc_id {id_type}{extra_fields}, "
            "main_text string, n_blocks long, n_kept long"
        ),
    )


def main_content_sql(col: str = "html") -> dict:
    """DuckDB expressions mirroring ``main_content``: returns a dict
    with 'blocks' (the cleaned block list CTE fragment) for callers to
    assemble — see __spark_entry__._main_content_sql."""
    from json_remedy_spark.functions.quality import STOPWORD_PATTERN

    clean = f"regexp_replace(regexp_replace({col}, '{_SCRIPT_STYLE}', ' ', 'g'), '{_HTML_COMMENT}', ' ', 'g')"

    def clean_chain(var: str) -> str:
        """_block_clean as a SQL expression over lambda variable."""
        c = f"regexp_replace({var}, '{_ANY_TAG}', ' ', 'g')"
        for ent, rep in _ENTITIES:
            if ent == "&amp;":
                continue
            r = rep.replace("'", "''")
            c = f"replace({c}, '{ent}', '{r}')"
        c = f"replace({c}, '&amp;', '&')"
        return f"trim(regexp_replace({c}, '{_WS_RUN}', ' ', 'g'))"

    block_text = clean_chain("b")
    link_chars = (
        f"coalesce(list_sum(list_transform(regexp_extract_all(b, "
        f"'{_LINK_CONTENT}', 1), x -> length({clean_chain('x')}))), 0)"
    )
    return {
        "clean": clean,
        "split_re": _BLOCK_SPLIT,
        "block_text": block_text,
        "link_chars": link_chars,
        "stopword": f"regexp_matches(t, '{STOPWORD_PATTERN}')",
        "min_chars": MIN_BLOCK_CHARS,
        "max_density": MAX_LINK_DENSITY,
    }


# --------------------------------------------------------------------------
# domain blocklist gate (UT1 / adult-spam category lists)
# --------------------------------------------------------------------------


def host_suffixes(url: Column) -> Column:
    """All dot-suffixes of the URL's host: 'a.b.example.com' ->
    ['a.b.example.com', 'b.example.com', 'example.com', 'com'] — a
    blocklist entry bans its exact domain AND every subdomain via a
    plain EQUI-join against this exploded chain (bounded by label
    count, ~5 rows/url; no LIKE scan, no cross join)."""
    parts = F.split(url_host(url), r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(parts, i + 1, n - i), "."),
    )


def blocklist_filter(
    pages: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pages + ``(blocked, block_category)`` from a (host, category)
    domain blocklist (the UT1-style category ban every web pipeline
    applies): a page is blocked iff any dot-suffix of its URL host
    appears in the list; ``block_category`` is the alphabetically
    first matching category (deterministic under multi-match).

    Scale shape: the list broadcasts (UT1 is ~4M rows — a few hundred
    MB); pages explode only their ~5-row suffix chain, and hits
    collapse to a distinct id set before the flag join-back — page
    text never moves."""
    blocklist = F.broadcast(blocklist)
    keyed = pages.select(
        F.col(id_col).alias("_bid"),
        F.explode(host_suffixes(F.col(url_col))).alias("host"),
    )
    hits = (
        keyed.join(blocklist, "host")
        .groupBy("_bid")
        .agg(F.min("category").alias("block_category"))
    )
    return (
        pages.join(hits, pages[id_col] == hits["_bid"], "left")
        .drop("_bid")
        .withColumn("blocked", F.col("block_category").isNotNull())
    )
