"""Driver-contract sanity (no Spark session needed)."""

import ast

import __spark_entry__ as entry


def test_oracle_keys_subset_of_queries():
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert o <= q, o - q
    # substantial SQL-checkable coverage
    assert len(o) >= 16
    assert len(q) >= 23


def test_perplexity_model_tables_in_sync(tmp_path):
    """The checked-in parquet model tables (data/ppl_*.parquet) must
    equal a fresh export of the in-memory model — the oracle is only
    exact while they agree."""
    import pyarrow.parquet as pq

    from json_remedy_spark.functions.perplexity import export_model_tables

    tri = tmp_path / "tri.parquet"
    bi = tmp_path / "bi.parquet"
    export_model_tables(str(tri), str(bi))
    for fresh, checked_in in [(tri, entry._PPL_TRI_TABLE), (bi, entry._PPL_BI_TABLE)]:
        a = pq.read_table(str(fresh)).to_pydict()
        b = pq.read_table(checked_in).to_pydict()
        assert a == b


def test_ann_recall_floors(spark):
    """The approximate ANN paths must clear their recall floors vs the
    exact top-k at sf0.01 (VERDICT r2 #5: LSH >= 0.6, IVF >= 0.8)."""
    rows = entry.q_ann_recall(spark, "/root/testdata/sf0.01").collect()
    recall = {r["method"]: r["recall_at_5"] for r in rows}
    assert recall["lsh"] >= 0.6, recall
    assert recall["ivf"] >= 0.8, recall


def test_oracle_sql_is_wellformed_duckdb():
    import duckdb

    # export-oracle SQLs read_parquet() /tmp paths the queries write;
    # on a fresh host none has run yet — materialize empty placeholders
    entry.ensure_export_placeholders()
    con = duckdb.connect()
    for t in entry.TABLES:
        p = f"/root/testdata/sf0.001/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for name, sql in entry.oracle_sql().items():
        # parse + plan without executing (EXPLAIN) — catches syntax and
        # unknown-function regressions cheaply
        con.sql(f"EXPLAIN {sql}")


def test_every_export_glob_has_a_placeholder_schema():
    """Each tempdir parquet glob an oracle reads must have an
    EXPORT_SCHEMAS entry; otherwise EXPLAIN-only consumers work only
    after the query that writes the export has run on the host."""
    import re
    import tempfile

    tmp = tempfile.gettempdir()
    globs = {
        path
        for sql in entry.oracle_sql().values()
        for path in re.findall(r"read_parquet\('([^']+)/\*\.parquet'\)", sql)
        if path.startswith(tmp)
    }
    assert globs, "no export-oracle globs found"
    assert globs - set(entry.EXPORT_SCHEMAS) == set()


# Library defs that no query, job, tool or benchmark reaches, each kept
# for a stated reason.  A name earns its place here or gets a caller.
_ORPHAN_ALLOWLIST = {
    "needs_repair_predicate": "the reference's per-layer supports? union; "
    "the kernel contract tests compare the layer detectors against it",
    "byte_vocab_decode": "the decoder the byte-level BPE round-trip tests "
    "compare against",
    "assert_scalable": "the one-Arrow-hop, fused-codegen invariant check "
    "the plan tests run",
    "from_file": "the reference's from_file/2 (lib/json_remedy.ex:182), "
    "pinned by test_from_file_wholetext",
    "salted_repartition": "the north star's skew-aware salted-repartition "
    "operator; no job writes through it yet",
    "export_model_tables": "the writer of the perplexity model tables the "
    "oracle reads; the sync test builds fresh tables with it",
    "export_ft_model": "the writer of the fastText-format model "
    "load_ft_model reads; the drop-in tests build artifacts with it",
    "build_warc_bytes": "the WARC record writer paired with the WARC "
    "reader; the WARC source tests build archives with it",
}


def _references(tree):
    """(name, enclosing top-level def or None) for every ``ast.Name``
    and ``ast.Attribute`` read and every imported name in ``tree``."""
    out = []
    for stmt in tree.body:
        owner = (
            stmt.name
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            else None
        )
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                out.append((node.id, owner))
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                out.append((node.attr, owner))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                out.extend((a.name.rsplit(".", 1)[-1], owner) for a in node.names)
    return out


def test_library_defs_have_a_non_test_caller():
    """Every top-level def and class in ``json_remedy_spark/`` must be
    referenced somewhere outside ``tests/`` (a query, a job, a tool, the
    benchmark, or another library def), so code that only tests reach
    cannot pile up unnoticed.  A reference is a name read, an attribute
    read or an import of the name, found by parsing the source; a
    mention in a comment, a docstring or the def's own body does not
    count."""
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=root, capture_output=True, text=True, check=True
    ).stdout.split()
    defs = set()  # (file, name)
    refs = []  # (file, name, enclosing top-level def)
    for f in files:
        path = os.path.join(root, f)
        if not os.path.exists(path) or "tests" in f.split("/")[:-1]:
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        if f.startswith("json_remedy_spark/"):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs.add((f, node.name))
        refs.extend((f, name, owner) for name, owner in _references(tree))
    referenced = {name for f, name, owner in refs if not (owner == name and (f, name) in defs)}
    orphans = {name for _, name in defs} - referenced
    assert orphans - set(_ORPHAN_ALLOWLIST) == set(), sorted(orphans - set(_ORPHAN_ALLOWLIST))
    # an entry whose def is gone or has gained a caller leaves the list
    assert set(_ORPHAN_ALLOWLIST) <= orphans, sorted(set(_ORPHAN_ALLOWLIST) - orphans)
