"""Driver-local DataFrames through Arrow — the fast path for small
tables built on the driver (centroid tables, index stats rows, merge
exports, query panels).

``spark.createDataFrame(list_of_tuples, ddl)`` parallelizes the rows
into ``defaultParallelism`` pickled partitions; every downstream
evaluation that folds those partitions into one task (a
``coalesce(1)`` write, a broadcast build) then pays one
Python-worker round-trip PER PARTITION.  Measured on local[32]
(round 7): writing an 8-row centroid table costs ~5 s that way, and
the cost is fixed — it does not shrink with the row count.  Routing
the same rows through a pandas DataFrame instead produces an
Arrow-backed LocalRelation: the data lives in the JVM from the
start, no Python worker runs anywhere downstream, and the write is
~0.2 s.  Values are bit-identical (doubles cross as IEEE 8-byte
values either way; verified in tools/r07 microbenches and by the
unchanged DuckDB oracle hashes).

Contract: ``rows`` must not contain None cells (the call sites here
never do); pass an explicit DDL schema so Arrow casts deterministically.

The reverse direction has one rule too: every threshold-routed driver
fast path decides its route with ``bounded_collect``.
"""

from __future__ import annotations


def _ddl_names(schema: str) -> list[str]:
    """Top-level field names of a DDL schema string (depth-aware split
    so ``array<struct<a: int, b: int>>`` commas don't count)."""
    parts, depth, buf = [], 0, ""
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(buf)
            buf = ""
        else:
            buf += ch
    parts.append(buf)
    names = []
    for p in parts:
        p = p.strip()
        name = p.split(":")[0].split()[0] if p else p
        names.append(name.strip("`"))
    return names


def local_frame(spark, rows, schema: str):
    """An Arrow-backed local DataFrame from driver rows + DDL schema.

    Drop-in for ``spark.createDataFrame(rows, schema)`` on small
    driver-local tables; falls back to the plain path for empty input
    (pandas cannot carry a schema for zero rows)."""
    import pandas as pd

    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)
    names = schema.names if hasattr(schema, "names") else _ddl_names(schema)
    pdf = pd.DataFrame.from_records(rows, columns=names)
    return spark.createDataFrame(pdf, schema)


def bounded_collect(df, cap: int):
    """``df`` as a pandas frame when it holds at most ``cap`` rows,
    else None — the one route probe of every driver fast path.

    One limited collect of at most ``cap + 1`` rows: the frame itself
    is the size probe, so there is no separate ``count()`` (a persisted
    frame comes out of the probe fully cached, ready for the
    distributed route).  ``cap <= 0`` means "never collect": it returns
    None without running a job, so an empty input cannot sneak onto the
    driver route."""
    if cap <= 0:
        return None
    pdf = df.limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None
