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
values either way; the DuckDB oracle hashes did not change when the
query-panel tables moved to this path).

Contract: ``rows`` must not contain None cells (the call sites here
never do); pass an explicit DDL schema so Arrow casts deterministically.

The reverse direction has one rule too: every threshold-routed driver
fast path decides its route with ``bounded_collect``.

Driver FILES reach the executors one way: ``shipped`` (a trained
model artifact, loaded once per worker process).
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


# per-worker-process cache of shipped artifacts, keyed by loader and
# basenames (see ``shipped``)
_SHIPPED: dict = {}


def _load_shipped(key, names, load):
    if key not in _SHIPPED:
        from pyspark import SparkFiles

        _SHIPPED[key] = load(*(SparkFiles.get(n) for n in names))
    return _SHIPPED[key]


def shipped(sc, paths, load):
    """Ship driver files to every executor (``sc.addFile``) and return
    a zero-arg getter for use inside a UDF or mapInPandas body: on a
    worker it returns ``load(*local_paths)``, computed once per Python
    worker process, not once per task or Arrow batch.

    The getter is a ``functools.partial`` over the module-level
    ``_load_shipped`` on purpose: cloudpickle ships a nested function
    by value together with a COPY of the module globals it reads, so a
    cache reached from a closure starts empty in every task.

    ``sc.addFile`` keys shipped files by basename, so distinct models
    need distinct basenames.  The cache key is the loader's qualified
    name plus the basenames — define each ``load`` (a lambda is fine)
    at its own site."""
    import functools
    import os

    names = tuple(os.path.basename(p) for p in paths)
    for p in paths:
        sc.addFile(p)
    key = (load.__module__, load.__qualname__, names)
    return functools.partial(_load_shipped, key, names, load)
