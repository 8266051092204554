"""json_remedy_spark — a PySpark-native web-text quality-filter engine.

Re-expresses the capabilities of the reference library
``nshkrdotcom/json_remedy`` (five-layer malformed-JSON repair, see
``/root/reference/lib/json_remedy.ex``) as an idiomatic Spark pipeline:

* ``kernel``     — pure-Python repair kernel (no Spark dependency): layer-1
  content cleaning, a stack-based tolerant parser for layers 2-3, strict
  validation for layer 4.  Unit-testable against the reference goldens.
* ``functions``  — column-expression building blocks (heuristic quality
  rules, PII/toxicity scrub, langid, perplexity, dedup, similarity).
* ``operators``  — the DataFrame pipeline: vectorized pandas-UDF repair,
  keep/drop fusion, salted repartition, checkpoint manifest, metrics.
* ``sources``    — deterministic synthetic web-page corpus + readers.

The paper's stateless Stream needs no code of its own: ``quality_filter``
keeps no cross-row state, so it runs unchanged over a
``spark.readStream`` source.
"""

from ._zipimport import install as _install_zipimport_guard

__version__ = "0.1.0"
_install_zipimport_guard()
