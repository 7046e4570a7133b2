"""hobbes_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference platform (r-d-kmd/hobbes).

The reference executes a concise transformation DSL over an in-memory
columnar ``DataMatrix`` (Deedle frame) in a single F# process
(see /root/reference, e.g. ``tests/transformations/*.hb``).  This package
re-expresses the same semantics Spark-first:

* ``Pipeline`` — the one table abstraction (wraps ``pyspark.sql.DataFrame``),
  threading the reference's row-key / row-order semantics as *metadata*
  instead of materialized columns so Catalyst keeps optimizing.
* ``expressions`` — the scalar expression language (``if/else``, ``regex``,
  ``int``, ``format date``, ``contains``, ``missing`` …) as Column builders.
* ``operators`` — windowed series (``moving``/``expanding``), dataset
  combinators (``merge``/``join``), as-of and range joins, skew-salted
  joins, ML ops (``buckets``, ``k-means``,
  ``linear regression/extrapolation``, ``each``).
* ``sources`` / ``sinks`` — ingestion (JSON dot-path flattening, type
  sniffing, inline tables) and the uniform ``DataResult`` wire format.
* ``functions`` — large-scale training-data pipeline extensions
  (dedup + cluster assignment, similarity search, text analysis and
  fingerprinting, deterministic sampling, multimodal plumbing).
* ``hb`` — a text front-end for the reference's ``.hb`` language.

Everything here is built only on the public PySpark API.
"""

from hobbes_spark.pipeline import Pipeline
from hobbes_spark.session import get_spark

__all__ = ["Pipeline", "get_spark"]

__version__ = "0.1.0"
