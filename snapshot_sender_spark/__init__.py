"""snapshot_sender_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of dwp/snapshot-sender (reference surveyed in SURVEY.md).

Not a port: the reference is a Kotlin/Spring-Batch file-delivery pipeline; this
package re-expresses its semantics (decrypt → parse → transform → deliver plus the
generalized relational/streaming operator surface) as declarative Spark DataFrame /
SQL plans, designed for 100 TB scale.

Layout:
  session.py    SparkSession factory with scale-appropriate defaults
  tables.py     testdata table loaders
  functions/    scalar function families (crypto codecs, text, vectors)
  sources/      sources: binary-file + metadata listing, fixture generator
  operators/    composed operators Spark lacks natively (as-of join, dedup, ANN)
  plans/        end-to-end pipelines (delivery, control-plane status)
  streaming/    structured-streaming windows / stateful ops
  queries/      the declared query surface verified against the DuckDB oracle
"""

__version__ = "0.1.0"

# Worker-side fixed-cost guard (see pyboundary.py): importing the package —
# which every Spark Python worker does while unpickling the first task that
# references one of our UDFs/kernels — caps the per-task
# importlib.invalidate_caches() zip re-parse at one stat() per archive.
from .pyboundary import install_zipimport_guard as _install_guard

_install_guard()
