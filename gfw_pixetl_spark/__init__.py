"""gfw_pixetl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of wri/gfw_pixetl (reference read-only at
/root/reference), re-expressed Spark-first.

The engine has two front doors sharing one operator core (SURVEY.md §7.1):

* the ``layers`` door — a declarative JSON layer spec (:mod:`.models`)
  planned into a DataFrame DAG over grid tiles and windows
  (:mod:`.plans.raster_pipe` / :mod:`.plans.vector_pipe`), ending in a
  tile sink plus manifest aggregation;
* the ``sql/df`` door — the same operator inventory (filters, semi/anti
  joins, broadcast range joins, hash aggregations, ordered-paint window
  functions, sorts, limits, unions, CASE expressions, stats, histograms)
  exposed as plain DataFrame/SQL over Parquet tables.

Everything relational is stock Spark so Catalyst optimizes it; custom code
concentrates in leaf kernels (windowed raster read, tile write, geometry
predicates, the safe ``calc`` compiler).
"""

__version__ = "0.1.0"

from . import _zipcache

# Every engine UDF imports this package when it is unpickled in a Python
# worker: keep the worker's zip-import directories across its tasks.
_zipcache.install()
