"""guava_probably_spark — a from-scratch PySpark-native distributed sketch /
approximate-aggregation library with the query capabilities of
bdupras/guava-probably, extended to HLL, Count-Min, KLL and t-digest
(BASELINE.json north rule).

Layout:
  sketches/   pure-numpy mergeable sketch kernels (Spark-agnostic)
  operators/  Spark build/merge pipeline (mapInArrow partials + tree merge,
              grouped builds, semi-join pruning)
  functions/  pandas UDFs + SQL registration (might_contain, estimates)
  sources/    loaders (parquet sandbox / Iceberg production) + synthesis
  plans/      physical-plan shape assertions (no raw-row shuffle)
  streaming/  windowed streaming sketches (v2)
"""

__version__ = "0.1.0"

from . import _worker

# in a Spark Python worker, stop pyspark's per-task importlib.invalidate_caches()
# from re-reading every zip on sys.path (see _worker.py)
_worker.install_on_worker()

from .sketches import (  # noqa: F401
    BloomSketch,
    CmsSketch,
    CuckooSketch,
    HllSketch,
    KllSketch,
    SketchSpec,
    TDigestSketch,
)
