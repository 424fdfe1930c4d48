"""pfutil_spark — a PySpark-native distributed sketch / approximate
aggregation library.

Redis-wire-compatible HyperLogLog at the core (register semantics, wire
format, and estimators bit-identical to Redis 4/5 / the ocadaruma/pfutil
reference), extended with count-min sketch, Bloom filter, KLL quantiles and
t-digest — all as mergeable aggregation states computed by vectorized
numpy kernels inside Arrow-batched pandas UDFs, orchestrated with the
public DataFrame API (two-phase partial/merge aggregation, salted skew
handling, checkpointable sketch tables).
"""

import sys

from pfutil_spark.kernel import hll, murmur  # noqa: F401

if "pyspark.worker" in sys.modules:  # inside a Spark Python worker only
    from pfutil_spark import _zipcache

    _zipcache.install()

__version__ = "0.1.0"
