"""polyminhash_spark — PySpark-native near-duplicate detection and
clustering engine with the query/data-processing capabilities of the
reference PolyMinHash system (see SURVEY.md), re-expressed Spark-first:
DataFrame/SQL plans, Arrow-vectorized pandas UDF kernels, explicit
partitioning/skew handling, checkpointed resumable stages.
"""

from polyminhash_spark import pyworker
from polyminhash_spark.config import DedupConfig, default_config, reference_config

# every engine UDF closure imports this package, so each Python worker
# gates its per-task zip re-reads from its first engine task on
pyworker.install()

__all__ = ["DedupConfig", "default_config", "reference_config"]
__version__ = "0.1.0"
