"""minhash_spark — a PySpark-native near-duplicate detection & clustering
engine with the sketch semantics of federicamontes/minhash, re-expressed
Spark-first: DataFrame/SQL plans, Arrow-batched pandas UDFs for the numpy
hashing kernels, LSH band shuffle joins, and connected components (driver
numpy for small pair graphs, large-star/small-star rounds for large ones). See SURVEY.md for the reference→Spark mapping.
"""

from .config import MinHashConfig, DedupConfig, INFTY, SIG_INFTY_LONG

__version__ = "0.1.0"

__all__ = ["MinHashConfig", "DedupConfig", "INFTY", "SIG_INFTY_LONG", "__version__"]
