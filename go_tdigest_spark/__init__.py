"""go_tdigest_spark — a PySpark-native mergeable t-digest analytics library.

Built from scratch against the behavior of caio/go-tdigest (the reference
at /root/reference): same query semantics (quantile / cdf / trimmed_mean),
same error bounds, same wire format — realized as a vectorized NumPy
kernel driven through Spark's DataFrame API with explicit two-phase
(partial -> salted shuffle -> final) aggregation.
"""

from .core import TDigest, DEFAULT_COMPRESSION
from . import serde
from . import _worker

_worker.install()

__version__ = "0.1.0"

__all__ = ["TDigest", "DEFAULT_COMPRESSION", "serde", "__version__"]
