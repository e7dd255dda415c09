"""PySpark-native engine with uber/uForwarder's data-processing semantics.

Importing this package registers every operator into
``uforwarder_spark.registry.QUERIES`` / ``ORACLES``.

Driver-window ordering is no longer governed by import order:
``__spark_entry__._KEY_PRIORITY`` reorders queries()/oracle_sql() so the
driver's 50-key correctness window holds (a) keys that never had a
driver row and (b) keys whose implementation changed since their last
driver check. Import order below only determines registration
completeness, not window membership.
"""

from . import registry  # noqa: F401
from .plans import relational  # noqa: F401
from .operators import similarity  # noqa: F401
from .operators import jaccard  # noqa: F401
from .operators import controller  # noqa: F401
from .operators import scaling  # noqa: F401
from .operators import pipeline  # noqa: F401
from .operators import training  # noqa: F401
from .operators import dedup  # noqa: F401
from .functions import multimodal, text  # noqa: F401
from .operators import liveness  # noqa: F401
from .operators import ratelimit  # noqa: F401
from .operators import timeseries  # noqa: F401
from .sources import bucketing, readers  # noqa: F401
from .streaming import pipelines  # noqa: F401

__all__ = ["registry"]
