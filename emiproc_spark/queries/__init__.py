"""The driver-contract queries, one module per domain.

Importing this package registers every query (``registry.query``);
``driver_queries`` orders them into ``QUERIES``/``ORACLES``.
"""

from emiproc_spark.queries import (  # noqa: F401
    inventory,
    io,
    profiles,
    quality,
    similarity,
    streaming,
    text,
)
