"""Multi-format sources and sinks (SURVEY §2.1, S1-S8)."""

from data_integration_and_harmonization_spark.sources.readers import (
    read_any,
    read_sources,
)

__all__ = ["read_any", "read_sources"]
