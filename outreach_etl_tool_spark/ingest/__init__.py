"""Ingestion layer: per-record JSON-API flattening (``flatten_record``,
the one flatten on the data plane), reference-schema loading, and the
paginated REST sync re-expressed as a (distributable) batch driver.

Reference parity surface (SURVEY.md §2.1 S1-S3, §2.8 F8, §3.1-3.3),
minus the reference's four replication bugs (SURVEY.md §2.12).
"""

from .flatten import flatten_record
from .schema_loader import (
    coerce_types,
    empty_frame,
    load_ref_schema,
    ref_schema_to_struct,
)

__all__ = [
    "flatten_record",
    "load_ref_schema",
    "ref_schema_to_struct",
    "empty_frame",
    "coerce_types",
]
