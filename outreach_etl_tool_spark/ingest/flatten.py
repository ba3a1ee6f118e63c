"""JSON flattening with the reference's exact naming scheme
(etl_tools.py:177-193; SURVEY.md §1.1, §2.8 F8).

Naming contract (golden-tested against /root/reference/schemas/*.json):

- dict keys join the path with ``_``: ``{"a": {"b": 1}}`` → ``a_b``;
- list positions become path segments: ``{"emails": ["x","y"]}`` →
  ``emails_0``, ``emails_1``; nested lists compose —
  ``contactHistogram`` (12×2 matrix) → ``contactHistogram_0_0`` …
  ``contactHistogram_11_1``;
- only leaves emit columns; the trailing separator is stripped.

One implementation, :func:`flatten_record`: plain Python, one record
at a time, mirroring the reference's recursion. It is the data plane
(``rest.fetch_window`` flattens every fetched record with it, then
``rest._records_to_pdf`` aligns the records to the declared columns,
absent names → null) and the golden reference the tests pin. There
is no Catalyst form: flattening plus alignment is a few percent of a
sync's wall time, so moving it into the JVM cannot pay for a second
copy of the contract.
"""

from __future__ import annotations

from typing import Any


def flatten_record(record: dict[str, Any], sep: str = "_") -> dict[str, Any]:
    """Flatten one (possibly nested) JSON object to a flat dict."""
    out: dict[str, Any] = {}

    def walk(node: Any, path: str) -> None:
        if isinstance(node, dict):
            for key, val in node.items():
                walk(val, f"{path}{key}{sep}")
        elif isinstance(node, list):
            for i, val in enumerate(node):
                walk(val, f"{path}{i}{sep}")
        else:
            out[path[: -len(sep)]] = node

    walk(record, "")
    return out

