"""REST API source with qualifier batching (SURVEY.md 2.1 S5).

The reference fetches zones/workload/staffing documents with
driver-side ``requests.post`` per qualifier batch
(code/ukg_open_census.py:86-108, code/ukg_wrkload_dtl.py:93-134); the
API itself takes a query-by-example body (select/from/locations/
dateRange, code/ukg_wrkload_dtl.py:111-125).

Transport is pluggable (tests inject fakes).  Driver-side fetch is
correct for control-plane-sized qualifier lists; ``fetch_distributed``
fans the HTTP calls out per partition for large qualifier sets.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.batching import generate_batches

# transport(url, json_body) -> (status, response_text)
Transport = Callable[[str, str], tuple[int, str]]


def build_qbe_body(
    select_keys: Sequence[str],
    qualifiers: Sequence[str],
    date_start: str,
    date_end: str,
) -> str:
    """Query-by-example request body (code/ukg_wrkload_dtl.py:111-125
    shape); backfill widens the dateRange (R5, :94-107)."""
    return json.dumps(
        {
            "select": [{"key": k} for k in select_keys],
            "from": {
                "view": "ORG",
                "locations": {"qualifiers": list(qualifiers)},
                "dateRange": {"startDate": date_start, "endDate": date_end},
            },
        }
    )


def fetch_documents(
    url: str,
    transport: Transport,
    select_keys: Sequence[str],
    qualifiers: Sequence[str],
    date_start: str,
    date_end: str,
    batch_size: int = 1,
) -> tuple[list[str], "BatchReport"]:
    """Driver-side batched fetch (S5) with the reference's full
    reliability semantics: a failed batch re-tries element-by-element
    (R2 shrink-to-1) and persistent failures land in the returned
    report (R3 skip-and-LOG) — never silently dropped, so callers can
    alert/retry the missing qualifiers instead of persisting partial
    data that looks complete."""
    from ..operators.batching import run_batched_with_retry

    docs: list[str] = []

    def action(batch: list[str]) -> None:
        body = build_qbe_body(select_keys, batch, date_start, date_end)
        status, text = transport(url, body)
        if not 200 <= status < 300:
            raise RuntimeError(f"POST {url} -> {status}: {text[:200]}")
        docs.append(text)

    report = run_batched_with_retry(list(qualifiers), action, batch_size)
    return docs, report


def fetch_distributed(
    spark: SparkSession,
    url: str,
    transport: Transport,
    select_keys: Sequence[str],
    qualifiers_df: DataFrame,
    qualifier_col: str,
    date_start: str,
    date_end: str,
    batch_size: int = 50,
) -> DataFrame:
    """Scale path: qualifiers stay a DataFrame; each partition issues
    its own batched POSTs via mapInPandas and yields raw documents.
    The transport must survive cloudpickle: a closure, or a function
    defined in a module importable on the workers."""
    import pandas as pd

    keys = list(select_keys)

    def run(batches):
        for pdf in batches:
            quals = list(pdf[qualifier_col])
            docs, report = fetch_documents(
                url, transport, keys, quals, date_start, date_end, batch_size
            )
            yield pd.DataFrame(
                {
                    "raw": docs + [None] * len(report.failed),
                    "failed_qualifier": [None] * len(docs)
                    + [q for q, _ in report.failed],
                }
            )

    # failed qualifiers surface as rows with raw IS NULL so the caller
    # can split successes from a failure ledger with one filter
    return qualifiers_df.select(qualifier_col).mapInPandas(
        run, schema="raw STRING, failed_qualifier STRING"
    )
