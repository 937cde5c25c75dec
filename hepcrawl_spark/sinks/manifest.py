"""Close-of-crawl push manifest (K3/K4 analog).

The reference posts ``{job_id, results_uri, log_file, errors}`` to an
HTTP API / Celery broker when the spider closes
(/root/reference/hepcrawl/pipelines.py:159-192, ``_prepare_payload``
+ ``close_spider``).  The HTTP/Celery transports are out-of-sandbox
config concerns; the payload contract is not: ``write_crawl_manifest``
emits the identical payload as a JSON file next to the checkpoint —
the file a push daemon (or Airflow sensor) would ship to INSPIRE.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from ..frontier.checkpoint import RoundStore

# driver-side safety cap on the error list (the reference ships every
# error; at crawl scale the manifest stays a summary, the full error
# table lives in the per-round parquet)
MAX_MANIFEST_ERRORS = 1000


def write_crawl_manifest(store: RoundStore, job_id: str = "",
                         totals: Optional[dict] = None) -> str:
    """Write ``manifest.json`` at the checkpoint root; returns path.

    Payload parity (pipelines.py:159-170): ``job_id`` ≙ SCRAPY_JOB,
    ``results_uri`` ≙ SCRAPY_FEED_URI (the committed records tables),
    ``log_file`` ≙ SCRAPY_LOG_FILE (the lineage tables), ``errors`` ≙
    the spider-state error pairs, here (message, url).
    """
    last = store.last_committed_round()
    errors_df = store.all_errors()
    errors = []
    if errors_df is not None:
        # ordered before the cap: part-file order varies between
        # identical crawls, so the listed errors would too
        errors = [
            [r.error, r.url]
            for r in errors_df.orderBy("url", "error")
            .limit(MAX_MANIFEST_ERRORS).collect()
        ]
    payload = {
        "job_id": job_id,
        "results_uri": [
            store.records_path(i) for i in range(0, (last or 0) + 1)
            if os.path.exists(store.records_path(i))
        ],
        "log_file": os.path.join(store.root, "rounds"),
        "errors": errors,
    }
    if totals:
        payload["totals"] = totals
    path = os.path.join(store.root, "manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic: a partial manifest is never visible
    return path
