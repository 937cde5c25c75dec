"""Fixture-backed pages corpus.

Builds the ``pages`` input table from the reference's checked-in test
response files (/root/reference/tests/responses/**) — the same bytes the
reference harness feeds its spiders (tests/responses/__init__.py:36-43)
— so extraction parity is asserted byte-for-byte end-to-end through
Spark.

A requested format whose directory is missing raises
``FileNotFoundError``: an empty corpus would let every count-based
test fail far from its cause.  The engine tests crawl the generated
arXiv corpus of ``tests/arxiv_corpus.py`` instead, built with the
same ``fixture_row`` scheme, so they need no reference checkout.
"""

from __future__ import annotations

import datetime as dt
import os
from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession

from ..schema import PAGES_WITH_FORMAT_SCHEMA

REFERENCE_RESPONSES = "/root/reference/tests/responses"

# format tag → (subdir, filename predicate); mirrors FIXTURES.md §7
_FORMAT_DIRS = {
    "arxiv-oai": ("arxiv", lambda f: f.endswith(".xml")),
    "jats": ("world_scientific", lambda f: f.endswith(".xml")),
    "oai-base-dc": ("base", lambda f: f.endswith(".xml")),
    "marc21-slim": ("dnb", lambda f: f.endswith(".xml")),
    "marc21": ("hindawi", lambda f: f.endswith(".xml")),
    "pex-dc": ("pos", lambda f: f.endswith(".xml")),
    "json-aps": ("aps", lambda f: f.endswith(".json")),
    "nlm": ("iop/xml", lambda f: f.endswith(".xml")),
    "edp-jats": ("edp", lambda f: f == "jats.xml"),
    "edp-rich": ("edp", lambda f: f == "rich.xml"),
    "elsevier-consyn": ("elsevier", lambda f: f.endswith(".xml")),
    "json-brown": ("brown", lambda f: f.endswith(".json")),
    "json-phil": ("phil", lambda f: f.endswith(".json")),
    "html-alpha": ("alpha", lambda f: f.endswith(".htm")),
    "html-t2k": ("t2k", lambda f: f == "test_1.html"),
    "html-magic": ("magic", lambda f: f == "test_1.html"),
    "html-phenix": ("phenix", lambda f: f.endswith(".html")),
    "html-mit": ("mit", lambda f: f == "test_list.html"),
    "html-infn": ("infn", lambda f: f.startswith("test_1")),
}

_EPOCH = dt.datetime(2016, 1, 14, tzinfo=dt.timezone.utc)


def fixture_url(fmt: str, filename: str) -> str:
    """Deterministic synthetic URL for a fixture document."""
    host = {
        "arxiv-oai": "export.arxiv.org",
        "jats": "www.worldscientific.com",
        "oai-base-dc": "www.base-search.net",
        "marc21-slim": "services.dnb.de",
        "marc21": "www.hindawi.com",
        "pex-dc": "pos.sissa.it",
        "json-aps": "harvest.aps.org",
        "nlm": "stacks.iop.org",
        "edp-jats": "www.edpsciences.org",
        "edp-rich": "rich.edpsciences.org",
        "elsevier-consyn": "www.sciencedirect.com",
        "json-brown": "repository.library.brown.edu",
        "json-phil": "philpapers.org",
        "html-alpha": "alpha.web.cern.ch",
        "html-t2k": "www.t2k.org",
        "html-magic": "magic.mpp.mpg.de",
        "html-phenix": "www.phenix.bnl.gov",
        "html-mit": "dspace.mit.edu",
        "html-infn": "www.infn.it",
    }.get(fmt, "fixtures.local")
    return f"http://{host}/{filename}"


def fixture_row(fmt: str, i: int, filename: str, payload: bytes) -> Tuple:
    """One pages row for the ``i``-th file of a format's directory:
    its synthetic URL, fetched ``i`` minutes after the fixture epoch."""
    return (
        fixture_url(fmt, filename),
        _EPOCH + dt.timedelta(minutes=i),
        payload,
        None,
        "en",
        fmt,
    )


def fixture_rows(formats=None) -> List[Tuple]:
    """(url, warc_ts, html, text, lang, format) tuples from fixture files.

    Raises ``FileNotFoundError`` naming the directory of a requested
    format (every format when ``formats`` is None) that is missing.
    """
    rows = []
    wanted = set(formats) if formats else None
    for fmt, (subdir, pred) in sorted(_FORMAT_DIRS.items()):
        if wanted and fmt not in wanted:
            continue
        folder = os.path.join(REFERENCE_RESPONSES, subdir)
        if not os.path.isdir(folder):
            raise FileNotFoundError(
                f"fixture directory of format {fmt!r} is missing: {folder}")
        for i, fname in enumerate(sorted(os.listdir(folder))):
            if not pred(fname):
                continue
            with open(os.path.join(folder, fname), "rb") as fh:
                rows.append(fixture_row(fmt, i, fname, fh.read()))
    return rows


def fixture_pages(spark: SparkSession, formats=None) -> DataFrame:
    """The fixture corpus as a pages DataFrame (with format column)."""
    return spark.createDataFrame(
        fixture_rows(formats), schema=PAGES_WITH_FORMAT_SCHEMA
    )
