"""The arXiv OAI-PMH corpus of the engine tests.

The crawl-round, store-contract, host-priority, recrawl, sink, WARC
and Spark-extraction tests crawl the 12 OAI-PMH documents generated
here, on every host, with no reference bytes: 11 documents of one
``record`` each and one of 11, so 11 x 1 + 1 x 11 = 22 records over
12 pages, all on host ``export.arxiv.org`` under ``.xml`` paths.
Extraction parity on the reference's own arXiv bytes is checked by
the ``requires_reference`` tests of ``test_arxiv_extractor.py`` and
``test_spark_extract.py``.

Every record has its own title and arXiv id, a ``created`` date, a
DOI, an abstract, categories and a license URL; author names include
multi-byte UTF-8, so byte-length checks see non-ASCII text.
"""

from __future__ import annotations

from xml.sax.saxutils import escape

from hepcrawl_spark.schema import PAGES_WITH_FORMAT_SCHEMA
from hepcrawl_spark.sources import fixtures

OAI_NS = "http://www.openarchives.org/OAI/2.0/"

_SURNAMES = ["Müller", "Novák", "Żółkowski", "Andersson", "Okafor",
             "Ishikawa", "Pérez", "Brennan", "Øvergaard", "Chen", "Dubois"]
_FORENAMES = ["Jürgen", "Jiří", "Łucja", "Åsa", "Chidi", "Haruki",
              "José", "Aoife", "Søren", "Wei", "Hélène"]
_TOPICS = ["dark matter halos", "lattice QCD", "neutrino mixing",
           "gravitational waves", "jet substructure", "string vacua",
           "cosmic rays", "Higgs couplings", "axion searches",
           "black hole entropy", "flavour anomalies"]
_CATEGORIES = ["hep-th", "hep-ph", "hep-ex", "gr-qc", "astro-ph.CO"]
_LICENSES = ["http://creativecommons.org/licenses/by/4.0/",
             "http://arxiv.org/licenses/nonexclusive-distrib/1.0/"]


def _record(k: int) -> str:
    """The ``k``-th OAI-PMH record in arXiv metadata format."""
    arxiv_id = f"1601.{k + 100:05d}"
    authors = "".join(
        f"<author><keyname>{_SURNAMES[(k + j) % 11]}</keyname>"
        f"<forenames>{_FORENAMES[(k + j) % 11]}</forenames>"
        f"<affiliation>University {j + 1}</affiliation></author>"
        for j in range(1 + k % 3)
    )
    topic = _TOPICS[k % 11]
    categories = " ".join(_CATEGORIES[(k + j) % 5] for j in range(1 + k % 2))
    return (
        "<record><header>"
        f"<identifier>oai:arXiv.org:{arxiv_id}</identifier>"
        f"<datestamp>2016-01-{k % 28 + 1:02d}</datestamp>"
        "</header><metadata>"
        '<arXiv xmlns="http://arxiv.org/OAI/arXiv/">'
        f"<id>{arxiv_id}</id>"
        f"<created>2016-01-{k % 28 + 1:02d}</created>"
        f"<authors>{authors}</authors>"
        f"<title>Record {k}: {escape(topic)} revisited</title>"
        f"<categories>{categories}</categories>"
        f"<comments>{8 + k} pages, {k % 4} figures</comments>"
        f"<doi>10.5555/corpus.{k:04d}</doi>"
        f"<license>{_LICENSES[k % 2]}</license>"
        f"<abstract>We revisit {escape(topic)} in record {k} and "
        f"report {k + 1} new results.</abstract>"
        "</arXiv></metadata></record>"
    )


def _document(records) -> bytes:
    body = "".join(_record(k) for k in records)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<OAI-PMH xmlns="{OAI_NS}">'
        "<responseDate>2016-01-14T00:00:00Z</responseDate>"
        f"<ListRecords>{body}</ListRecords></OAI-PMH>\n"
    ).encode("utf-8")


# (name, bytes) in name order: records 0-10 one to a document, 11-21
# in one ListRecords page
DOCUMENTS = tuple(sorted(
    [(f"record_{k:02d}.xml", _document([k])) for k in range(11)]
    + [("list_records.xml", _document(range(11, 22)))]
))


def arxiv_pages(spark):
    """The pages table of the generated documents, with
    ``fixture_rows``' URL and ``warc_ts`` scheme."""
    rows = [fixtures.fixture_row("arxiv-oai", i, name, body)
            for i, (name, body) in enumerate(DOCUMENTS)]
    return spark.createDataFrame(rows, schema=PAGES_WITH_FORMAT_SCHEMA)


def one_record_document() -> bytes:
    """A well-formed one-record arXiv document."""
    return dict(DOCUMENTS)["record_00.xml"]
