"""Elsevier structured-bibliography (sb:) byte parity.

Each case feeds the *reference's own* fixture XML (extracted verbatim
from /root/reference/tests/test_elsevier.py at runtime, so the bytes
can never drift) through ``get_references`` and asserts the reference
suite's expected dicts byte-for-byte
(test_elsevier.py:425-1510; parser under test:
hepcrawl_spark/extractors/elsevier.py ≙ elsevier_spider.py:382-686).
"""

import re
from functools import lru_cache

import pytest

from hepcrawl_spark.extractors.elsevier import get_references
from hepcrawl_spark.extractors.xmlpath import parse_xml

from ref_goldens import requires_reference

_REF_TESTS = "/root/reference/tests/test_elsevier.py"


@lru_cache(maxsize=None)
def _src():
    with open(_REF_TESTS, encoding="utf-8") as fh:
        return fh.read()


def refs_for(fixture_name):
    m = re.search(
        r"def {}\(\):.*?body = \"\"\"(.*?)\"\"\"".format(fixture_name),
        _src(), re.S,
    )
    assert m, "fixture %s not found in reference tests" % fixture_name
    return get_references(parse_xml(m.group(1)))


@requires_reference
def test_ref_textref():
    assert refs_for("ref_textref") == [{
        "raw_reference": ["D. Friedan and S. Shenker, unpublished."]
    }]


@requires_reference
def test_ref_textref_sublabels():
    assert refs_for("ref_textref_sublabels") == [
        {"raw_reference": ["D. Kastor, E. Martinec and Z. Qiu, "
                           "E. Fermi Institute preprint EFI-87-58."]},
        {"raw_reference": ["G. Moore and N. Seiberg, unpublished."]},
    ]


@requires_reference
def test_ref_simple_journal():
    assert refs_for("ref_simple_journal") == [{
        "volume": "37",
        "doi": "doi:[this is a doi number]",
        "title": "Comparisons through the mind’s eye",
        "journal": "Cognition",
        "authors": ["P\xe4ivi\xf6, A. & Becker, L.J. et al."],
        "number": 1,
        "lpage": "647",
        "fpage": "635",
        "year": "1975",
        "issue": "2",
        "journal_pubnote": ["Cognition,37(2),635-647"],
    }]


@requires_reference
def test_ref_simple_journal_suppl():
    assert refs_for("ref_simple_journal_suppl") == [{
        "title": "A pilot study of the effect of ...",
        "collaboration": ["The Collaboration"],
        "journal": "Acta Psychiatrica Scandinavica",
        "authors": ["Koczkas, S., Holmberg, G. & Wedin, L."],
        "number": 2,
        "volume": "63",
        "fpage": "328",
        "year": "1981",
        "issue": "Suppl. 290",
        "journal_pubnote": ["Acta Psychiatrica Scandinavica,63(Suppl.290),328"],
    }]


@requires_reference
def test_ref_journal_issue():
    assert refs_for("ref_journal_issue") == [{
        "journal": "Testing: concepts and research; American Psychologist",
        "misc": ["special issue"],
        "editors": ["Glaser & Bond"],
        "number": 3,
        "volume": "36",
        "year": "1981",
        "issue": "1012",
        "journal_pubnote": [
            "Testing: concepts and research; American Psychologist,36(1012)"
        ],
    }]


@requires_reference
def test_ref_translated_article():
    assert refs_for("ref_translated_article") == [{
        "volume": "54",
        "title": "Het aanleren van deelgeheel relaties "
                 "(Teaching partwhole relations)",
        "journal": "Pedagogische Studiën",
        "authors": ["Assink, E.M.H. & Verloop, N."],
        "number": 4,
        "lpage": "142",
        "fpage": "130",
        "year": "1977",
        "journal_pubnote": ["Pedagogische Studiën,54,130"],
    }]


@requires_reference
def test_ref_monograph():
    assert refs_for("ref_monograph") == [{
        "publisher": "New York: MacMillan",
        "book_title": "The elements of style",
        "year": "1979",
        "number": 5,
        "misc": ["This reference discusses the basic concepts in a very "
                 "thorough manner. Its literature list is a main entry "
                 "point into the discipline."],
        "authors": ["Strunk, W. & White, E.B."],
        "isbn": "0-02-418190-0",
    }]


@requires_reference
def test_ref_book_no_authors():
    assert refs_for("ref_book_no_authors") == [{
        "publisher": "Princeton, NJ: College Board Publications",
        "book_title": "College bound seniors",
        "year": "1979",
        "number": 6,
    }]


@requires_reference
def test_ref_book_translated():
    assert refs_for("ref_book_translated") == [{
        "authors": ["Luria, A.R."],
        "book_title": "The mind of a mnemonist",
        "number": 7,
        "misc": ["L. Solotarof, Trans. Original work published 1965"],
        "publisher": "New York: Avon books",
        "year": "1969",
    }]


@requires_reference
def test_ref_edited_book_article():
    assert refs_for("ref_edited_book_article") == [{
        "authors": ["Gurman, A.S. & Kniskern, D.P."],
        "book_title": "Handbook of family therapy",
        "editors": ["Editor1, G.F. & Editor2, X.S."],
        "fpage": "742",
        "number": 8,
        "publisher": "New York: Brunner/Mazel",
        "title": "Family therapy outcome research: knowns and unknowns",
        "year": "1981",
    }]


@requires_reference
def test_ref_edited_book_article_repr():
    assert refs_for("ref_edited_book_article_repr") == [{
        "authors": ["Sluzki, C.E. & Beavin, J."],
        "book_title": "The interactional view",
        "editors": ["Watzlawick, P. & Weakland, J.H."],
        "fpage": "71",
        "journal": "Acta Psiquiatrica y Psicologica de America Latina",
        "journal_pubnote": [
            "Acta Psiquiatrica y Psicologica de America Latina,11,71"
        ],
        "number": 9,
        "lpage": "87",
        "misc": ["Reprinted from"],
        "publisher": "New York: Norton",
        "title": "Symmetry and complementarity",
        "volume": "11",
        "year": "1977, 1965",
    }]


@requires_reference
def test_ref_book_proceedings_article():
    assert refs_for("ref_book_proceedings_article") == [{
        "authors": ["Chaddock, T.E."],
        "book_title": "Proceedings of the Fourth International Symposium "
                      "on Gastrointestinal Motility",
        "editors": ["Daniel, E.E."],
        "fpage": "83",
        "number": 10,
        "lpage": "92",
        "publisher": "Vancouver, British Columbia, Canada: Mitchell Press",
        "title": "Gastric emptying of a nutritionally balanced diet",
        "year": "1974",
    }]


@requires_reference
def test_ref_edited_book():
    assert refs_for("ref_edited_book") == [{
        "publisher": "New York: Praeger",
        "book_title": "Bilingual education",
        "year": "1980",
        "editors": ["Letheridge, S. & Cannon, C.R."],
        "number": 11,
    }]


@requires_reference
def test_ref_multi_volume_edited():
    assert refs_for("ref_multi_volume_edited") == [{
        "book_title": "Basic teratology",
        "editors": ["Wilson, J.G."],
        "journal": "Handbook of teratology",
        "journal_pubnote": ["Handbook of teratology,1"],
        "number": 12,
        "publisher": "New York: Plenum Press",
        "series_editors": ["Wilson, J.G. & Fraser, F.C."],
        "volume": "1",
        "year": "1977",
    }]


@requires_reference
def test_ref_multi_volume():
    assert refs_for("ref_multi_volume") == [{
        "authors": ["Wilson, J.G."],
        "book_title": "Basic teratology",
        "journal": "Handbook of teratology",
        "journal_pubnote": ["Handbook of teratology,1-2"],
        "publisher": "New York: Plenum Press",
        "series_editors": ["Wilson, J.G. & Fraser, F.C."],
        "volume": "1-2",
        "year": "1977",
    }]


@requires_reference
def test_ref_ehost():
    assert refs_for("ref_ehost") == [{
        "arxiv_id": "hep-th/9112009",
        "authors": ["Yu, F. & Wu, X.-S."],
        "fpage": "2996",
        "journal": "Phys. Rev. Lett.",
        "journal_pubnote": ["Phys.Rev.Lett.,68,2996"],
        "number": 14,
        "volume": "68",
        "year": "1992",
    }]


@requires_reference
def test_ref_eproceedings_article():
    assert refs_for("ref_eproceedings_article") == [{
        "book_title": "Proc. 1996 USENIX Technical Conference",
        "title": "Tracking and viewing changes on the web",
        "year": "1996",
        "number": 15,
        "url": ["http://www.research.att.com/papers/aide.ps.gz",
                "http://usenix.org/sd96.html"],
        "authors": ["Douglis, F. & Ball, Th."],
    }]


@requires_reference
def test_ref_comment_and_note():
    refs = refs_for("ref_comment_and_note")
    assert refs
    assert refs[0]["misc"] == [
        "special issue",
        "This reference discusses the basic concepts in a very thorough "
        "manner. Its literature list is a main entry point into the "
        "discipline.",
    ]


@requires_reference
def test_ref_multi_years():
    refs = refs_for("ref_multi_years")
    assert refs
    assert refs[0]["year"] == "1980-1982, 1985"
