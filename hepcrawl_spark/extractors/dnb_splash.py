"""DNB splash-page abstract scraper — stage B of the two-hop DNB flow.

Reproduces /root/reference/hepcrawl/spiders/dnb_spider.py:160-196
(``scrape_for_abstract``): per-repository XPath dispatch keyed on the
splash URL's domain, emitting ``abstract`` (joined + CRLF-collapsed,
then the standard abstract processors) and ``page_nr``.

The extractor receives the page URL (extract.py passes it to
extractors that accept a second argument) because the dispatch is
domain-based.
"""

from __future__ import annotations

from typing import List

from . import register
from .recbuild import RecordBuilder
from .xmlpath import parse_xml, strip_namespaces
from ..functions.textutils import parse_domain


def _own_texts(el) -> List[str]:
    out = []
    if el.text:
        out.append(el.text)
    for child in el:
        if child.tail:
            out.append(child.tail)
    return out


@register("dnb-splash")
def extract_dnb_splash(payload: bytes, url: str = "") -> List[dict]:
    root = strip_namespaces(parse_xml(payload))
    domain = parse_domain(url) if url else ""
    abstract_raw: List[str] = []
    page_nr: List[str] = []

    if ("publikationen.ub.uni-frankfurt.de" in domain
            or "http://nbn-resolving.de" in domain):
        # //span[@class='abstractFull']/pre/text()
        for span in root.iter("span"):
            if span.get("class") == "abstractFull":
                for pre in span.findall("pre"):
                    abstract_raw.extend(_own_texts(pre))
        # //tr[./th[contains(text(), 'Pagenumber')]]/td/text()
        for tr in root.iter("tr"):
            ths = [t for t in tr.findall("th")
                   if any("Pagenumber" in x for x in _own_texts(t))]
            if ths:
                for td in tr.findall("td"):
                    page_nr.extend(_own_texts(td))
    elif "hss-opus.ub.ruhr-uni-bochum.de" in domain:
        for div in root.iter("div"):
            if div.get("id") == "abstract":
                for li in div.iter("li"):
                    abstract_raw.extend(_own_texts(li))
    elif "ediss.uni-goettingen.de" in domain:
        for div in root.iter("div"):
            if div.get("class") == "simple-item-view-abstract":
                for span in div.findall("span"):
                    abstract_raw.extend(_own_texts(span))
    elif "kups.ub.uni-koeln.de" in domain:
        for div in root.iter("div"):
            if div.get("class") == "ep_summary_content_main":
                h2s = div.findall("h2")
                if h2s:
                    for p in div.findall("p"):
                        abstract_raw.extend(_own_texts(p))

    b = RecordBuilder()
    if abstract_raw:
        b.add("abstract", " ".join(abstract_raw).replace("\r\n", " "))
    if page_nr:
        b.add("page_nr", page_nr)
    return [b.build()]
