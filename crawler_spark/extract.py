"""Per-authority extraction registry + the vectorized fetch/extract stage.

The reference implements 29 scraper classes (~130 ``get_docs_*`` methods)
that all follow one template — ``# s0. Pagination / # s1. Results /
# s2. Documents`` (``pygdpr/models/dpa/austria/__init__.py:70,85,97``).
Here per-authority behavior is **data** (REGISTRY below: selectors, date
format, pagination kind, retention predicate, politeness delay), and one
engine executes it (SURVEY.md §7.0).

DOM shapes reproduced (citations into /root/reference):

- ``austria``  — table rows with indexed cells (title=2, date=4 in
  ``%d.%m.%Y``), next-link pagination
  (``pygdpr/models/dpa/austria/__init__.py:81-111,27-53``).
- ``ireland``  — ``div.view-content`` item list, ordinal dates
  ("21st June 2021"), all-pages pagination, ``time.sleep(5)`` politeness
  (``pygdpr/models/dpa/ireland/__init__.py:29-57,136-180,144``).
- ``denmark``  — ``div.items div.item`` with ``%d-%m-%Y`` dates and
  duplicate titles hitting the ``hash+'-'+date`` rule
  (``pygdpr/models/dpa/denmark/__init__.py:109-140``).
- ``finland``  — ``ul.results li`` listings whose doc pages hold depth-2
  file links (``pygdpr/models/dpa/finland/__init__.py:51-199``).
- ``italy``    — computed pagination ``range(1, n+1)`` from the last page
  number (``pygdpr/models/dpa/italy/__init__.py:28-95``).

File decoding (X3-X6): stdlib readers for the real container subset
the fixtures carry (PDF xref/Flate/text operators, docx zip +
``word/document.xml``, RTF control words) stand in for the reference's
pdfminer/docx2txt/striprtf; ``decode_pdf`` still import-tries pdfminer
first.  The Spark-side plumbing — binary column, Arrow batches, one
``mapInArrow`` pass over html — is real and is what the engine tests;
the library call is the swappable leaf.
"""

from __future__ import annotations

import io
import re
import zipfile
from datetime import date, datetime
from typing import Iterator

from pyspark.sql import types as T

from .htmlparse import parse_html, stream_extract
from .urls import canonicalize_one

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, dict] = {
    "austria": {
        "lang": "de",
        "listing_item_selector": "table.bocListTable tr.bocListDataRow",
        "item_title_selector": "a.title",
        "item_date_selector": "span.date",
        "item_link_selector": "a.title",
        "date_format": "%d.%m.%Y",
        "pagination": "next",  # F1: ul.Pages next-link
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",  # P1
        "body_selector": "div.document-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "ireland": {
        "lang": "en",
        "listing_item_selector": "div.view-content li article",
        "item_title_selector": "h2 a",
        "item_date_selector": "p.date",
        "item_link_selector": "h2 a",
        "date_format": "ordinal %d %B %Y",  # X7 ordinal-suffix strip
        "pagination": "all",  # F2: collect every pager link
        "pagination_selector": "nav.pager a",
        "retention": "year2018",  # P2
        "body_selector": "div.field--name-body",
        "body_strip": "strip",
        "depth2_selector": None,
        "politeness_delay_s": 5.0,  # R1
    },
    "denmark": {
        "lang": "da",
        "listing_item_selector": "div.items div.item",
        "item_title_selector": "a.item-title",
        "item_date_selector": "span.date",
        "item_link_selector": "a.item-title",
        "date_format": "%d-%m-%Y",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "year2018",
        "body_selector": "div.news-page",
        "body_strip": "lstrip",  # X2: .lstrip() variant
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "finland": {
        "lang": "fi",
        "listing_item_selector": "ul.results li.list__item",
        "item_title_selector": "a.result-link",
        "item_date_selector": "span.date",
        "item_link_selector": "a.result-link",
        "date_format": "%d.%m.%Y",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "year2018",
        "body_selector": "div.news-page",
        "body_strip": None,
        "depth2_selector": "div.news-page p a",  # F6 depth-2 file links
        "politeness_delay_s": 0.0,
    },
    "italy": {
        "lang": "it",
        "listing_item_selector": "div.post",
        "item_title_selector": "h3 a",
        "item_date_selector": "span.date",
        "item_link_selector": "h3 a",
        "date_format": "%Y-%m-%d",
        # F3 for real: read the LAST page number off a truncated pager
        # (1 2 3 … N — most pages have no href on it) and synthesize
        # every page URL from the current page's url pattern
        # (``pygdpr/models/dpa/italy/__init__.py:28-60``: num_pages from
        # li_page_list[-2], then ``range(1, num_pages+1)``).
        "pagination": "computed",
        "pagination_selector": "ul.pagination li.page-item a",
        "retention": "window",
        "body_selector": "div.post-content",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "italy_news": {
        # the reverse computed variant — update_pagination_backwards,
        # ``pygdpr/models/dpa/italy/__init__.py:63-95``: same synthesized
        # URL set, pages visited last-to-first.  Final documents/seen are
        # identical either way (seq encodes the page number); only the
        # pagination cursor order flips, which the oracle replays.
        "lang": "it",
        "listing_item_selector": "div.post",
        "item_title_selector": "h3 a",
        "item_date_selector": "span.date",
        "item_link_selector": "h3 a",
        "date_format": "%Y-%m-%d",
        "pagination": "computed",
        "computed_reverse": True,
        "pagination_selector": "ul.pagination li.page-item a",
        "retention": "window",
        "body_selector": "div.post-content",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "romania": {
        # positional <p> stream with link look-ahead
        # (``pygdpr/models/dpa/romania/__init__.py:61-100``): items are
        # not containers — a date-parseable <p> starts an item, the next
        # <p> is the title, and the link is found by scanning up to 4
        # <p>s ahead for the first <a>.
        "lang": "ro",
        "listing_mode": "positional_p",
        "listing_container_selector": "div#rectangle_scroll",
        "date_format": "%d/%m/%Y",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div.article-body",
        "body_strip": "strip",
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "croatia": {
        # locale (hr) date parsing — the reference calls
        # ``dateparser.parse(date_str, languages=['hr'])``
        # (``pygdpr/models/dpa/croatia/__init__.py:92``); here a
        # deterministic month-name table stands in (X7 locale branch).
        "lang": "hr",
        "listing_item_selector": "article.post",
        "item_title_selector": "h2.entry-title a",
        "item_date_selector": "p.post-meta span.published",
        "item_link_selector": "h2.entry-title a",
        "date_format": "locale %d. %B %Y.",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div.entry-content",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "united_kingdom": {
        # pdf-gated search results + DOCX notices
        # (``pygdpr/models/dpa/united_kingdom/__init__.py:100-145``):
        # the item link's *title attribute* carries the document URL, a
        # non-.pdf/.docx href is skipped pre-fetch (P6 MIME gate), the
        # date is the text before the first comma (dateparser 'en'),
        # and the document IS the binary file (no docpage hop;
        # DOCX variant at :468-486 → docx2txt).
        "lang": "en",
        "listing_item_selector": "div.resultlist div.itemlink",
        "item_title_selector": "a h2.h3",
        "item_date_selector": "p.text-small",
        "item_link_selector": "a",
        "item_link_attr": "title",
        "date_split_comma": True,
        "date_format": "%d %B %Y",
        "link_gate": r"\.(pdf|docx)$",
        "doc_is_file": True,
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 5.0,  # time.sleep(5), united_kingdom:217
    },
    "belgium": {
        # annual-report flow (``pygdpr/models/dpa/belgium/__init__.py:
        # 595-661``): listing links straight to .pdf/.zip files; the
        # title is href[-23:-4], the year href[-8:-4] gates retention
        # (year2018), zips explode to concatenated member html text (X6).
        "lang": "fr",
        "listing_mode": "href_files",
        "listing_item_selector": "div.expanded a",
        "link_gate": r"\.(pdf|zip)$",
        "date_format": "%Y",
        "doc_is_file": True,
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "year2018",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 5.0,  # time.sleep(5), belgium:106
    },
    "edpb": {
        # "final version after public consultation" alert redirect
        # (``pygdpr/models/dpa/edpb/__init__.py:290-352``): the docpage
        # either links its pdf directly (article div.col-sm-2 a) or
        # carries a div.alert whose link leads to a SECOND html page
        # that holds the pdf link — a depth-2 html redirect hop the
        # engine models as a depth-3 child with the parent's seq.
        "lang": "en",
        "listing_item_selector": "div.views-row",
        "item_title_selector": "h3 a",
        "item_date_selector": "span.date",
        "item_link_selector": "h3 a",
        "date_format": "%d %B %Y",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "article.edpb-article",
        "body_strip": None,
        "depth2_selector": "article.edpb-article div.col-sm-2 a",
        "alert_selector": "article.edpb-article div.alert a",
        "redirect_selector": "article.edpb-article div.col-sm-2 a",
        "depth2_href_filter": r".",  # any href the selectors yield
        "politeness_delay_s": 0.0,
    },
    "sweden": {
        # search-hit list where the DATE is the last word of the item's
        # summary body; items whose summary lacks 'Beslut' are skipped
        # (ongoing cases), year-only dates pad to Jan 1; docpages carry
        # depth-2 .pdf links; time.sleep(5) politeness
        # (``pygdpr/models/dpa/sweden/__init__.py:84-160``).
        "lang": "sv",
        "listing_item_selector": "ul.imy-search__results-list li.imy-search__results-item",
        "item_title_selector": "h2.imy-search-hit__heading",
        "item_date_selector": "p.imy-search-hit__body",
        "item_link_selector": "a",
        "title_strip": True,
        "summary_gate": "beslut",
        "date_from_summary_tail": True,
        "year_pad": True,
        "date_format": "%Y-%m-%d",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div.imy-body",
        "body_strip": None,
        "depth2_selector": "div.imy-body a",
        "politeness_delay_s": 5.0,  # time.sleep(5), sweden:91
    },
    "poland": {
        # decision cards with a float-right date div (pl locale via
        # dateparser) and an id-selected docpage body
        # (``pygdpr/models/dpa/poland/__init__.py:77-130``).
        "lang": "pl",
        "listing_item_selector": "div#decisions-container div.decision",
        "item_title_selector": "a",
        "item_date_selector": "div.float-sm-right",
        "item_link_selector": "a",
        "date_format": "locale %d %B %Y",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div#article-content",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 5.0,  # time.sleep(5), poland:81
    },
    "lithuania": {
        # rolling year context: digit-only <p>s set the current year;
        # document links are <a>s inside content <p>s (several per
        # paragraph), gated to pdf; the date is the title's LAST word if
        # it starts with a digit, else the latest year header + '-01-01'
        # (``pygdpr/models/dpa/lithuania/__init__.py:80-110``); the pdf
        # IS the document.
        "lang": "lt",
        "listing_mode": "year_paragraphs",
        "listing_container_selector": "div.content",
        "link_gate": r"pdf$",
        "date_format": "%Y-%m-%d",
        "doc_is_file": True,
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "cyprus": {
        # content-block photo-list items with %d/%m/%Y dates
        # (``pygdpr/models/dpa/cyprus/__init__.py:74-95``)
        "lang": "el",
        "listing_item_selector": "div.content-block li.photos",
        "item_title_selector": "a",
        "item_date_selector": "span.date",
        "item_link_selector": "a",
        "date_format": "%d/%m/%Y",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "latvia": {
        # year-accordion -> table rows with positional td cells; the
        # title is SYNTHESIZED as manager + '-' + date_str, the date
        # format carries a trailing dot, rows without a digit-leading
        # date or without a pdf link are skipped, and the pdf IS the
        # document (``pygdpr/models/dpa/latvia/__init__.py:86-131``).
        "lang": "lv",
        "listing_mode": "accordion_table",
        "listing_container_selector": "div.block-ministry-content div.accordion",
        "td_manager": 0,
        "td_pdf": 1,
        "td_date": 2,
        "date_format": "%d.%m.%Y.",
        "doc_is_file": True,
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "france": {
        # CNIL deliberations: pager-load-more next-link pagination
        # (``pygdpr/models/dpa/france/__init__.py:42-48``), view-content
        # views-row items (:93-99), time.sleep(5) per item (:96).  The
        # live reference reads document text from the Legifrance JSON
        # API; the legacy deliberations flow its striprtf import exists
        # for (:16 — the only .rtf path in the codebase) is modeled
        # here: the item link IS an .rtf file decoded by X5.
        "lang": "fr",
        "listing_item_selector": "div.view-content div.views-row",
        "item_title_selector": "a",
        "item_date_selector": "span.date",
        "item_link_selector": "a",
        "date_format": "%d/%m/%Y",
        "link_gate": r"\.rtf$",
        "doc_is_file": True,
        "pagination": "next",
        "pagination_selector": "ul.pager-load-more li.pager-next a",
        "retention": "window",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 5.0,  # time.sleep(5), france:96
    },
    "spain": {
        # AEPD resoluciones (``pygdpr/models/dpa/spain/__init__.py:
        # 109-205``): views-row items, title from div.views-field-title
        # a (:115-120), the DATE from the <time> element's *datetime
        # attribute* split at 'T' (:141-147), href gated to .pdf
        # (:134-136), the pdf IS the document, year<2018 skipped
        # (:151-155), time.sleep(5) (:117), pager__items pagination
        # (:52-66).
        "lang": "es",
        "listing_item_selector": "div.view-content div.views-row",
        "item_title_selector": "div.views-field-title a",
        "item_date_selector": "time",
        "item_date_attr": "datetime",
        "date_split": ["T", 0],
        "item_link_selector": "div.views-field-title a",
        "date_format": "%Y-%m-%d",
        "link_gate": r"\.pdf$",
        "doc_is_file": True,
        "pagination": "all",
        "pagination_selector": "nav.pager ul.pager__items li.pager__item a",
        "retention": "year2018",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 5.0,  # time.sleep(5), spain:117
    },
    "slovakia": {
        # Opinions flow (``pygdpr/models/dpa/slovakia/__init__.py:
        # 153-291``): node-file items under region-content, date = the
        # <b> text before ' - ' parsed %d.%m.%Y (:160-166), title h2 a
        # (:168-173), docpage holds div.filefield-file attachment links
        # (docx -> X4 stdlib decode, else pdf, :223-276), pager-item
        # pagination (:44-52).
        "lang": "sk",
        "listing_item_selector": "div.region-content div.content div.node-file",
        "item_title_selector": "h2 a",
        "item_date_selector": "b",
        "date_split": [" - ", 0],
        "item_link_selector": "h2 a",
        "date_format": "%d.%m.%Y",
        "pagination": "all",
        "pagination_selector": "ul.pager li.pager-item a",
        "retention": "window",
        "body_selector": "div.content",
        "body_strip": None,
        "depth2_selector": "div.filefield-file a",
        "depth2_href_filter": r".",
        "politeness_delay_s": 0.0,
    },
    "greece": {
        # prakseisArxis decision tables (``pygdpr/models/dpa/greece/
        # __init__.py:81-160``): tbody tr rows, date from the <time>
        # element text with the year in the last 4 chars gating <2018
        # (:91-99), title/link = tr a (:101-113), docpage carries the
        # pdf under span.file-link (:138-148), pagination via the
        # second-to-last li of ul.pagination js-pager__items (:191-197).
        "lang": "el",
        "listing_item_selector": "tbody tr",
        "item_title_selector": "a",
        "item_date_selector": "time",
        "item_link_selector": "a",
        "date_format": "%d/%m/%Y",
        "pagination": "next",
        "pagination_selector": "ul.pagination li.next a",
        "retention": "year2018",
        "body_selector": "div.dpa-body",
        "body_strip": None,
        "depth2_selector": "span.file-link a",
        "depth2_href_filter": r".",
        "politeness_delay_s": 0.0,
    },
    "hungary": {
        # NAIH phoca-download fileboxes (``pygdpr/models/dpa/hungary/
        # __init__.py:101-162``): title + href from the nested
        # pd-filenamebox/pd-filename/pd-float a (:103-108), date from
        # div.pd-fl-m text via dateparser hu locale (:109-112 —
        # year-first form, deterministic month table here), the href IS
        # the pdf document (:126-148), sectiontablefooter next-link
        # pagination (:48-54).
        "lang": "hu",
        "listing_item_selector": "div.pd-category div.pd-filebox",
        "item_title_selector": "div.pd-filename div.pd-float a",
        "item_date_selector": "div.pd-fl-m",
        "item_link_selector": "div.pd-filename div.pd-float a",
        "date_format": "locale_ymd %Y. %B %d.",
        "doc_is_file": True,
        "pagination": "next",
        "pagination_selector": "div.sectiontablefooter li.pagination-next a",
        "retention": "window",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "malta": {
        # IDPC guidelines p-stream (``pygdpr/models/dpa/malta/
        # __init__.py:96-183``): each <p> under the vce-text-block with
        # an <a> is an item, the TITLE is the whole <p> text (:116),
        # relative hrefs lose their first 4 chars before joining the
        # host (:129-132), the target is the pdf document, and there is
        # NO date at all (releaseDate 'Date not available', :176) — no
        # retention filter.  Single page (no pagination loop).
        "lang": "en",
        "listing_mode": "p_links",
        "p_title": True,
        "listing_container_selector": "div.vce-text-block-wrapper",
        "href_strip_prefix": 4,
        "link_gate": r"\.pdf$",
        "date_format": "%Y-%m-%d",
        "doc_is_file": True,
        "pagination": "none",
        "pagination_selector": "",
        "retention": "none",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "estonia": {
        # AKI ettekirjutused (``pygdpr/models/dpa/estonia/__init__.py:
        # 59-116``): sidebar menu links are the sub-listing pages
        # (:62-67), items are <p><a> rows in the field-item block
        # (:78-86), the DATE is parsed out of the title — the last word
        # before 'nr', %d.%m.%Y (:88-99) — and the href is the document
        # file fetched directly (:100-113).
        "lang": "et",
        "listing_mode": "p_links",
        "p_title": False,
        "listing_container_selector": "div.region-content-inner div.field-item",
        "date_from_title_nr": True,
        "date_format": "%d.%m.%Y",
        "doc_is_file": True,
        "pagination": "menu",
        "pagination_selector": "div.region-sidebar-first-inner ul.menu li a",
        "retention": "window",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "luxembourg": {
        # CNPD decisions (``pygdpr/models/dpa/luxembourg/__init__.py:
        # 85-196``): ol.search-results li items, date from
        # time.article-published text %Y-%m-%d (:100-103), title
        # h2.article-title a (:119-124), docpage aside.page-more holds
        # the .pdf file links (:149-155), pagination-page list (:41-47).
        "lang": "fr",
        "listing_item_selector": "ol.search-results li",
        "item_title_selector": "h2.article-title a",
        "item_date_selector": "time.article-published",
        "item_link_selector": "h2.article-title a",
        "date_format": "%Y-%m-%d",
        "pagination": "all",
        "pagination_selector": "ol.pagination li.pagination-page a",
        "retention": "window",
        "body_selector": "div.article-text",
        "body_strip": None,
        "depth2_selector": "aside.page-more a",
        "depth2_href_filter": r"\.pdf$",
        "politeness_delay_s": 0.0,
    },
    "netherlands": {
        # AP boetes list (``pygdpr/models/dpa/netherlands/__init__.py:
        # 76-148``): plain <li> items under main-content-article, the
        # DATE is the last 3 words of the li text via dateparser nl
        # (:82-94 — deterministic month table here), title/link = li a
        # (:96-100), docpage text = div.main-content-article get_text
        # (:129-132), div.pager pagination (:36-40).
        "lang": "nl",
        "listing_item_selector": "div.main-content-article li",
        "item_title_selector": "a",
        "item_date_selector": "a",
        "date_from_item_tail": 3,
        "item_link_selector": "a",
        "date_format": "locale %d %B %Y",
        "pagination": "all",
        "pagination_selector": "div.pager ul li.pager-item a",
        "retention": "window",
        "body_selector": "div.main-content-article",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "portugal": {
        # CNPD decisões cards (``pygdpr/models/dpa/portugal/__init__.py:
        # 92-150``): div.c-card items whose link wraps the title div
        # (c-card-header-medium, :96-106), the date is the TITLE's last
        # 4 chars (the year, :115-120) gating <2018, the href is the
        # pdf document (:122-145), c-pagination pages (:43-45).
        "lang": "pt",
        "listing_item_selector": "div.layout div.c-card",
        "item_title_selector": "a div.c-card-header-medium",
        "item_date_selector": "a",
        "date_from_title_tail": 4,
        "item_link_selector": "a",
        "date_format": "%Y",
        "doc_is_file": True,
        "pagination": "all",
        "pagination_selector": "div.c-pagination a",
        "retention": "year2018",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "bulgaria": {
        # CPDP rubric pages (``pygdpr/models/dpa/bulgaria/__init__.py:
        # 164-166``): every <a> under div.center-part whose href ends
        # .pdf is a document, title = link text; the news variant's
        # date extraction is commented out in the reference (:230-245)
        # — no retention filter.
        "lang": "bg",
        "listing_mode": "a_stream",
        "listing_container_selector": "div.center-part",
        "link_gate": r"\.pdf$",
        "date_format": "%d.%m.%Y",
        "doc_is_file": True,
        "pagination": "all",
        "pagination_selector": "div.pages a",
        "retention": "none",
        "body_selector": "div.article-body",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "slovenia": {
        # IP-RS mnenja search results (``pygdpr/models/dpa/slovenia/
        # __init__.py:103-190``): table rows under advsea-results-list
        # with the date in one td and the item link in another (the
        # reference selects tds by their align attribute, :118-135;
        # modeled as classed tds), advsea-next next-link (:46-56).  The
        # TITLE only exists on the docpage (article.c9 header h1,
        # :179-185) and the text is the whole article (:189), so X1
        # keying and P3/P4 admission happen AFTER the fetch — the
        # engine's post-fetch-keyed document path.
        "lang": "sl",
        "listing_item_selector": "div.advsea-results-list tr",
        "item_title_selector": "td.advsea-link a",
        "item_date_selector": "td.advsea-date",
        "item_link_selector": "td.advsea-link a",
        "title_at_docpage": True,
        "docpage_title_selector": "article.c9 header h1",
        "date_format": "%d.%m.%Y",
        "pagination": "next",
        "pagination_selector": "span.advsea-next a",
        "retention": "window",
        "body_selector": "article.c9",
        "body_strip": None,
        "depth2_selector": None,
        "politeness_delay_s": 0.0,
    },
    "czech_republic": {
        # File.ashx attachment links on the docpage
        # (``pygdpr/models/dpa/czech_republic/__init__.py:190-216``):
        # only hrefs containing 'File.ashx' are downloads (pdf bytes).
        "lang": "cs",
        "listing_item_selector": "div.item-list div.item",
        "item_title_selector": "a.item-title",
        "item_date_selector": "span.date",
        "item_link_selector": "a.item-title",
        "date_format": "%d.%m.%Y",
        "pagination": "next",
        "pagination_selector": "ul.Pages li.next a",
        "retention": "window",
        "body_selector": "div.news-body",
        "body_strip": None,
        "depth2_selector": "div.news-body a",
        "depth2_href_filter": r"File\.ashx",
        "politeness_delay_s": 0.0,
    },
}

# deterministic stand-in for dateparser's 'hr' locale (X7): Croatian
# month names in the genitive form dates are written in
HR_MONTHS = (
    "siječnja", "veljače", "ožujka", "travnja", "svibnja", "lipnja",
    "srpnja", "kolovoza", "rujna", "listopada", "studenoga", "prosinca",
)
PL_MONTHS = (
    "stycznia", "lutego", "marca", "kwietnia", "maja", "czerwca",
    "lipca", "sierpnia", "września", "października", "listopada", "grudnia",
)
NL_MONTHS = (
    "januari", "februari", "maart", "april", "mei", "juni", "juli",
    "augustus", "september", "oktober", "november", "december",
)
HU_MONTHS = (
    "január", "február", "március", "április", "május", "június",
    "július", "augusztus", "szeptember", "október", "november", "december",
)
FR_MONTHS = (
    "janvier", "février", "mars", "avril", "mai", "juin", "juillet",
    "août", "septembre", "octobre", "novembre", "décembre",
)
ES_MONTHS = (
    "enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
    "agosto", "septiembre", "octubre", "noviembre", "diciembre",
)
DE_MONTHS = (  # lowercase: matching happens on lowered text
    "januar", "februar", "märz", "april", "mai", "juni", "juli",
    "august", "september", "oktober", "november", "dezember",
)
LOCALE_MONTHS: dict[str, tuple[str, ...]] = {
    "hr": HR_MONTHS, "pl": PL_MONTHS, "nl": NL_MONTHS, "hu": HU_MONTHS,
    "fr": FR_MONTHS, "es": ES_MONTHS, "de": DE_MONTHS,
}

GDPR_DATE = date(2018, 5, 25)  # pygdpr/policies/gdpr_policy.py:3-5


def cfg_of(authority: str) -> dict:
    """Registry lookup that resolves clone names (``austria_7`` ->
    ``austria``) so wide synthetic frontiers (bench fixtures with
    hundreds of hosts) reuse the 5 base behavior profiles."""
    if authority not in REGISTRY and "_" in authority:
        head, _, tail = authority.rpartition("_")
        if tail.isdigit() and head in REGISTRY:
            return REGISTRY[head]
    return REGISTRY[authority]

_ORDINAL_RE = re.compile(r"(\d+)(st|nd|rd|th)")
_LOCALE_DATE_RE = re.compile(r"(\d{1,2})\.?\s+([^\s\d.]+)\s+(\d{4})")
#: year-first locale form ("2021. január 5." — hungarian filebox dates,
#: pygdpr/models/dpa/hungary/__init__.py:109-112 via dateparser hu)
_LOCALE_DATE_YMD_RE = re.compile(r"(\d{4})\.?\s+([^\s\d.]+)\s+(\d{1,2})\.?")


def parse_date_str(authority: str, s: str) -> date | None:
    """X7: per-authority date parsing (6 fixed formats in the reference;
    ordinal strip per pygdpr/models/dpa/ireland/__init__.py:150-159;
    'locale' formats replace ``dateparser.parse(..., languages=[lc])``
    calls — pygdpr/models/dpa/croatia/__init__.py:92,
    united_kingdom/__init__.py:108 — with a deterministic month-name
    table for the authority's language; cfg["date_split"] generalizes
    the reference's pre-parse string slicing, e.g. spain's
    datetime-attribute 'T' split (spain/__init__.py:145-147) and
    slovakia's ' - ' prefix (slovakia/__init__.py:160-162))."""
    if s is None:
        return None
    s = s.strip()
    cfg = cfg_of(authority)
    fmt = cfg["date_format"]
    if cfg.get("date_split_comma"):
        s = s.split(",")[0].strip()
    split = cfg.get("date_split")
    if split:
        sep, idx = split
        parts = s.split(sep)
        s = parts[idx].strip() if idx < len(parts) else ""
    if fmt.startswith("locale_ymd "):
        months = LOCALE_MONTHS.get(cfg["lang"])
        m = _LOCALE_DATE_YMD_RE.search(s)
        if not m or months is None:
            return None
        name = m.group(2).lower()
        if name not in months:
            return None
        try:
            return date(int(m.group(1)), months.index(name) + 1, int(m.group(3)))
        except ValueError:
            return None
    if fmt.startswith("locale "):
        months = LOCALE_MONTHS.get(cfg["lang"])
        m = _LOCALE_DATE_RE.search(s)
        if not m or months is None:
            return None
        name = m.group(2).lower()
        if name not in months:
            return None
        try:
            return date(int(m.group(3)), months.index(name) + 1, int(m.group(1)))
        except ValueError:
            return None
    if fmt.startswith("ordinal "):
        s = _ORDINAL_RE.sub(r"\1", s)
        fmt = fmt[len("ordinal "):]
    try:
        return datetime.strptime(s, fmt).date()
    except ValueError:
        return None


def retained(authority: str, d: date | None, as_of: date) -> bool:
    """P1/P2: retention predicate.

    - 'window': symmetric window today ± (today - GDPR_DATE)
      (pygdpr/specifications/should_retain_document_specification.py:4-8)
    - 'year2018': ``int(year) < 2018 -> skip``
      (pygdpr/models/dpa/denmark/__init__.py:367)
    - 'none': no date-based filtering — malta's guidelines flow stores
      'Date not available' (malta/__init__.py:176) and bulgaria's date
      extraction is commented out (bulgaria/__init__.py:230-245)
    """
    kind = cfg_of(authority)["retention"]
    if kind == "none":
        return True
    if d is None:
        return False
    if kind == "year2018":
        return d.year >= 2018
    delta = as_of - GDPR_DATE
    return (as_of - delta) <= d <= (as_of + delta)


# ---------------------------------------------------------------------------
# pure parse functions (shared by the Spark stage AND the sequential oracle,
# so byte-identity is tested on the *dataflow*, not the parser)
# ---------------------------------------------------------------------------


_PAGE_PARAM_RE = re.compile(r"(page=)\d+")


def parse_listing(authority: str, page_url: str, html_text: str) -> dict:
    """Parse a depth-0 listing page.

    Returns {"items": [(title, date_str, abs_href)], "next_pages":
    [(abs_href, page_no|None)]} in DOM document order (the order the
    reference's for-loops see — SURVEY.md §3.3).

    Listing modes (cfg["listing_mode"]):

    - "items" (default) — one container element per item with title /
      date / link selectors; cfg["item_link_attr"] picks the attribute
      carrying the URL (UK uses the <a> *title* attribute,
      united_kingdom/__init__.py:134) and cfg["link_gate"] is the P6
      pre-fetch MIME gate (skip non-matching hrefs, :135-137).
    - "positional_p" — romania's flat <p> stream: a date-parseable <p>
      opens an item, the next <p> is the title, and the link is the
      first <a> found scanning up to 4 <p>s ahead
      (romania/__init__.py:61-100).
    - "href_files" — belgium's file listing: every gated href IS the
      document; title = href[-23:-4], year = href[-8:-4]
      (belgium/__init__.py:604-618).
    """
    cfg = cfg_of(authority)
    root = parse_html(html_text)
    gate = cfg.get("link_gate")
    items: list[tuple[str, str, str]] = []
    mode = cfg.get("listing_mode", "items")
    if mode == "positional_p":
        container = root.select_one(cfg["listing_container_selector"])
        p_all = container.find_all("p") if container is not None else []
        for i in range(1, len(p_all)):
            date_str = p_all[i].get_text().strip()
            if parse_date_str(authority, date_str) is None:
                continue  # not an item-opening <p>
            if i + 1 >= len(p_all):
                continue
            title = p_all[i + 1].get_text().strip()
            link = None
            j = 0
            while link is None and i + j < len(p_all):
                link = p_all[i + j].find("a")
                if j == 4:
                    break
                j += 1
            href = link.get("href") if link is not None else None
            if not href:
                continue
            items.append((title, date_str, canonicalize_one(href, page_url)))
    elif mode == "href_files":
        for a in root.select(cfg["listing_item_selector"]):
            href = a.get("href")
            if not href or (gate and not re.search(gate, href)):
                continue
            items.append(
                (href[-23:-4], href[-8:-4], canonicalize_one(href, page_url))
            )
    elif mode == "year_paragraphs":
        # lithuania (lithuania/__init__.py:80-110): digit-only <p>s set
        # the rolling year; each content <p> may hold several document
        # links; date = title's last word if digit-leading, else the
        # latest year header + '-01-01'
        container = root.select_one(cfg["listing_container_selector"])
        year: str | None = None
        for p in (container.find_all("p") if container is not None else []):
            txt = p.get_text().strip()
            if txt.isdigit():
                year = txt
                continue
            for a in p.find_all("a"):
                href = a.get("href")
                title = a.get_text()
                if not href or (gate and not re.search(gate, href)):
                    continue
                words = title.split()
                last = words[-1] if words else ""
                if last and last[0].isdigit():
                    date_str = last
                elif year is not None:
                    date_str = f"{year}-01-01"
                else:
                    continue
                items.append((title, date_str, canonicalize_one(href, page_url)))
    elif mode == "p_links":
        # malta's guidelines stream (malta/__init__.py:96-133: <p> with
        # an <a>; the TITLE is the whole <p> text, relative hrefs lose
        # their first `href_strip_prefix` chars) and estonia's
        # ettekirjutused (estonia/__init__.py:78-99: title = <a> text,
        # date = last word of the title before 'nr')
        container = root.select_one(cfg["listing_container_selector"])
        for p in (container.find_all("p") if container is not None else []):
            a = p.find("a")
            if a is None:
                continue
            href = a.get("href")
            if not href:
                continue
            sp = cfg.get("href_strip_prefix")
            if sp and not href.startswith("http"):
                href = href[sp:]  # malta:129-132 '[4:]' quirk
            if gate and not re.search(gate, href):
                continue
            title = p.get_text() if cfg.get("p_title") else a.get_text()
            date_str = ""
            if cfg.get("date_from_title_nr"):
                head = title.split("nr")[0].split()
                date_str = head[-1] if head else ""
            items.append((title, date_str, canonicalize_one(href, page_url)))
    elif mode == "a_stream":
        # bulgaria (bulgaria/__init__.py:164-166): every pdf-gated <a>
        # in the content container IS a document, title = link text
        container = root.select_one(cfg["listing_container_selector"])
        for a in (container.find_all("a") if container is not None else []):
            href = a.get("href")
            if not href or (gate and not re.search(gate, href)):
                continue
            items.append((a.get_text(), "", canonicalize_one(href, page_url)))
    elif mode == "accordion_table":
        # latvia (latvia/__init__.py:90-131): per year-accordion, skip
        # the table header row, read positional td cells; synthesize the
        # title as manager + '-' + date_str; skip rows whose date cell
        # does not start with a digit or whose pdf cell has no link
        ti, pi, di = cfg["td_manager"], cfg["td_pdf"], cfg["td_date"]
        for acc in root.select(cfg["listing_container_selector"]):
            for tr in acc.find_all("tr")[1:]:
                tds = tr.find_all("td")
                if len(tds) <= max(ti, pi, di):
                    continue
                date_str = tds[di].get_text().strip()
                if not date_str or not date_str[0].isdigit():
                    continue
                a = tds[pi].find("a")
                href = a.get("href") if a is not None else None
                if not href:
                    continue
                title = tds[ti].get_text().strip() + "-" + date_str
                items.append((title, date_str, canonicalize_one(href, page_url)))
    else:
        link_attr = cfg.get("item_link_attr", "href")
        for el in root.select(cfg["listing_item_selector"]):
            a = el.select_one(cfg["item_title_selector"])
            d = el.select_one(cfg["item_date_selector"])
            if a is None or d is None:
                continue  # reference asserts selector hits; we skip+log
            link_el = (
                a
                if cfg.get("item_link_selector") == cfg["item_title_selector"]
                else el.select_one(cfg["item_link_selector"])
            )
            href = link_el.get(link_attr) if link_el is not None else None
            if not href:
                continue
            if gate and not re.search(gate, href):
                continue  # P6: wrong mimetype, skipped before any fetch
            date_attr = cfg.get("item_date_attr")
            if date_attr:
                # spain: the date lives in the <time> element's datetime
                # attribute (spain/__init__.py:141-147)
                date_str = (d.get(date_attr) or "").strip()
            else:
                date_str = d.get_text().strip()
            if cfg.get("date_from_summary_tail"):
                # sweden (sweden/__init__.py:97-109): the summary body's
                # last word is the date; summaries without the gate word
                # are ongoing cases and skipped; bare years pad to Jan 1
                summary = d.get_text()
                sg = cfg.get("summary_gate")
                if sg and sg not in summary.lower():
                    continue
                words = summary.split()
                date_str = words[-1] if words else ""
                if cfg.get("year_pad") and len(date_str) == 4:
                    date_str = date_str + "-01-01"
            title = a.get_text()
            if cfg.get("doc_is_file") or cfg.get("title_strip"):
                title = title.strip()
            if cfg.get("date_from_title_tail"):
                # portugal: the year is the title's last 4 chars
                # (portugal/__init__.py:115-120)
                date_str = title[-cfg["date_from_title_tail"]:]
            elif cfg.get("date_from_item_tail"):
                # netherlands: the date is the last N words of the item
                # text (netherlands/__init__.py:82-94)
                words = el.get_text().split()
                date_str = " ".join(words[-cfg["date_from_item_tail"]:])
            items.append((title, date_str, canonicalize_one(href, page_url)))
    next_pages: list[tuple[str, int | None]] = []
    kind = cfg["pagination"]
    if kind == "none":
        pass  # single-page flow (malta/__init__.py:96 — no pager loop)
    elif kind == "menu":
        # estonia (estonia/__init__.py:62-67): sidebar menu links are
        # the sub-listing pages; identical menus repeat on every page,
        # so page_no comes from menu position — duplicates then carry
        # identical seq and URL-level dedupe is order-safe
        for idx, a in enumerate(root.select(cfg["pagination_selector"])):
            href = a.get("href")
            if href:
                next_pages.append((canonicalize_one(href, page_url), idx + 2))
    elif kind == "next":
        nxt = root.select_one(cfg["pagination_selector"])
        if nxt is not None and nxt.get("href"):
            next_pages.append((canonicalize_one(nxt.get("href"), page_url), None))
    elif kind == "all":
        # F2: collect every pager link at once (hrefs present for all)
        for a in root.select(cfg["pagination_selector"]):
            href, txt = a.get("href"), a.get_text().strip()
            if href and txt.isdigit():
                next_pages.append((canonicalize_one(href, page_url), int(txt)))
    elif kind == "computed":
        # F3: the pager may be truncated (1 2 3 … N) with most entries
        # unlinked — read the LAST page number (italy/__init__.py:46-49
        # takes li_page_list[-2]) and synthesize every page URL from the
        # current page's url pattern, range(1, n+1)
        # (update_pagination, :51-55) or reversed
        # (update_pagination_backwards, :63-95).
        nums = [
            int(a.get_text().strip())
            for a in root.select(cfg["pagination_selector"])
            if a.get_text().strip().isdigit()
        ]
        if nums:
            n_pages = max(nums)
            rng = (
                range(n_pages, 0, -1)
                if cfg.get("computed_reverse")
                else range(1, n_pages + 1)
            )
            for num in rng:
                next_pages.append(
                    (_PAGE_PARAM_RE.sub(rf"\g<1>{num}", page_url), num)
                )
    return {"items": items, "next_pages": next_pages}


DEFAULT_DEPTH2_FILTER = r"\.pdf$|finlex"  # pygdpr/models/dpa/finland/__init__.py:113-199


def parse_docpage(authority: str, page_url: str, html_text: str) -> dict:
    """Parse a depth-1 document page -> extracted text + depth-2 links.

    Text = bs4-style ``get_text()`` of the per-authority body container
    with the reference's lstrip/strip variant (X2 citations).

    Depth-2 file links obey the per-authority href filter
    (cfg["depth2_href_filter"], e.g. czech 'File.ashx' —
    czech_republic/__init__.py:195).  EDPB's alert redirect
    (edpb/__init__.py:293-307) takes precedence over the direct pdf
    link: when div.alert is present its target — an html page holding
    the real pdf link — becomes the (sole) depth-2 child.

    This is the crawl's hot path (one call per document page), so it
    runs on the single-pass streaming scanner (htmlparse.stream_extract)
    instead of building a DOM; :func:`parse_docpage_dom` is the
    tree-based twin the parity tests compare against.
    """
    cfg = cfg_of(authority)
    if cfg.get("docpage_title_selector"):
        # post-fetch-keyed profile (slovenia): the DOM twin also
        # extracts the title, so delegate — these docpages are rare
        # relative to the streaming hot path
        return parse_docpage_dom(authority, page_url, html_text)
    link_sels: list[str] = []
    alert_idx = d2_idx = None
    if cfg.get("alert_selector"):
        alert_idx = len(link_sels)
        link_sels.append(cfg["alert_selector"])
    if cfg["depth2_selector"]:
        d2_idx = len(link_sels)
        link_sels.append(cfg["depth2_selector"])
    text, hrefs = stream_extract(html_text, cfg["body_selector"], tuple(link_sels))
    if text is None:
        # body selector missed: the reference's get_text() fallback over
        # the whole page (rare; austria annual-report fallback chain)
        text = parse_html(html_text).get_text()
    if cfg["body_strip"] == "strip":
        text = text.strip()
    elif cfg["body_strip"] == "lstrip":
        text = text.lstrip()
    if alert_idx is not None and hrefs[alert_idx] and hrefs[alert_idx][0]:
        return {
            "text": text,
            "file_links": [canonicalize_one(hrefs[alert_idx][0], page_url)],
        }
    file_links: list[str] = []
    if d2_idx is not None:
        flt = cfg.get("depth2_href_filter", DEFAULT_DEPTH2_FILTER)
        for href in hrefs[d2_idx]:
            if href and re.search(flt, href):
                file_links.append(canonicalize_one(href, page_url))
    return {"text": text, "file_links": file_links}


def parse_docpage_dom(authority: str, page_url: str, html_text: str) -> dict:
    """Tree-based twin of :func:`parse_docpage` (mini-DOM select +
    get_text) — kept as the semantic reference the streaming scanner is
    byte-compared against in tests/test_htmlparse.py."""
    cfg = cfg_of(authority)
    root = parse_html(html_text)
    body = root.select_one(cfg["body_selector"])
    text = body.get_text() if body is not None else root.get_text()
    if cfg["body_strip"] == "strip":
        text = text.strip()
    elif cfg["body_strip"] == "lstrip":
        text = text.lstrip()
    tsel = cfg.get("docpage_title_selector")
    if tsel:
        # slovenia: the title lives on the docpage (slovenia:179-185)
        t_el = root.select_one(tsel)
        return {
            "text": text,
            "file_links": [],
            "title": t_el.get_text() if t_el is not None else None,
        }
    file_links: list[str] = []
    alert_sel = cfg.get("alert_selector")
    if alert_sel:
        alert_a = root.select_one(alert_sel)
        if alert_a is not None and alert_a.get("href"):
            return {
                "text": text,
                "file_links": [canonicalize_one(alert_a.get("href"), page_url)],
            }
    if cfg["depth2_selector"]:
        flt = cfg.get("depth2_href_filter", DEFAULT_DEPTH2_FILTER)
        for a in root.select(cfg["depth2_selector"]):
            href = a.get("href")
            if href and re.search(flt, href):
                file_links.append(canonicalize_one(href, page_url))
    return {"text": text, "file_links": file_links}


def parse_redirect(authority: str, page_url: str, html_text: str) -> str | None:
    """EDPB alert page -> the final pdf URL (edpb/__init__.py:309-340):
    the redirect page's article holds the download link."""
    cfg = cfg_of(authority)
    sel = cfg.get("redirect_selector")
    if not sel:
        return None
    _, hrefs = stream_extract(html_text, None, (sel,))
    if not hrefs[0] or not hrefs[0][0]:
        return None
    return canonicalize_one(hrefs[0][0], page_url)


def looks_like_html(content: bytes) -> bool:
    """Deterministic html-vs-binary gate for depth-2 redirect pages."""
    head = content[:256].lstrip()
    return head.startswith(b"<!") or head.startswith(b"<html")


# -- file decoders (X3-X6) ---------------------------------------------------


def ocr_pdf(content: bytes) -> str:
    """X3 lazy-expensive branch: OCR for scanned pdfs whose text layer is
    empty (pygdpr/services/pdf_to_text_service.py:26-60 — pdf2image +
    pytesseract, page by page).  Only entered when the cheap text
    extraction came back empty, mirroring the reference's structure.
    The import-try slot still prefers the real libraries (full-fidelity
    OCR on a real cluster image); in-sandbox the deterministic bitmap
    glyph matcher (:mod:`crawler_spark.ocr`) reads the raster back, so
    the empty-text-layer -> OCR dispatch runs end-to-end instead of
    stubbing out (round-4 VERDICT next #6)."""
    try:  # pragma: no cover — OCR libs absent in this sandbox
        import pdf2image  # noqa: F401
        import pytesseract  # noqa: F401

        raise NotImplementedError("wire pdf2image+pytesseract here on a full image")
    except ImportError:
        from .ocr import ocr_scanned_pdf

        return ocr_scanned_pdf(content)


def decode_pdf(content: bytes) -> str:
    """X3: pdfminer -> OCR fallback when the text layer is empty
    (pygdpr/services/pdf_to_text_service.py:26-60,83-88).  Here:
    import-try pdfminer first (full fidelity on a real cluster image),
    else the stdlib minimal reader in :mod:`crawler_spark.pdfcodec`
    (xref walk, Flate streams, Tj/TJ/T* text operators — the real-PDF
    subset the fixtures carry).  The reference strips the extracted text
    (pdf_to_text_service.py:85) and an empty result falls through to
    :func:`ocr_pdf` exactly as its lines 86-88 do."""
    text = None
    try:  # pragma: no cover
        from pdfminer.high_level import extract_text as _pdf_extract

        text = _pdf_extract(io.BytesIO(content))
    except ImportError:
        pass
    if text is None:
        if content.startswith(b"%PDF-"):
            from .pdfcodec import decode_pdf_min

            text = decode_pdf_min(content)
        else:
            raise NotImplementedError(
                "not a PDF (and pdfminer absent for exotic containers)"
            )
    if not text.strip():
        return ocr_pdf(content)  # scanned pdf: no text layer
    return text.strip()


def decode_docx(content: bytes) -> str:
    """X4: docx text extraction
    (pygdpr/models/dpa/united_kingdom/__init__.py:468-486 uses
    docx2txt).  A .docx is a zip whose ``word/document.xml`` holds the
    text, so the real decode needs only stdlib zipfile + ElementTree:
    paragraphs (``w:p``) joined with newlines, runs (``w:t``)
    concatenated — the same text docx2txt yields for plain documents.
    """
    import xml.etree.ElementTree as ET

    W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
    try:
        with zipfile.ZipFile(io.BytesIO(content)) as z:
            xml_bytes = z.read("word/document.xml")
    except (zipfile.BadZipFile, KeyError) as e:
        raise NotImplementedError(f"not a decodable docx: {e}")
    root = ET.fromstring(xml_bytes)
    paras = []
    for p in root.iter(f"{W}p"):
        paras.append("".join(t.text or "" for t in p.iter(f"{W}t")))
    return "\n".join(paras)


def decode_rtf(content: bytes) -> str:
    """X5: RTF text extraction (the reference uses striprtf,
    pygdpr/models/dpa/france/__init__.py:16).  Small real parser over
    the RTF grammar subset legal documents use: destination groups
    (fonttbl/colortbl/stylesheet/info/pict + ``\\*`` destinations) are
    dropped whole, ``\\par``/``\\line`` become newlines, other control
    words are stripped, escaped braces and ``\\'hh`` hex escapes are
    decoded, group braces vanish."""
    s = content.decode("latin-1", errors="replace")
    if not s.lstrip().startswith("{\\rtf"):
        raise NotImplementedError("not an RTF payload")
    out: list[str] = []
    skip_depth = 0  # inside a dropped destination group
    depth = 0
    i, n = 0, len(s)
    DROP = ("fonttbl", "colortbl", "stylesheet", "info", "pict", "themedata")
    while i < n:
        c = s[i]
        if c == "{":
            depth += 1
            # look ahead: {\* or {\destination -> drop the whole group
            m = re.match(r"\{\\\*?\\?([a-z]+)", s[i:])
            if skip_depth == 0 and (
                s.startswith("{\\*", i) or (m and m.group(1) in DROP)
            ):
                skip_depth = depth
            i += 1
        elif c == "}":
            if skip_depth and depth == skip_depth:
                skip_depth = 0
            depth -= 1
            i += 1
        elif c == "\\":
            if i + 1 < n and s[i + 1] in "\\{}":
                if not skip_depth:
                    out.append(s[i + 1])
                i += 2
            elif s.startswith("\\'", i) and i + 3 < n:
                if not skip_depth:
                    out.append(bytes([int(s[i + 2 : i + 4], 16)]).decode("latin-1"))
                i += 4
            else:
                m = re.match(r"\\([a-z]+)(-?\d+)? ?", s[i:])
                if m:
                    if not skip_depth and m.group(1) in ("par", "line"):
                        out.append("\n")
                    i += m.end()
                else:
                    i += 1  # lone control symbol
        else:
            if not skip_depth:
                out.append(c)
            i += 1
    return "".join(out).strip()


def decode_zip(content: bytes) -> str:
    """X6: Belgium zip-of-html explode
    (pygdpr/models/dpa/belgium/__init__.py:655-661) — real zipfile, member
    texts joined in name order."""
    out = []
    with zipfile.ZipFile(io.BytesIO(content)) as z:
        for name in sorted(z.namelist()):
            out.append(parse_html(z.read(name).decode("utf-8")).get_text())
    return "\n".join(out)


def decode_file(url: str, content: bytes) -> str:
    if url.endswith(".pdf"):
        return decode_pdf(content)
    if url.endswith(".docx"):
        return decode_docx(content)
    if url.endswith(".rtf"):
        return decode_rtf(content)
    if url.endswith(".zip"):
        return decode_zip(content)
    return decode_pdf(content)  # finlex-style extensionless file links


# ---------------------------------------------------------------------------
# seq arithmetic — the deterministic crawl-order key (SURVEY.md §4.3)
# ---------------------------------------------------------------------------
# seq = ((seed_idx << PAGE_BITS | page) << ITEM_BITS | item) << LINK_BITS | link
# Pure function of parent seq + child index -> replayable, independent of
# partitioning and round boundaries (never monotonically_increasing_id).

LINK_BITS, ITEM_BITS, PAGE_BITS = 6, 12, 14
MAX_LINK, MAX_ITEM, MAX_PAGE = (1 << LINK_BITS) - 1, (1 << ITEM_BITS) - 1, (1 << PAGE_BITS) - 1


def seq_seed(seed_idx: int, page_no: int = 1) -> int:
    assert 0 <= page_no <= MAX_PAGE
    return (((seed_idx << PAGE_BITS) | page_no) << ITEM_BITS) << LINK_BITS


def seq_child_page(parent_seq: int, page_no: int | None) -> int:
    """Next/explicit listing page: bump or set the page field."""
    base = parent_seq >> (ITEM_BITS + LINK_BITS)
    seed_idx, cur_page = base >> PAGE_BITS, base & MAX_PAGE
    new_page = cur_page + 1 if page_no is None else page_no
    assert new_page <= MAX_PAGE
    return seq_seed(seed_idx, new_page)


def seq_child_item(parent_seq: int, item_idx: int) -> int:
    assert 1 <= item_idx <= MAX_ITEM
    return parent_seq | (item_idx << LINK_BITS)


def seq_child_link(parent_seq: int, link_idx: int) -> int:
    assert 1 <= link_idx <= MAX_LINK
    return parent_seq | link_idx


# ---------------------------------------------------------------------------
# the Spark stage: one mapInArrow over (frontier ⋈ pages) rows
# ---------------------------------------------------------------------------

EXTRACT_OUT = T.StructType(
    [
        T.StructField("out_kind", T.StringType(), False),  # child|doc|log
        T.StructField("url", T.StringType(), False),
        T.StructField("parent_url", T.StringType(), True),
        T.StructField("authority", T.StringType(), False),
        T.StructField("doc_type", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("release_date", T.DateType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        # final/raw doc keys riding along from the frontier row (decided
        # at admission time; null on depth-0/child rows)
        T.StructField("doc_hash", T.StringType(), True),
        T.StructField("raw_hash", T.StringType(), True),
    ]
)


def _binary_accessor(arr):
    """Per-row zero-copy accessor for an Arrow Binary(View-less) array:
    returns memoryview slices of the batch's data buffer (no per-row
    bytes materialization — the round-5 bytes-per-page cut: html never
    becomes a Python bytes object unless a binary decoder needs it).
    Falls back to ``to_pylist`` for exotic layouts."""
    import numpy as np
    import pyarrow as pa

    n = len(arr)
    try:
        if pa.types.is_large_binary(arr.type):
            odt = np.int64
        elif pa.types.is_binary(arr.type):
            odt = np.int32
        else:
            raise TypeError
        bufs = arr.buffers()
        offs = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + n + 1]
        data = memoryview(bufs[2])
        if arr.null_count == 0:
            return lambda i: data[offs[i] : offs[i + 1]]
        null = np.asarray(arr.is_null())
        return lambda i: None if null[i] else data[offs[i] : offs[i + 1]]
    except (TypeError, IndexError):  # pragma: no cover - layout fallback
        vals = arr.to_pylist()
        return lambda i: vals[i]


def make_fetch_extract(as_of: date, store_content: bool = True):
    """Build the **mapInArrow** function for one crawl round.

    Input rows: scheduled frontier rows already joined to ``pages`` (so
    ``html`` comes straight off the pages scan — it is never shuffled;
    the join key is the url).  Emits 'child' rows (frontier expansion,
    seq pre-assigned by the pure arithmetic above), 'doc' rows (extracted
    documents) and 'log' rows (misses) — one pass over html (SURVEY.md
    §4.4).

    Round-5 rewrite (round-4 VERDICT next #1): the stage consumes raw
    ``pyarrow.RecordBatch``es instead of pandas frames.  The html
    payload is accessed as zero-copy memoryview slices of the Arrow
    data buffer (the old Arrow→pandas conversion materialized every
    page as a Python bytes object first), the utf-8 decode happens
    once straight off the view, and output batches are built
    column-wise with ``pa.array`` (the old path built a list of dicts
    and a pandas frame per flush, paying block consolidation plus a
    second pandas→Arrow conversion in the serializer).  Net effect:
    two fewer full copies of every page plus the per-row object churn,
    which is exactly the memory traffic the N→4N stage-scaling probe
    is bound by.

    ``store_content=False`` emits ``content=None`` *inside* the UDF so
    the payload bytes never cross the Python→JVM Arrow boundary at all
    (by-reference document layout: raw bytes stay addressable in the
    pages table by url).
    """
    import pyarrow as pa

    out_schema = pa.schema(
        [
            pa.field("out_kind", pa.string()),
            pa.field("url", pa.string()),
            pa.field("parent_url", pa.string()),
            pa.field("authority", pa.string()),
            pa.field("doc_type", pa.string()),
            pa.field("depth", pa.int32()),
            pa.field("priority", pa.int32()),
            pa.field("seq", pa.int64()),
            pa.field("title", pa.string()),
            pa.field("release_date", pa.date32()),
            pa.field("text", pa.string()),
            pa.field("content", pa.binary()),
            pa.field("lang", pa.string()),
            pa.field("status", pa.string()),
            pa.field("doc_hash", pa.string()),
            pa.field("raw_hash", pa.string()),
        ]
    )
    FLUSH_ROWS = 512  # bound worker memory: stream output, don't batch it

    def fetch_extract(batches) -> "Iterator[pa.RecordBatch]":
        # one list per output column, appended in lockstep (columnar
        # from the start: no row dicts, no pandas frame)
        o_kind: list = []
        o_url: list = []
        o_purl: list = []
        o_auth: list = []
        o_dt: list = []
        o_depth: list = []
        o_prio: list = []
        o_seq: list = []
        o_title: list = []
        o_rdate: list = []
        o_text: list = []
        o_content: list = []
        o_lang: list = []
        o_status: list = []
        o_dhash: list = []
        o_rhash: list = []
        outs = (
            o_kind, o_url, o_purl, o_auth, o_dt, o_depth, o_prio, o_seq,
            o_title, o_rdate, o_text, o_content, o_lang, o_status,
            o_dhash, o_rhash,
        )

        def batch() -> pa.RecordBatch:
            rb = pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(outs, out_schema)],
                schema=out_schema,
            )
            for c in outs:
                c.clear()
            return rb

        for rb_in in batches:
            idx = {n: i for i, n in enumerate(rb_in.schema.names)}
            n = rb_in.num_rows
            if n == 0:
                continue
            urls = rb_in.column(idx["url"]).to_pylist()
            auths = rb_in.column(idx["authority"]).to_pylist()
            doc_types = rb_in.column(idx["doc_type"]).to_pylist()
            depths = rb_in.column(idx["depth"]).to_pylist()
            prios = rb_in.column(idx["priority"]).to_pylist()
            seqs = rb_in.column(idx["seq"]).to_pylist()
            titles = rb_in.column(idx["title"]).to_pylist()
            rdates = rb_in.column(idx["release_date"]).to_pylist()
            langs = rb_in.column(idx["lang"]).to_pylist()
            dhashes = (
                rb_in.column(idx["doc_hash"]).to_pylist()
                if "doc_hash" in idx
                else [None] * n
            )
            rhashes = (
                rb_in.column(idx["raw_hash"]).to_pylist()
                if "raw_hash" in idx
                else [None] * n
            )
            html_at = _binary_accessor(rb_in.column(idx["html"]))

            for r in range(n):
                if len(o_kind) >= FLUSH_ROWS:
                    yield batch()
                url, auth = urls[r], auths[r]
                depth, seq = depths[r], seqs[r]

                def emit(
                    kind,
                    u,
                    d,
                    s,
                    title=None,
                    rdate=None,
                    text=None,
                    content=None,
                    status="ok",
                ):
                    o_kind.append(kind)
                    o_url.append(u)
                    o_purl.append(url)
                    o_auth.append(auth)
                    o_dt.append(doc_types[r])
                    o_depth.append(d)
                    o_prio.append(prios[r])
                    o_seq.append(s)
                    o_title.append(title)
                    o_rdate.append(rdate)
                    o_text.append(text)
                    o_content.append(content)
                    o_lang.append(langs[r])
                    o_status.append(status)
                    o_dhash.append(dhashes[r])
                    o_rhash.append(rhashes[r])

                mem = html_at(r)
                if mem is None:  # P7: swallowed HTTP miss
                    emit("log", url, depth, seq, status="miss")
                    continue
                if depth == 0:
                    # post-fetch-keyed profiles (slovenia): the listing
                    # has no usable title — children carry title=None
                    # and are admitted by URL; X1 keying happens after
                    # the docpage fetch (slovenia/__init__.py:179-189)
                    tdp = bool(cfg_of(auth).get("title_at_docpage"))
                    parsed = parse_listing(auth, url, str(mem, "utf-8"))
                    for href, page_no in parsed["next_pages"]:
                        emit("child", href, 0, seq_child_page(seq, page_no))
                    for i, (title, date_str, href) in enumerate(
                        parsed["items"], start=1
                    ):
                        d = parse_date_str(auth, date_str)
                        if not retained(auth, d, as_of):
                            continue  # P1/P2 before any fetch (§4 pushdown)
                        emit(
                            "child",
                            href,
                            1,
                            seq_child_item(seq, i),
                            title=None if tdp else title,
                            rdate=d,
                        )
                    emit("log", url, 0, seq)
                elif depth == 1 and cfg_of(auth).get("doc_is_file"):
                    # UK / belgium: the depth-1 target IS the binary
                    # document (united_kingdom/__init__.py:135-145,
                    # belgium/__init__.py:604-661) — decode, no docpage hop
                    html_bytes = bytes(mem)
                    try:
                        text = decode_file(url, html_bytes)
                        status = "ok"
                    except NotImplementedError:
                        text, status = None, "decode_unsupported"
                    emit(
                        "doc" if status == "ok" else "log",
                        url,
                        1,
                        seq,
                        title=titles[r],
                        rdate=rdates[r],
                        text=text,
                        content=html_bytes if store_content else None,
                        status=status,
                    )
                elif depth == 1:
                    parsed = parse_docpage(auth, url, str(mem, "utf-8"))
                    for j, href in enumerate(parsed["file_links"], start=1):
                        emit(
                            "child",
                            href,
                            2,
                            seq_child_link(seq, j),
                            title=titles[r],
                            rdate=rdates[r],
                        )
                    if not parsed["file_links"]:
                        # post-fetch-keyed profiles surface the
                        # docpage-extracted title here; doc_hash stays
                        # null and rounds.py keys + admits these rows
                        # after the fetch
                        emit(
                            "doc",
                            url,
                            1,
                            seq,
                            title=parsed.get("title", titles[r]),
                            rdate=rdates[r],
                            text=parsed["text"],
                            content=bytes(mem) if store_content else None,
                        )
                    else:
                        # marker: docpage fetched OK but its payload lives
                        # in depth-2 files — the seen-set registers the
                        # key at this point (fixtures.sequential_oracle)
                        emit(
                            "log",
                            url,
                            1,
                            seq,
                            title=titles[r],
                            rdate=rdates[r],
                        )
                elif (
                    depth == 2
                    and cfg_of(auth).get("redirect_selector")
                    and looks_like_html(bytes(mem[:256]))
                ):
                    # EDPB alert redirect hop (edpb/__init__.py:309-340):
                    # the depth-2 page is html holding the real pdf link;
                    # emit a depth-3 child carrying the parent's seq
                    # (1:1 redirect keeps the crawl-order key unique)
                    target = parse_redirect(auth, url, str(mem, "utf-8"))
                    if target:
                        emit(
                            "child",
                            target,
                            3,
                            seq,
                            title=titles[r],
                            rdate=rdates[r],
                        )
                    emit(
                        "log",
                        url,
                        2,
                        seq,
                        title=titles[r],
                        rdate=rdates[r],
                        status="ok" if target else "redirect_parse_failed",
                    )
                else:  # depth >= 2: binary file
                    html_bytes = bytes(mem)
                    try:
                        text = decode_file(url, html_bytes)
                        status = "ok"
                    except NotImplementedError:
                        text, status = None, "decode_unsupported"
                    emit(
                        "doc" if status == "ok" else "log",
                        url,
                        depth,
                        seq,
                        title=titles[r],
                        rdate=rdates[r],
                        text=text,
                        content=html_bytes if store_content else None,
                        status=status,
                    )
        if o_kind:
            yield batch()

    return fetch_extract
