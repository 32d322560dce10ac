"""Deterministic crawl fixtures + the sequential reference-order oracle.

Generates the ``pages`` / ``seeds`` / ``robots`` tables (FIXTURES.md §1-3)
entirely from ``seed=42`` — no network, no external data — with a Zipfian
host layout: one host per authority plus one **hot shared CDN host** that
serves every authority's depth-2 files (the skew case salted partitions +
token buckets must survive, SURVEY.md §4.1).

``sequential_oracle`` is a plain-Python reimplementation of the
reference's loop order — ``Pagination`` cursor semantics
(``pygdpr/models/common/pagination/__init__.py:24-30``), per-item
retention -> md5-title key -> seen skip -> fetch -> extract
(``pygdpr/models/dpa/austria/__init__.py:72-153``) — run over the same
fixtures.  It produces the golden seen-set, golden crawl order (seq ->
url) and golden per-url text that tests/test_e2e_crawl.py asserts the
distributed engine reproduces exactly.

Documented divergences from the reference (intentional, SURVEY.md §7.3):
- duplicate-title disambiguation suffix uses ISO dates (deterministic)
  instead of the page's raw date string;
- robots.txt gating exists (north_rule; absent in the reference) and the
  oracle honors it identically.
"""

from __future__ import annotations

import hashlib
import os
from datetime import date, datetime, timedelta, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import extract as X

AS_OF = date(2024, 1, 15)  # frozen 'today' for the retention window (P1)
# bump when fixture layout changes: fixture_dir() regenerates cached dirs
# whose marker carries a different version
FIXTURE_VERSION = "v11"  # v11: 4-way pdf rotation (incl RC4/AESV2) in sf* only
CDN_HOST = "cdn.example.eu"
HOSTS = {
    "austria": "www.dsb.gv.at",
    "ireland": "www.dataprotection.ie",
    "denmark": "www.datatilsynet.dk",
    "finland": "tietosuoja.fi",
    "italy": "www.garanteprivacy.it",
    "italy_news": "www.garanteprivacy.it",  # reverse-pagination feed, same DPA
    "romania": "www.dataprotection.ro",
    "croatia": "azop.hr",
    "united_kingdom": "ico.org.uk",
    "belgium": "www.autoriteprotectiondonnees.be",
    "edpb": "edpb.europa.eu",
    "czech_republic": "www.uoou.cz",
    "cyprus": "www.dataprotection.gov.cy",
    "latvia": "www.dvi.gov.lv",
    "lithuania": "vdai.lrv.lt",
    "sweden": "www.imy.se",
    "poland": "uodo.gov.pl",
    "france": "www.cnil.fr",
    "spain": "www.aepd.es",
    "slovakia": "dataprotection.gov.sk",
    "greece": "www.dpa.gr",
    "hungary": "www.naih.hu",
    "malta": "idpc.org.mt",
    "estonia": "www.aki.ee",
    "luxembourg": "cnpd.public.lu",
    "netherlands": "autoriteitpersoonsgegevens.nl",
    "portugal": "www.cnpd.pt",
    "bulgaria": "www.cpdp.bg",
    "slovenia": "www.ip-rs.si",
}

BASE_AUTHORITIES = (
    "austria", "ireland", "denmark", "finland", "italy", "italy_news",
    "romania", "croatia", "united_kingdom", "belgium", "edpb",
    "czech_republic", "cyprus", "latvia", "lithuania", "sweden", "poland",
    "france", "spain", "slovakia", "greece", "hungary", "malta",
    "estonia", "luxembourg", "netherlands", "portugal", "bulgaria",
    "slovenia",
)


def base_auth(a: str) -> str:
    """Resolve wide-profile clone names (austria_7 -> austria)."""
    if a in X.REGISTRY:
        return a
    head, _, tail = a.rpartition("_")
    return head if tail.isdigit() and head in X.REGISTRY else a


def host_for(a: str) -> str:
    """Host of an authority; clone authorities get their own host so the
    wide bench frontier is genuinely multi-host (one chain per host)."""
    h = HOSTS.get(a)
    return h if h else f"www.{a.replace('_', '-')}.example.eu"


def wide_authorities(width: int) -> tuple[str, ...]:
    """width clones of each of the 5 original authority shapes -> 5*width
    crawl chains (kept at 5 so bench numbers stay comparable across
    rounds; the full 29-shape coverage runs through the sf profiles)."""
    base = ("austria", "ireland", "denmark", "finland", "italy")
    return tuple(f"{a}_{i}" for i in range(width) for a in base)


def wide_all_authorities(width: int) -> tuple[str, ...]:
    """width clones of ALL 29 registry shapes -> 29*width crawl chains.
    The round-4 wide bench fixture (VERDICT next #3): exercises every
    DOM shape, pagination style, and decode path (docx/zip/rtf/pdf) at
    bench scale, so profile-specific perf pathologies show up as a
    per-page cost gap vs the 5-shape wide profile."""
    return tuple(f"{a}_{i}" for i in range(width) for a in BASE_AUTHORITIES)


_BOILER_HEAD = (
    "<html><head><title>{t}</title></head><body>"
    "<nav>Home | About | Contact</nav>"
)
_BOILER_FOOT = "<footer>(c) 2024 Example DPA</footer></body></html>"


def _para_text(authority: str, p: int, i: int, pad_lines: int = 0) -> str:
    h = hashlib.md5(f"{authority}/{p}/{i}".encode()).hexdigest()
    lines = [
        f"Decision {p}-{i} of the {authority} supervisory authority.",
        f"The controller processed personal data unlawfully (case {h[:8]}).",
        "  Article 5(1)(a) and Article 6 GDPR were infringed.",
        f"A fine of EUR {int(h[:6], 16) % 900000 + 1000} was imposed.",
    ]
    # pad_lines grows the document body deterministically (scale profiles:
    # realistic 10-20 KB decision pages instead of 0.4 KB toys)
    for j in range(pad_lines):
        lines.append(
            f"Paragraph {j}: the supervisory authority considered finding "
            f"{h[j % 24 : j % 24 + 8]} in conjunction with recital {j % 173} "
            "of the GDPR and the controller's submissions thereon."
        )
    return "\n".join(lines)


def _doc_date(authority: str, p: int, i: int) -> date:
    """Deterministic dates, some pre-2018 so retention filters bite."""
    n = int(hashlib.md5(f"d/{authority}/{p}/{i}".encode()).hexdigest()[:8], 16)
    return date(2016, 1, 1) + timedelta(days=n % 2800)  # 2016..2023


def _fmt(authority: str, d: date) -> str:
    cfg = X.cfg_of(authority)
    fmt = cfg["date_format"]
    if fmt.startswith("ordinal "):
        day = d.day
        sfx = "th" if 11 <= day % 100 <= 13 else {1: "st", 2: "nd", 3: "rd"}.get(day % 10, "th")
        return f"{day}{sfx} {d.strftime('%B %Y')}"
    if fmt.startswith("locale"):
        months = X.LOCALE_MONTHS[cfg["lang"]]
        # substitute the month name, then strftime the remaining fields
        # ("%d. %B %Y." -> "26. listopada 2021."; the locale_ymd
        # year-first form covers hungary: "%Y. %B %d." -> "2021. január 5.")
        pat = fmt.split(" ", 1)[1]
        return d.strftime(
            pat.replace("%B", months[d.month - 1]).replace("%d", str(d.day))
        )
    return d.strftime(fmt)


def _title(authority: str, p: int, i: int) -> str:
    # denmark gets deliberate duplicate titles to hit the hash+'-'+date /
    # same-date-skip rules (pygdpr/models/dpa/denmark/__init__.py:135-140)
    if authority.startswith("denmark") and i >= 3:
        return f"Afgørelse om klage nr {i % 3}"
    b = base_auth(authority)
    if b == "estonia":
        # the DATE lives in the title before 'nr' (estonia:88-99)
        d = _doc_date(authority, p, i)
        return f"Ettekirjutus {d.strftime('%d.%m.%Y')} nr {p}-{i}"
    if b == "portugal":
        # the title's last 4 chars are the year (portugal:115-120)
        return f"Deliberacao {p}-{i} {_doc_date(authority, p, i).year}"
    return f"{authority.title()} decision {p}-{i}"


def list_url(a: str, k: int) -> str:
    return f"https://{host_for(a)}/{a}/list?page={k}"


def doc_url(a: str, p: int, i: int) -> str:
    priv = "private/" if (a == "finland" and i % 7 == 0) else "docs/"
    return f"https://{host_for(a)}/{a}/{priv}{p}-{i}.html"


def file_url(a: str, p: int, i: int, j: int) -> str:
    return f"https://{CDN_HOST}/files/{a}/{p}-{i}-{j}.pdf"


def uk_file_url(a: str, p: int, i: int) -> str:
    """UK item target: the binary document itself (pdf / docx notices),
    with an occasional non-gated .html hit the P6 gate must skip."""
    ext = (
        ".docx"
        if (i % 5 == 0 or i == 2)  # i==2 keeps one docx in tiny fixtures
        else (".html" if i % 6 == 3 else ".pdf")
    )
    return f"https://{host_for(a)}/media/{a}/{p}-{i}{ext}"


def be_file_url(a: str, p: int, i: int) -> str:
    """Belgium annual-report href: layout satisfies the reference's
    title = href[-23:-4] and year = href[-8:-4] slices."""
    year = _doc_date(a, p, i).year
    h8 = hashlib.md5(f"be/{a}/{p}/{i}".encode()).hexdigest()[:8]
    ext = ".zip" if i % 4 == 0 else ".pdf"
    return f"https://{host_for(a)}/publications/rep-{h8}-{p}{i:02d}-{year}{ext}"


def edpb_alert_url(a: str, p: int, i: int) -> str:
    return f"https://{host_for(a)}/{a}/alert/{p}-{i}.html"


def edpb_pdf_url(a: str, p: int, i: int) -> str:
    return f"https://{host_for(a)}/{a}/files/{p}-{i}.pdf"


def cz_file_url(a: str, p: int, i: int, j: int) -> str:
    return f"https://{host_for(a)}/media/File.ashx?id={a}-{p}-{i}-{j}"


def lv_file_url(a: str, p: int, i: int) -> str:
    return f"https://{host_for(a)}/media/{a}/dec-{p}-{i}.pdf"


def lt_file_url(a: str, p: int, i: int, j: int) -> str:
    return f"https://{host_for(a)}/uploads/{a}/{p}-{i}-{j}.pdf"


def lt_links(a: str, p: int, i: int) -> list[tuple[str, str]]:
    """(title, url) links of lithuania's i-th paragraph: 1-2 pdf links;
    every 3rd title has NO trailing date (year-header fallback)."""
    out = []
    for j in range(1, (i % 2) + 2):
        d = _doc_date(a, p, i + j)
        if (i + j) % 3 == 0:
            title = f"Sprendimas Nr {p}-{i}-{j}"
        else:
            title = f"Sprendimas Nr {p}-{i}-{j} {d.isoformat()}"
        out.append((title, lt_file_url(a, p, i, j)))
    return out


def fr_file_url(a: str, p: int, i: int) -> str:
    """france: the item target IS the .rtf deliberation (X5 e2e path)."""
    return f"https://{host_for(a)}/files/deliberation-{p}-{i}.rtf"


def es_file_url(a: str, p: int, i: int) -> str:
    """spain: pdf item target; every 6th is a non-gated .html decoy."""
    ext = ".html" if i % 6 == 3 else ".pdf"
    return f"https://{host_for(a)}/docs/res-{p}-{i}{ext}"


def sk_file_url(a: str, p: int, i: int, j: int) -> str:
    ext = ".docx" if (i + j) % 3 == 0 else ".pdf"
    return f"https://{host_for(a)}/files/sk-{p}-{i}-{j}{ext}"


def gr_file_url(a: str, p: int, i: int) -> str:
    return f"https://{host_for(a)}/files/apofasi-{p}-{i}.pdf"


def hu_file_url(a: str, p: int, i: int) -> str:
    """hungary: extensionless phoca-download href fetched as pdf bytes
    (hungary/__init__.py:126-148)."""
    return f"https://{host_for(a)}/dokumentumok/hat-{p}-{i}"


def mt_file_href(a: str, p: int, i: int) -> str:
    """malta: relative href whose first 4 chars ('/en/') are stripped
    before joining the host (malta/__init__.py:129-132)."""
    return f"/en//files/guideline-{p}-{i}.pdf"


def mt_file_url(a: str, p: int, i: int) -> str:
    return f"https://{host_for(a)}" + mt_file_href(a, p, i)[4:]


def ee_file_url(a: str, p: int, i: int) -> str:
    return f"https://{host_for(a)}/files/ettekirjutus-{p}-{i}.pdf"


def lu_file_url(a: str, p: int, i: int, j: int) -> str:
    return f"https://{host_for(a)}/files/decision-{p}-{i}-{j}.pdf"


def pt_file_url(a: str, p: int, i: int) -> str:
    return f"https://{host_for(a)}/docs/del-{p}-{i}.pdf"


def bg_file_url(a: str, p: int, i: int) -> str:
    ext = ".html" if i % 5 == 2 else ".pdf"  # decoy exercises the gate
    return f"https://{host_for(a)}/files/resh-{p}-{i}{ext}"


def _make_rtf(text: str) -> bytes:
    """A real minimal RTF document: font-table destination group (must
    be dropped by the X5 parser), body lines separated by \\par."""
    body = "\\par ".join(text.split("\n"))
    return (
        "{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0 Times New Roman;}}"
        "{\\*\\generator fixture;}" + body + "}"
    ).encode("latin-1", errors="replace")


def _make_docx(text: str) -> bytes:
    """A real minimal .docx: zip with [Content_Types].xml and
    word/document.xml; newline-separated input becomes w:p paragraphs
    (what docx2txt and extract.decode_docx both read)."""
    import io
    import zipfile

    W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    paras = "".join(
        f"<w:p><w:r><w:t>{ln}</w:t></w:r></w:p>" for ln in text.split("\n")
    )
    doc = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{W}"><w:body>{paras}</w:body></w:document>'
    )
    types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", types)
        z.writestr("word/document.xml", doc)
    return buf.getvalue()


def _make_pdf(payload: str) -> bytes:
    """A REAL minimal PDF carrying ``payload`` — the document format
    most reference scrapers fetch (textract on .pdf).  Deterministically
    rotates (by payload crc) between the classic encoder (xref table,
    WinAnsi Type1 font), the PDF-1.5 encoder (object streams, xref stream, /ToUnicode
    CMap with a shifted byte encoding), and — in the correctness (sf*)
    profiles, where ``generate(encrypted_pdfs=True)`` arms the full
    rotation — the RC4-encrypted (standard security handler R3, empty
    user password) and AESV2-encrypted (V4/R4, AES-128-CBC crypt
    filter) encoders, so the sf byte-identity suites exercise ALL FOUR
    decoder paths.  Bench/wide/scale profiles keep the two cheap
    containers: the pure-Python ciphers cost ~2-15 ms/doc to decode
    (a measured 25 s serial bill over wide29_0.1's 9.4k PDFs), and
    decoder coverage is a correctness concern, not a throughput input —
    the same rule that keeps scanned PDFs out of bench fixtures.
    Round-trips exactly through extract.decode_pdf
    (tests/test_decoders.py)."""
    import zlib as _zlib

    from .pdfcodec import encode_pdf, encode_pdf15, encode_pdf_encrypted

    sel = _zlib.crc32(payload.encode("utf-8")) % (4 if _ENCRYPTED_PDFS else 2)
    if sel == 1:
        return encode_pdf15(payload)
    if sel == 2:
        return encode_pdf_encrypted(payload)
    if sel == 3:
        return encode_pdf_encrypted(payload, r=4)
    return encode_pdf(payload)


#: armed by generate(encrypted_pdfs=True) for the duration of one
#: single-threaded fixture generation (sf* correctness profiles)
_ENCRYPTED_PDFS = False


def _be_zip_bytes(a: str, p: int, i: int) -> bytes:
    """Real zip of html members (belgium/__init__.py:655-661 explode)."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for m in (1, 2):
            body = _para_text(a, p, i).replace("\n", " ")
            z.writestr(
                f"part{m}.html",
                f"<html><body><p>Rapport {m}: {body}</p></body></html>",
            )
    return buf.getvalue()


#: per-authority "all pages" pager markup: (wrapper, per-page link)
_ALL_PAGERS = {
    "ireland": ('<nav class="pager"><ul class="Pages">{links}</ul></nav>',
                '<li class="page-item"><a href="{href}">{j}</a></li>'),
    "spain": ('<nav class="pager"><ul class="pager__items">{links}</ul></nav>',
              '<li class="pager__item"><a href="{href}">{j}</a></li>'),
    "slovakia": ('<ul class="pager">{links}</ul>',
                 '<li class="pager-item"><a href="{href}">{j}</a></li>'),
    "luxembourg": ('<ol class="pagination">{links}</ol>',
                   '<li class="pagination-page"><a href="{href}">{j}</a></li>'),
    "netherlands": ('<div class="pager"><ul>{links}</ul></div>',
                    '<li class="pager-item"><a href="{href}">{j}</a></li>'),
    "portugal": ('<div class="c-pagination">{links}</div>',
                 '<a href="{href}">{j}</a>'),
    "bulgaria": ('<div class="pages">{links}</div>',
                 '<a href="{href}">{j}</a>'),
}

#: per-authority next-link pager markup (default = the shared ul.Pages)
_NEXT_PAGERS = {
    "france": ('<ul class="pager-load-more"><li class="pager-next">'
               '<a href="{href}">Load more</a></li></ul>'),
    "slovenia": ('<span class="advsea-next"><a href="{href}">Naprej</a></span>'),
    "hungary": ('<div class="sectiontablefooter"><ul><li class="pagination-next">'
                '<a class="hasTooltip pagenav" href="{href}">Next</a></li></ul></div>'),
    "greece": ('<ul class="pagination js-pager__items"><li><a href="#">1</a></li>'
               '<li class="next"><a href="{href}">&raquo;</a></li>'
               '<li><span>last</span></li></ul>'),
}
_DEFAULT_NEXT = (
    '<ul class="Pages"><li class="next"><a href="{href}">Next</a></li></ul>'
)


def _pager_html(a: str, k: int, n_pages: int) -> str:
    """Pager markup matching the authority's registry pagination kind."""
    cfg = X.cfg_of(a)
    b = base_auth(a)
    kind = cfg["pagination"]
    if kind == "next":
        if k >= n_pages:
            return ""
        tpl = _NEXT_PAGERS.get(b, _DEFAULT_NEXT)
        return tpl.format(href=list_url(a, k + 1))
    if kind == "all":
        wrapper, link = _ALL_PAGERS[b]
        links = "".join(
            link.format(href=list_url(a, j), j=j)
            for j in range(1, n_pages + 1)
            if j != k
        )
        return wrapper.format(links=links)
    if kind == "menu":
        # estonia: identical sidebar menu on every page (estonia:62-67)
        lis = "".join(
            f'<li><a href="{list_url(a, j)}">Menetlusotsused {j}</a></li>'
            for j in range(2, n_pages + 1)
        )
        return (
            f'<div class="region-sidebar-first-inner"><ul class="menu">{lis}'
            f"</ul></div>"
        )
    if kind == "computed":
        mid = "".join(
            f'<li class="page-item"><span>{j}</span></li>'
            for j in range(2, n_pages)
        )
        last = (
            f'<li class="page-item"><a href="{list_url(a, n_pages)}">{n_pages}</a></li>'
            if n_pages > 1
            else ""
        )
        return (
            f'<ul class="pagination"><li class="page-item">'
            f'<a href="{list_url(a, 1)}">1</a></li>{mid}{last}</ul>'
        )
    return ""  # kind == "none": single-page flow


def _listing_html(a: str, k: int, n_pages: int, n_items: int) -> str:
    cfg = X.cfg_of(a)
    b = base_auth(a)
    rows = []
    # listing shapes without per-item containers first
    if b == "romania":
        # flat <p> stream: date-p, title-p, (optional noise-p), link-p —
        # exercises the look-ahead scan (romania/__init__.py:91-98)
        ps = ["<p>Lista deciziilor emise</p>"]
        for i in range(1, n_items + 1):
            t, d, href = _title(a, k, i), _fmt(a, _doc_date(a, k, i)), doc_url(a, k, i)
            ps.append(f"<p>{d}</p>")
            ps.append(f"<p>{t}</p>")
            if i % 3 == 0:
                ps.append("<p>Detalii suplimentare</p>")
            ps.append(f'<p><a href="{href}">Descarca</a></p>')
        body = f'<div id="rectangle_scroll">{"".join(ps)}</div>'
        pager = _pager_html(a, k, n_pages)
        return _BOILER_HEAD.format(t=f"{a} listing {k}") + body + pager + _BOILER_FOOT
    if b == "malta":
        # p-stream with the title on the <p> and a relative href whose
        # first 4 chars are stripped (malta/__init__.py:96-133); one
        # link-less <p> and one non-pdf link exercise the skips
        ps = ["<p>Guidance notes issued by the Commissioner.</p>"]
        for i in range(1, n_items + 1):
            ps.append(
                f"<p>Guidance note {k}-{i} on processing "
                f'<a href="{mt_file_href(a, k, i)}">Download</a></p>'
            )
        ps.append(f'<p>See also <a href="/en//about/idpc.html">About us</a></p>')
        body = f'<div class="vce-text-block-wrapper">{"".join(ps)}</div>'
        return _BOILER_HEAD.format(t=f"{a} listing {k}") + body + _BOILER_FOOT
    if b == "estonia":
        # <p><a> rows, date embedded in the title before 'nr'
        # (estonia/__init__.py:78-99); menu links are the pagination
        ps = []
        for i in range(1, n_items + 1):
            ps.append(f'<p><a href="{ee_file_url(a, k, i)}">{_title(a, k, i)}</a></p>')
        ps.append("<p>Vaata ka teisi otsuseid.</p>")
        body = (
            f'<div class="region-content-inner"><div class="block-system">'
            f'<div class="field-item even">{"".join(ps)}</div></div></div>'
        )
        pager = _pager_html(a, k, n_pages)
        return _BOILER_HEAD.format(t=f"{a} listing {k}") + body + pager + _BOILER_FOOT
    if b == "bulgaria":
        # flat <a> stream gated to .pdf (bulgaria/__init__.py:164-166)
        links = "".join(
            f'<a href="{bg_file_url(a, k, i)}">{_title(a, k, i)}</a> '
            for i in range(1, n_items + 1)
        )
        links += f'<a href="https://{host_for(a)}/index.php?p=news">Новини</a>'
        body = f'<div class="center-part">{links}</div>'
        pager = _pager_html(a, k, n_pages)
        return _BOILER_HEAD.format(t=f"{a} listing {k}") + body + pager + _BOILER_FOOT
    if b == "belgium":
        links = "".join(
            f'<a href="{be_file_url(a, k, i)}">Jaarverslag {k}-{i}</a>'
            for i in range(1, n_items + 1)
        )
        # one non-file link the .pdf|.zip gate must skip (belgium:604)
        links += f'<a href="https://{host_for(a)}/{a}/about.html">Over ons</a>'
        body = f'<div class="expanded">{links}</div>'
        pager = _pager_html(a, k, n_pages)
        return _BOILER_HEAD.format(t=f"{a} listing {k}") + body + pager + _BOILER_FOOT
    if b == "lithuania":
        # rolling-year paragraph stream: a digit-only year <p>, then
        # content <p>s holding 1-2 pdf links each; one non-pdf decoy link
        ps = [f"<p>{2018 + k}</p>"]
        for i in range(1, n_items + 1):
            links = "".join(
                f'<a href="{url}">{t}</a> ' for t, url in lt_links(a, k, i)
            )
            ps.append(f"<p>{links}</p>")
        ps.append(
            f'<p><a href="https://{host_for(a)}/{a}/apie">Apie VDAI</a></p>'
        )
        body = f'<div class="content text">{"".join(ps)}</div>'
        pager = _pager_html(a, k, n_pages)
        return _BOILER_HEAD.format(t=f"{a} listing {k}") + body + pager + _BOILER_FOOT
    if b == "latvia":
        # year accordions -> header row + positional td rows; every 6th
        # row has no pdf link (the parser must skip it, latvia:120-124)
        by_year: dict[int, list[int]] = {}
        for i in range(1, n_items + 1):
            by_year.setdefault(_doc_date(a, k, i).year, []).append(i)
        accs = []
        for year in sorted(by_year):
            trs = ["<tr><td>Vaditajs</td><td>Lemums</td><td>Datums</td></tr>"]
            for i in by_year[year]:
                date_s = _fmt(a, _doc_date(a, k, i))
                pdf_cell = (
                    "<td>-</td>"
                    if i % 6 == 5
                    else f'<td><a href="{lv_file_url(a, k, i)}">PDF</a></td>'
                )
                trs.append(
                    f"<tr><td>Inspektors {k}-{i}</td>{pdf_cell}"
                    f"<td>{date_s}</td></tr>"
                )
            accs.append(
                f'<div class="accordion"><button class="btn btn-link">{year}'
                f'</button><div class="card-body"><table>{"".join(trs)}'
                f"</table></div></div>"
            )
        body = (
            f'<div class="block-ministry-content"><div class="node">'
            f'<div class="content">{"".join(accs)}</div></div></div>'
        )
        pager = _pager_html(a, k, n_pages)
        return _BOILER_HEAD.format(t=f"{a} listing {k}") + body + pager + _BOILER_FOOT
    for i in range(1, n_items + 1):
        t, d, href = _title(a, k, i), _fmt(a, _doc_date(a, k, i)), doc_url(a, k, i)
        if b == "austria":
            rows.append(
                f'<tr class="bocListDataRow"><td>{k}</td>'
                f'<td><a class="title" href="{href}">{t}</a></td>'
                f'<td><span class="date">{d}</span></td></tr>'
            )
        elif b == "ireland":
            rows.append(
                f'<li><article><h2><a href="{href}">{t}</a></h2>'
                f'<p class="date">{d}</p></article></li>'
            )
        elif b == "denmark":
            rows.append(
                f'<div class="item"><a class="item-title" href="{href}">{t}</a>'
                f'<span class="date">{d}</span></div>'
            )
        elif b == "finland":
            rows.append(
                f'<li class="list__item"><a class="result-link" href="{href}">{t}</a>'
                f'<span class="date">{d}</span></li>'
            )
        elif b == "croatia":
            rows.append(
                f'<article class="post"><p class="post-meta">'
                f'<span class="published">{d}</span></p>'
                f'<h2 class="entry-title"><a href="{href}">{t}</a></h2></article>'
            )
        elif b == "united_kingdom":
            target = uk_file_url(a, k, i)
            rows.append(
                f'<div class="itemlink"><a title="{target}" href="#">'
                f'<h2 class="h3">{t}</h2></a>'
                f'<p class="text-small">{d}, Enforcement notices</p></div>'
            )
        elif b == "edpb":
            rows.append(
                f'<div class="views-row"><h3><a href="{href}">{t}</a></h3>'
                f'<span class="date">{d}</span></div>'
            )
        elif b == "czech_republic":
            rows.append(
                f'<div class="item"><a class="item-title" href="{href}">{t}</a>'
                f'<span class="date">{d}</span></div>'
            )
        elif b == "cyprus":
            rows.append(
                f'<li class="photos"><a href="{href}">{t}</a>'
                f'<span class="date">{d}</span></li>'
            )
        elif b == "sweden":
            # date = last word of the summary; i%5==0 lacks 'Beslut'
            # (ongoing, skipped); i%4==0 carries a bare year (padded)
            dd = _doc_date(a, k, i)
            tail = str(dd.year) if i % 4 == 0 else dd.isoformat()
            lead = "Pågående ärende om" if i % 5 == 0 else "Beslut i ärende om"
            rows.append(
                f'<li class="imy-search__results-item">'
                f'<h2 class="imy-search-hit__heading"> {t} </h2>'
                f'<p class="imy-search-hit__body">{lead} tillsyn {tail}</p>'
                f'<a href="{href}">Läs beslutet</a></li>'
            )
        elif b == "poland":
            rows.append(
                f'<div class="decision"><div class="float-sm-right">{d}</div>'
                f'<a href="{href}">{t}</a></div>'
            )
        elif b == "france":
            rows.append(
                f'<div class="views-row"><a href="{fr_file_url(a, k, i)}">{t}</a>'
                f'<span class="date">{d}</span></div>'
            )
        elif b == "spain":
            iso = _doc_date(a, k, i).isoformat()
            rows.append(
                f'<div class="views-row"><div class="views-field-title">'
                f'<a href="{es_file_url(a, k, i)}">{t}</a></div>'
                f'<div class="views-field-field-advertise-on">'
                f'<time datetime="{iso}T10:00:00Z">Publicado</time></div></div>'
            )
        elif b == "slovakia":
            rows.append(
                f'<div class="node-file"><b>{d} - Usmernenie</b>'
                f'<h2><a href="{href}">{t}</a></h2></div>'
            )
        elif b == "greece":
            rows.append(
                f'<tr><td><time datetime="00Z">{d}</time></td>'
                f'<td><a href="{href}">{t}</a></td></tr>'
            )
        elif b == "hungary":
            rows.append(
                f'<div class="pd-filebox"><div class="pd-filenamebox">'
                f'<div class="pd-filename"><div class="pd-float">'
                f'<a href="{hu_file_url(a, k, i)}">{t}</a></div></div></div>'
                f'<div class="pd-fl-m">Létrehozva: {d}</div></div>'
            )
        elif b == "luxembourg":
            rows.append(
                f'<li><time class="article-published">{d}</time>'
                f'<h2 class="article-title"><a href="{href}">{t}</a></h2></li>'
            )
        elif b == "netherlands":
            rows.append(
                f'<li><a href="{href}">{t}</a> gepubliceerd {d}</li>'
            )
        elif b == "portugal":
            rows.append(
                f'<div class="c-card"><a href="{pt_file_url(a, k, i)}">'
                f'<div class="c-card-header-medium">{t}</div></a></div>'
            )
        elif b == "slovenia":
            # the listing link text is NOT the title (title lives on the
            # docpage — slovenia/__init__.py:179-185)
            rows.append(
                f'<tr><td class="advsea-date">{d}</td>'
                f'<td class="advsea-link"><a href="{href}">Mnenje</a></td></tr>'
            )
        else:  # italy / italy_news
            rows.append(
                f'<div class="post"><h3><a href="{href}">{t}</a></h3>'
                f'<span class="date">{d}</span></div>'
            )
    body = {
        "austria": '<table class="bocListTable"><tbody class="bocListTableBody">{r}</tbody></table>',
        "ireland": '<div class="view-content"><div class="item-list"><ul>{r}</ul></div></div>',
        "denmark": '<div class="ajaxhost"><div class="items">{r}</div></div>',
        "finland": '<ul class="results">{r}</ul>',
        "croatia": '<main class="site-main">{r}</main>',
        "united_kingdom": '<div class="resultlist">{r}</div>',
        "edpb": '<div class="view-content">{r}</div>',
        "czech_republic": '<div class="item-list">{r}</div>',
        "cyprus": '<div class="content-block"><ul>{r}</ul></div>',
        "sweden": '<ul class="imy-search__results-list">{r}</ul>',
        "poland": '<div id="decisions-container">{r}</div>',
        "italy": '<div class="posts">{r}</div>',
        "italy_news": '<div class="posts">{r}</div>',
        "france": '<div class="view-content">{r}</div>',
        "spain": '<div class="view-content">{r}</div>',
        "slovakia": '<div class="region-content"><div class="content">{r}</div></div>',
        "greece": '<table><tbody><tr><th>Ημερομηνία</th><th>Τίτλος</th></tr>{r}</tbody></table>',
        "hungary": '<div class="pd-category">{r}</div>',
        "luxembourg": '<ol class="search-results">{r}</ol>',
        "netherlands": '<div class="main-content-article"><ul>{r}</ul></div>',
        "portugal": '<div class="layout">{r}</div>',
        "slovenia": (
            '<div class="page pr"><article class="c9">'
            '<div class="advsea-results-list"><table>'
            "<tr><th>Datum</th><th>Povezava</th></tr>{r}</table></div>"
            "</article></div>"
        ),
    }[b].format(r="".join(rows))
    # the computed pager is TRUNCATED: only page 1 and the last page
    # carry links — the engine must read the last page number and
    # synthesize the URLs (F3, italy/__init__.py:46-55)
    pager = _pager_html(a, k, n_pages)
    return _BOILER_HEAD.format(t=f"{a} listing {k}") + body + pager + _BOILER_FOOT


def _docpage_html(a: str, p: int, i: int, n_files: int, pad_lines: int = 0) -> str:
    cfg = X.cfg_of(a)
    b = base_auth(a)
    text = _para_text(a, p, i, pad_lines)
    paras = "".join(f"<p>{ln}</p>" for ln in text.split("\n"))
    if b == "edpb":
        # article with either the consultation alert (link to a second
        # html page holding the pdf) or the direct pdf link
        # (edpb/__init__.py:293-355)
        if i % 3 == 0:
            inner = (
                f'<div class="alert">Final version adopted after public '
                f'consultation <a href="{edpb_alert_url(a, p, i)}">here</a></div>'
                f"{paras}"
            )
        else:
            inner = (
                f'{paras}<div class="col-sm-2">'
                f'<a href="{edpb_pdf_url(a, p, i)}">Download PDF</a></div>'
            )
        body = f'<article class="edpb-article" role="article">{inner}</article>'
        return _BOILER_HEAD.format(t=_title(a, p, i)) + body + _BOILER_FOOT
    if b == "slovakia":
        # docpage holds filefield-file attachment links (docx + pdf,
        # slovakia/__init__.py:223-276)
        links = "".join(
            f'<div class="filefield-file"><a href="{sk_file_url(a, p, i, j)}">'
            f"Príloha {j}</a></div>"
            for j in range(1, n_files + 1)
        )
        body = (
            f'<div class="region-content"><div class="content clearfix">'
            f"{paras}{links}</div></div>"
        )
        return _BOILER_HEAD.format(t=_title(a, p, i)) + body + _BOILER_FOOT
    if b == "greece":
        # span.file-link carries the decision pdf (greece/__init__.py:138-148)
        body = (
            f'<div class="dpa-body">{paras}</div>'
            f'<span class="file-link"><a href="{gr_file_url(a, p, i)}">PDF</a></span>'
        )
        return _BOILER_HEAD.format(t=_title(a, p, i)) + body + _BOILER_FOOT
    if b == "slovenia":
        # the docpage carries the TITLE (header h1) and the text is the
        # whole article (slovenia/__init__.py:179-189)
        body = (
            f'<article class="c9"><header><h1>{_title(a, p, i)}</h1></header>'
            f"{paras}</article>"
        )
        return _BOILER_HEAD.format(t=_title(a, p, i)) + body + _BOILER_FOOT
    if b == "luxembourg":
        # aside.page-more holds pdf links; non-pdf links are filtered
        # (luxembourg/__init__.py:149-155); items without an aside keep
        # the docpage text as the document
        aside = ""
        if n_files:
            links = "".join(
                f'<a href="{lu_file_url(a, p, i, j)}">Décision (PDF) {j}</a>'
                for j in range(1, n_files + 1)
            )
            aside = (
                f'<aside class="page-more">{links}'
                f'<a href="https://{host_for(a)}/contact.html">Contact</a></aside>'
            )
        body = f'<div class="article-text">{paras}</div>{aside}'
        return _BOILER_HEAD.format(t=_title(a, p, i)) + body + _BOILER_FOOT
    sel = cfg["body_selector"]
    if "#" in sel:
        # id-selected body (poland's div#article-content, poland:116)
        body_open = f'<div id="{sel.split("#")[-1]}">'
    else:
        tag_class = sel.split(".")[-1] if "." in sel else sel
        body_open = f'<div class="{tag_class}">'
    if b == "czech_republic" and n_files:
        links = "".join(
            f'<p><a href="{cz_file_url(a, p, i, j)}">Příloha {j}</a></p>'
            for j in range(1, n_files + 1)
        )
        # plus a non-File.ashx link the href filter must skip
        # (czech_republic/__init__.py:195)
        links += f'<p><a href="https://{host_for(a)}/{a}/kontakt">Kontakt</a></p>'
        body = f"{body_open}{paras}{links}</div>"
    elif cfg["depth2_selector"] and n_files:
        links = "".join(
            f'<p><a href="{file_url(a, p, i, j)}">Liite {j} (PDF)</a></p>'
            for j in range(1, n_files + 1)
        )
        body = f"{body_open}{paras}{links}</div>"
    else:
        body = f"{body_open}{paras}</div>"
    return _BOILER_HEAD.format(t=_title(a, p, i)) + body + _BOILER_FOOT


def _edpb_alert_page_html(a: str, p: int, i: int) -> str:
    """The redirect page the alert links to (edpb/__init__.py:309-340)."""
    body = (
        f'<article class="edpb-article" role="article">'
        f"<p>Final version after public consultation.</p>"
        f'<div class="col-sm-2"><a href="{edpb_pdf_url(a, p, i)}">Download</a>'
        f"</div></article>"
    )
    return _BOILER_HEAD.format(t=f"{a} final {p}-{i}") + body + _BOILER_FOOT


_PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def generate(
    out_dir: str,
    n_pages: int = 3,
    n_items: int = 4,
    n_files: int = 2,
    authorities: tuple[str, ...] = BASE_AUTHORITIES,
    doc_pad_lines: int = 0,
    ground_truth: bool = True,
    scanned_pdfs: bool = False,
    encrypted_pdfs: bool = False,
) -> dict[str, str]:
    """Write pages/seeds/robots parquet under out_dir; returns paths.

    Idempotent per (out_dir) — regenerating overwrites deterministically.
    ``doc_pad_lines`` fattens document bodies (scale profiles);
    ``ground_truth=False`` skips the per-page oracle text (bench-only
    fixtures where the correctness oracle is not run — generation would
    otherwise pay one full parse per page).  ``scanned_pdfs`` makes the
    first latvia item per listing page an IMAGE-ONLY pdf (text rendered
    through the engine's JPEG codec, no text layer) so the
    empty-text-layer -> OCR dispatch crawls end-to-end; enabled for the
    correctness (sf*) profiles only — decoder coverage belongs there,
    not in the throughput-bench inputs.  Pages stream to the parquet
    writer in chunks so multi-GB fixtures never sit in one DataFrame.
    """
    global _ENCRYPTED_PDFS
    _ENCRYPTED_PDFS = encrypted_pdfs
    try:
        return _generate_impl(
            out_dir, n_pages, n_items, n_files, authorities,
            doc_pad_lines, ground_truth, scanned_pdfs,
        )
    finally:
        _ENCRYPTED_PDFS = False


def _generate_impl(
    out_dir: str,
    n_pages: int,
    n_items: int,
    n_files: int,
    authorities: tuple[str, ...],
    doc_pad_lines: int,
    ground_truth: bool,
    scanned_pdfs: bool,
) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    base_ts = datetime(2024, 1, 10, tzinfo=timezone.utc)
    pages: list[dict] = []
    pages_path = os.path.join(out_dir, "pages.parquet")
    writer = pq.ParquetWriter(pages_path, _PAGES_ARROW)

    def flush(force: bool = False):
        if pages and (force or len(pages) >= 4_000):
            writer.write_table(
                pa.Table.from_pandas(
                    pd.DataFrame(pages), schema=_PAGES_ARROW, preserve_index=False
                )
            )
            pages.clear()

    def add(url: str, html: bytes | None, text: str | None, lang: str, off: int):
        pages.append(
            {
                "url": url,
                "warc_ts": base_ts + timedelta(seconds=off),
                "html": html,
                "text": text,
                "lang": lang,
            }
        )

    off = 0
    for a in authorities:
        cfg = X.cfg_of(a)
        b = base_auth(a)
        lang = cfg["lang"]
        for k in range(1, n_pages + 1):
            add(list_url(a, k), _listing_html(a, k, n_pages, n_items).encode(), None, lang, off)
            off += 1
            for i in range(1, n_items + 1):
                if b == "united_kingdom":
                    # item target IS the binary document; .docx items are
                    # REAL docx zips (decoded by the stdlib X4 path),
                    # .html targets are P6-gated and never stored
                    furl = uk_file_url(a, k, i)
                    if furl.endswith(".html"):
                        continue
                    payload = _para_text(a, k, i, doc_pad_lines)
                    if furl.endswith(".docx"):
                        content = _make_docx(payload)
                        gt = X.decode_docx(content)
                    else:
                        content = _make_pdf(payload)
                        gt = payload
                    add(furl, content, gt if ground_truth else None, lang, off)
                    off += 1
                    continue
                if b == "latvia":
                    if i % 6 == 5:  # row without a pdf link, never fetched
                        continue
                    if scanned_pdfs and i == 1:
                        # image-only (scanned) pdf: the OCR dispatch's
                        # e2e coverage — short single-line payload in
                        # the OCR charset keeps the pure-python JPEG
                        # encode/decode cost bounded
                        from .ocr import encode_scanned_pdf

                        content = encode_scanned_pdf(
                            f"SCANNED DECISION {k}-{i} OF THE "
                            f"{a.upper()} AUTHORITY."
                        )
                        furl = lv_file_url(a, k, i)
                        gt = X.decode_file(furl, content) if ground_truth else None
                        add(furl, content, gt, lang, off)
                        off += 1
                        continue
                    payload = _para_text(a, k, i, doc_pad_lines)
                    content = _make_pdf(payload)
                    add(
                        lv_file_url(a, k, i), content,
                        payload if ground_truth else None, lang, off,
                    )
                    off += 1
                    continue
                if b == "lithuania":
                    for j, (_t, furl) in enumerate(lt_links(a, k, i), start=1):
                        payload = _para_text(a, k, i * 10 + j, doc_pad_lines)
                        add(
                            furl,
                            _make_pdf(payload),
                            payload if ground_truth else None,
                            lang,
                            off,
                        )
                        off += 1
                    continue
                if b == "belgium":
                    furl = be_file_url(a, k, i)
                    if furl.endswith(".zip"):
                        content = _be_zip_bytes(a, k, i)
                    else:
                        payload = _para_text(a, k, i, doc_pad_lines)
                        content = _make_pdf(payload)
                    gt = (
                        X.decode_file(furl, content) if ground_truth else None
                    )
                    add(furl, content, gt, lang, off)
                    off += 1
                    continue
                if b == "edpb":
                    html = _docpage_html(a, k, i, 0, doc_pad_lines)
                    add(doc_url(a, k, i), html.encode(), None, lang, off)
                    off += 1
                    if i % 3 == 0:  # alert redirect hop page
                        add(
                            edpb_alert_url(a, k, i),
                            _edpb_alert_page_html(a, k, i).encode(),
                            None,
                            lang,
                            off,
                        )
                        off += 1
                    payload = _para_text(a, k, i, doc_pad_lines) + "\n[final pdf]"
                    add(
                        edpb_pdf_url(a, k, i),
                        _make_pdf(payload),
                        payload if ground_truth else None,
                        lang,
                        off,
                    )
                    off += 1
                    continue
                if b in ("france", "spain", "hungary", "malta", "estonia",
                         "portugal", "bulgaria"):
                    # the listing href IS the document file; .html decoys
                    # are P6-gated and never stored
                    furl = {
                        "france": fr_file_url, "spain": es_file_url,
                        "hungary": hu_file_url, "malta": mt_file_url,
                        "estonia": ee_file_url, "portugal": pt_file_url,
                        "bulgaria": bg_file_url,
                    }[b](a, k, i)
                    if furl.endswith(".html"):
                        continue
                    payload = _para_text(a, k, i, doc_pad_lines)
                    if b == "france":
                        content = _make_rtf(payload)
                        gt = X.decode_rtf(content)
                    else:
                        content = _make_pdf(payload)
                        gt = payload
                    add(furl, content, gt if ground_truth else None, lang, off)
                    off += 1
                    continue
                if b == "slovakia":
                    nf = (i % 2) + 1
                    add(
                        doc_url(a, k, i),
                        _docpage_html(a, k, i, nf, doc_pad_lines).encode(),
                        None, lang, off,
                    )
                    off += 1
                    for j in range(1, nf + 1):
                        furl = sk_file_url(a, k, i, j)
                        payload = _para_text(a, k, i * 10 + j, doc_pad_lines)
                        if furl.endswith(".docx"):
                            content = _make_docx(payload)
                            gt = X.decode_docx(content)
                        else:
                            content = _make_pdf(payload)
                            gt = payload
                        add(furl, content, gt if ground_truth else None, lang, off)
                        off += 1
                    continue
                if b == "greece":
                    add(
                        doc_url(a, k, i),
                        _docpage_html(a, k, i, 1, doc_pad_lines).encode(),
                        None, lang, off,
                    )
                    off += 1
                    payload = _para_text(a, k, i, doc_pad_lines) + "\n[apofasi pdf]"
                    add(
                        gr_file_url(a, k, i),
                        _make_pdf(payload),
                        payload if ground_truth else None, lang, off,
                    )
                    off += 1
                    continue
                if b == "luxembourg":
                    nf = n_files if i % 3 else 0
                    html = _docpage_html(a, k, i, nf, doc_pad_lines)
                    gt = None
                    if nf == 0 and ground_truth:
                        gt = X.parse_docpage(a, doc_url(a, k, i), html)["text"]
                    add(doc_url(a, k, i), html.encode(), gt, lang, off)
                    off += 1
                    for j in range(1, nf + 1):
                        payload = _para_text(a, k, i) + f"\n[décision {j}]"
                        add(
                            lu_file_url(a, k, i, j),
                            _make_pdf(payload),
                            payload if ground_truth else None, lang, off,
                        )
                        off += 1
                    continue
                has_files = bool(cfg["depth2_selector"]) and (i % 2 == 1)
                nf = n_files if has_files else 0
                html = _docpage_html(a, k, i, nf, doc_pad_lines)
                gt = None
                if nf == 0 and ground_truth:
                    # ground truth = the same extraction the engine must hit
                    gt = X.parse_docpage(a, doc_url(a, k, i), html)["text"]
                add(doc_url(a, k, i), html.encode(), gt, lang, off)
                off += 1
                for j in range(1, nf + 1):
                    payload = _para_text(a, k, i) + f"\n[attachment {j}]"
                    furl = (
                        cz_file_url(a, k, i, j)
                        if b == "czech_republic"
                        else file_url(a, k, i, j)
                    )
                    add(
                        furl,
                        _make_pdf(payload),
                        payload,
                        lang,
                        off,
                    )
                    off += 1
            flush()
    # a few 404s: urls referenced nowhere + one listing gap is not needed;
    # misses are exercised by the robots-blocked private/ pages which we
    # deliberately do NOT store for finland page-1 (fetch join miss).
    flush(force=True)
    writer.close()

    seeds = pd.DataFrame(
        [
            {
                "authority": a,
                "doc_type": "Decisions",
                "url": list_url(a, 1),
                "priority": pr,
                "politeness_delay_s": X.cfg_of(a)["politeness_delay_s"],
            }
            for pr, a in enumerate(authorities)
        ]
    )
    seeds["priority"] = seeds["priority"].astype("int32")
    seeds["politeness_delay_s"] = seeds["politeness_delay_s"].astype("float64")
    robots = pd.DataFrame(
        [
            {
                "host": HOSTS["finland"],
                "robots_txt": "User-agent: *\nDisallow: /finland/private/\nCrawl-delay: 1\n",
            },
            {"host": HOSTS["austria"], "robots_txt": "User-agent: *\nAllow: /\n"},
            {"host": CDN_HOST, "robots_txt": "User-agent: *\nAllow: /\n"},
        ]
    )

    paths = {"pages": pages_path}
    for name, pdf in (("seeds", seeds), ("robots", robots)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        paths[name] = path
    return paths


SF_PROFILES = {
    # (n_pages, n_items, n_files)
    "sf0.001": (2, 3, 1),
    "sf0.01": (4, 8, 2),
    "sf0.1": (12, 30, 3),
}

# wide profiles: same chain shapes, many clone hosts — the Zipf-tail
# web-scale case where thousands of chains advance in parallel and
# per-round fixed cost amortizes (BASELINE.md bench input)
WIDE_PROFILES = {
    # name: (n_pages, n_items, n_files, width)
    "wide0.01": (3, 10, 2, 8),     # ~3.5k urls, 40 hosts
    "wide0.1": (4, 20, 2, 40),     # ~20k urls, 200 hosts
}

# 29-shape wide profiles: every registry shape cloned `width` times —
# sized to land near the matching 5-shape profile's URL count so the
# two crawl_e2e numbers are comparable per page
WIDE29_PROFILES = {
    # name: (n_pages, n_items, n_files, width)
    "wide29_0.01": (3, 10, 2, 2),   # 58 hosts
    "wide29_0.1": (4, 20, 2, 7),    # 203 hosts
}

# scale profile: ONE massive micro-batch round (2500 hosts x 100 docs,
# ~12 KB realistic decision pages, ~250k URLs) — the shape of a
# production round at 10^10-frontier scale, where fetch/extract compute
# dominates and per-round commit overhead is negligible by design.
# ground_truth=False: this input feeds the throughput bench only.
SCALE_PROFILES = {
    "scale": dict(n_pages=1, n_items=100, n_files=0, width=800,
                  doc_pad_lines=120, ground_truth=False),
    # scale_xl: ~1.9M pages / 32k hosts — sized so parallelizable
    # fetch+extract compute dominates fixed per-round cost by >10x,
    # the regime every production round at 10^10-frontier scale is in
    "scale_xl": dict(n_pages=1, n_items=100, n_files=0, width=6400,
                     doc_pad_lines=120, ground_truth=False),
    "scale_small": dict(n_pages=1, n_items=50, n_files=0, width=100,
                        doc_pad_lines=120, ground_truth=False),
}


def fixture_dir(profile: str = "sf0.01", root: str = "/tmp/crawler_spark_fixtures") -> str:
    """Generate-once cache of crawl fixtures for a scale profile."""
    out = os.path.join(root, profile)
    marker = os.path.join(out, ".complete")
    try:
        with open(marker) as f:
            stale = f.read().strip() != FIXTURE_VERSION
    except FileNotFoundError:
        stale = True
    if stale:
        if profile in SCALE_PROFILES:
            cfg = dict(SCALE_PROFILES[profile])
            width = cfg.pop("width")
            generate(out, authorities=wide_authorities(width), **cfg)
        elif profile in WIDE_PROFILES:
            n_pages, n_items, n_files, width = WIDE_PROFILES[profile]
            generate(
                out,
                n_pages=n_pages,
                n_items=n_items,
                n_files=n_files,
                authorities=wide_authorities(width),
            )
        elif profile in WIDE29_PROFILES:
            n_pages, n_items, n_files, width = WIDE29_PROFILES[profile]
            generate(
                out,
                n_pages=n_pages,
                n_items=n_items,
                n_files=n_files,
                authorities=wide_all_authorities(width),
            )
        else:
            n_pages, n_items, n_files = SF_PROFILES[profile]
            generate(
                out,
                n_pages=n_pages,
                n_items=n_items,
                n_files=n_files,
                scanned_pdfs=True,
                encrypted_pdfs=True,
            )
        with open(marker, "w") as f:
            f.write(FIXTURE_VERSION)
    return out


# ---------------------------------------------------------------------------
# sequential oracle — the reference's loop order in plain Python
# ---------------------------------------------------------------------------


def _robots_disallowed(robots: dict[str, str], url: str) -> bool:
    from urllib.parse import urlsplit
    from urllib.robotparser import RobotFileParser

    host = urlsplit(url).hostname
    body = robots.get(host)
    if body is None:
        return False
    rp = RobotFileParser()
    rp.parse(body.splitlines())
    return not rp.can_fetch("*", url)


def sequential_oracle(
    fix_dir: str, as_of: date = AS_OF, persistent_seen: set[str] | None = None
) -> dict:
    """Golden single-threaded crawl (reference order) over the fixtures.

    Mirrors: Pagination cursor (pygdpr/models/common/pagination/
    __init__.py:24-30), per-item P1/P2 retention, X1 md5-title key, P3
    seen skip, P4 duplicate-title rules (denmark variant), depth-2 file
    harvesting (finland), politeness ignored (it affects only round
    boundaries, not the final state — SURVEY.md §5.3).
    """
    pages = pd.read_parquet(os.path.join(fix_dir, "pages.parquet"))
    seeds = pd.read_parquet(os.path.join(fix_dir, "seeds.parquet"))
    robots = dict(
        pd.read_parquet(os.path.join(fix_dir, "robots.parquet")).itertuples(
            index=False, name=None
        )
    )
    web = {r.url: r for r in pages.itertuples(index=False)}

    docs: list[dict] = []
    # P3 state (previous runs' visitedDocs) is distinct from the P4
    # within-run dict — the reference reads existing_docs once at startup
    # (gdprCrawler.py:103-121) and consults the run-local dict_hashcode
    # for duplicates discovered during the run
    # (pygdpr/models/dpa/denmark/__init__.py:86-88,135-140).
    persistent = set(persistent_seen or ())
    fetch_order: list[str] = []
    run_first_date: dict[str, date] = {}  # P4 dict_hashcode (run-global)
    run_final_keys: set[str] = set()

    seeds = seeds.sort_values(["priority", "authority", "doc_type"]).reset_index(
        drop=True
    )
    for seed_idx, seed in enumerate(seeds.itertuples(index=False)):
        a = seed.authority
        links: list[tuple[str, int]] = [(seed.url, X.seq_seed(seed_idx, 1))]
        enqueued = {seed.url}
        cursor = 0
        while cursor < len(links):
            page_url, page_seq = links[cursor]
            cursor += 1
            if _robots_disallowed(robots, page_url):
                continue
            row = web.get(page_url)
            fetch_order.append(page_url)
            if row is None or row.html is None:
                continue
            parsed = X.parse_listing(a, page_url, bytes(row.html).decode("utf-8"))
            for href, page_no in parsed["next_pages"]:
                if href not in enqueued:  # Pagination.add_item dedupe
                    enqueued.add(href)
                    links.append((href, X.seq_child_page(page_seq, page_no)))
            for i, (title, date_str, href) in enumerate(parsed["items"], start=1):
                d = X.parse_date_str(a, date_str)
                if not X.retained(a, d, as_of):
                    continue
                if X.cfg_of(a).get("title_at_docpage"):
                    # slovenia: the title — and so the X1 key and P3 —
                    # only exist after the docpage fetch
                    # (slovenia/__init__.py:179-189); first occurrence
                    # of a key wins (the reference's repeated-folder
                    # overwrite collapsed to a deterministic rule)
                    if _robots_disallowed(robots, href):
                        continue
                    item_seq = X.seq_child_item(page_seq, i)
                    drow = web.get(href)
                    fetch_order.append(href)
                    if drow is None or drow.html is None:
                        continue
                    dp = X.parse_docpage(a, href, bytes(drow.html).decode("utf-8"))
                    t2 = dp.get("title")
                    if not t2:
                        continue
                    key = hashlib.md5(t2.encode()).hexdigest()
                    if key in persistent or key in run_final_keys:
                        continue
                    docs.append(
                        {
                            "doc_hash": key,
                            "authority": a,
                            "url": href,
                            "title": t2,
                            "release_date": d,
                            "text": dp["text"],
                            "seq": item_seq,
                        }
                    )
                    run_final_keys.add(key)
                    continue
                doc_hash = hashlib.md5(title.encode()).hexdigest()  # X1
                if doc_hash in persistent:  # P3: raw key vs prior runs
                    continue
                # P4 within-run duplicate handling (denmark rule) — the
                # first-date registry is set BEFORE the fetch, like the
                # reference's dict_hashcode
                key = doc_hash
                if doc_hash in run_first_date:
                    if run_first_date[doc_hash] == d:
                        continue
                    key = f"{doc_hash}-{d.isoformat()}"
                    if key in run_final_keys:
                        continue  # same (hash,date) twice -> first wins
                else:
                    run_first_date[doc_hash] = d
                if _robots_disallowed(robots, href):
                    continue
                item_seq = X.seq_child_item(page_seq, i)
                drow = web.get(href)
                fetch_order.append(href)
                if drow is None or drow.html is None:
                    continue
                if X.cfg_of(a).get("doc_is_file"):
                    # UK/belgium: the item target IS the binary document
                    # (united_kingdom/__init__.py:135-145, belgium:604-661)
                    try:
                        text = X.decode_file(href, bytes(drow.html))
                    except NotImplementedError:
                        continue  # decode failed -> no doc, key not seen
                    docs.append(
                        {
                            "doc_hash": key,
                            "authority": a,
                            "url": href,
                            "title": title,
                            "release_date": d,
                            "text": text,
                            "seq": item_seq,
                        }
                    )
                    run_final_keys.add(key)
                    continue
                dp = X.parse_docpage(a, href, bytes(drow.html).decode("utf-8"))
                if dp["file_links"]:
                    for j, furl in enumerate(dp["file_links"], start=1):
                        if _robots_disallowed(robots, furl):
                            continue
                        frow = web.get(furl)
                        fetch_order.append(furl)
                        if frow is None or frow.html is None:
                            continue
                        fseq = X.seq_child_link(item_seq, j)
                        fbytes = bytes(frow.html)
                        if X.cfg_of(a).get("redirect_selector") and X.looks_like_html(
                            fbytes
                        ):
                            # EDPB alert hop: html page -> final pdf url
                            # (edpb/__init__.py:309-340); seq carries over
                            target = X.parse_redirect(
                                a, furl, fbytes.decode("utf-8")
                            )
                            if target is None or _robots_disallowed(robots, target):
                                continue
                            trow = web.get(target)
                            fetch_order.append(target)
                            if trow is None or trow.html is None:
                                continue
                            furl, fbytes = target, bytes(trow.html)
                        try:
                            text = X.decode_file(furl, fbytes)
                        except NotImplementedError:
                            continue
                        fkey = key if j == 1 else f"{key}#{j}"
                        docs.append(
                            {
                                "doc_hash": fkey,
                                "authority": a,
                                "url": furl,
                                "title": title,
                                "release_date": d,
                                "text": text,
                                "seq": fseq,
                            }
                        )
                else:
                    docs.append(
                        {
                            "doc_hash": key,
                            "authority": a,
                            "url": href,
                            "title": title,
                            "release_date": d,
                            "text": dp["text"],
                            "seq": item_seq,
                        }
                    )
                run_final_keys.add(key)
    docs.sort(key=lambda r: r["seq"])
    # reference appends the run's final keys to visitedDocs at commit
    # (gdprCrawler.py:292-301)
    return {
        "documents": docs,
        "seen": persistent | run_final_keys,
        "fetch_order": fetch_order,
    }
