"""Semi-structured (HTML) extraction operators — the reference's UDF
surface (SURVEY.md §2.8, X1-X7).

The reference walks BeautifulSoup DOMs; no Catalyst expression walks a
DOM, so these run in Python behind ``mapInPandas``. The parser is the
stdlib ``html.parser`` (bs4 is not available in this environment, and
the extraction rules only need linear tag events). Two scanners cover
every rule:

- ``_PageParser`` keeps the event-ordered page state of X1, X3 and X4:
  title, meta fields, heading sections, paragraph blocks, flattened
  tables and anchors with the heading they sit under;
- ``_Capture(match)`` records, in document order, the elements a
  ``match(tag, attrs)`` rule selects, each with its keys, attributes,
  descendant text and the selected elements open at its start. X2 keys
  infobox label/content cells, X6 the person-description tiers, X7 the
  image containers, the imgs, the ``<title>`` and the lemma-title div.

Shapes reproduced:
- X1 page → content struct: title, meta description, summary, ordered
  (heading, content) sections (``html_extractor/extract_content_from_remark.py:85-703``);
- X2 rule-driven infobox: config-driven field → label-synonym mapping
  over three label → content rules, first hit wins per field
  (``html_extractor/extract_table_from_remark.py:268-439``);
- X3 link harvest under a heading (1 page row → N link rows) with name
  cleaning + validity gate (``leader/update_c_org_leader_info.py:75-206``);
- X4-X6 career lines, person details, title/summary/person description
  (``parser/baike_parser.py``);
- X7 the six-method portrait-URL cascade
  (``leader/update_leader_img_url.py:130-218``).

Every Spark surface is one Arrow-batched pass (:func:`_map_pages`) that
maps each page's ``(id, html)`` to its output rows.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable
from dataclasses import dataclass
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_HEADING_TAGS = {"h1", "h2", "h3"}
# HTML void elements never get a closing tag, so they must not enter the
# context stack: a <br> inside a <dd> would otherwise shift the top-of-stack
# context to "br" and truncate the cell text to its first chunk (bs4's
# get_text(), which the reference uses, sees through them).
_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

# F2-F5 cleaning cascade (python side, matching functions/scalar.py).
_CITATION_RE = re.compile(r"\[\d+(-\d+)?\]|\[编辑\]|\[详情\]")
_ZW_RE = re.compile("[​‌‍﻿ ]")
_WS_RE = re.compile(r"\s+")


def clean_text(s: str) -> str:
    return _WS_RE.sub(" ", _ZW_RE.sub("", _CITATION_RE.sub("", s))).strip()


def _scan(parser: HTMLParser, html: str | None):
    """Feed one page to ``parser``; None when the tag soup breaks it."""
    try:
        parser.feed(html or "")
        parser.close()
    except Exception:
        return None
    return parser


class _PageParser(HTMLParser):
    """Linear scan collecting title, meta description, headings, text
    runs, flattened tables and anchors (with the heading they appear
    under)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title = ""
        self.description = ""
        self.update_time = ""
        self.sections: list[tuple[str, str]] = []
        self.pre_heading_text: list[str] = []
        self.pre_heading_blocks: list[str] = []  # individual para blocks
        self.links: list[tuple[str, str, str]] = []  # (heading, text, href)
        self.tables: list[tuple[str, str]] = []  # (enclosing heading, flat text)
        self._stack: list[str] = []
        self._cur_heading = ""
        self._text_buf: list[str] = []
        self._blocks: list[str] = []  # cleaned paragraph/table blocks
        self._heading_buf: list[str] = []
        self._in_link = False
        self._cur_href = ""
        self._link_buf: list[str] = []
        # Table flattening state (extract_content_from_remark.py:537-628):
        # one flat text per top-level table — optional caption row, then
        # one "cell | cell | cell" line per tr.
        self._table_depth = 0
        self._tbl_rows: list[str] = []
        self._row_cells: list[str] | None = None
        self._cell_buf: list[str] | None = None
        self._cell_links: list[str] = []
        self._in_caption = False
        self._cap_buf: list[str] = []

    def handle_starttag(self, tag, attrs):
        attrs = dict(attrs)
        if tag == "p":
            # paragraph boundary: each <p> is its own text block, so
            # blocks join with \n\n exactly as the reference joins
            # per-paragraph cleaned texts
            # (extract_content_from_remark.py:420,680-684); flushing on
            # the START tag also closes an unclosed previous <p>
            self._flush_text_block()
        if tag == "meta":
            if attrs.get("name") == "description":
                self.description = attrs.get("content", "")
            # update_time from <meta itemprop="dateUpdate" content=...>
            # (extract_content_from_remark.py:120-129)
            if attrs.get("itemprop") == "dateUpdate":
                self.update_time = (attrs.get("content") or "").strip()
        if tag == "a":
            self._in_link = True
            self._cur_href = attrs.get("href", "")
            self._link_buf = []
        elif tag == "table":
            if self._table_depth == 0:
                self._tbl_rows = []
                self._row_cells = None
                self._cell_buf = None
            self._table_depth += 1
        elif self._table_depth:
            if tag == "caption":
                self._in_caption = True
                self._cap_buf = []
            elif tag == "tr":
                self._row_cells = []
            elif tag in ("td", "th"):
                self._cell_buf = []
                self._cell_links = []
        if tag in _VOID_TAGS:
            return
        self._stack.append(tag)

    def handle_endtag(self, tag):
        if tag == "p":
            self._flush_text_block()
        if tag in _VOID_TAGS or tag not in self._stack:
            return
        while self._stack and self._stack[-1] != tag:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        if tag in ("td", "th") and self._cell_buf is not None:
            cell = clean_text(" ".join(self._cell_buf))
            # link-suffix rule (extract_content_from_remark.py:612-617):
            # a cell link's text is appended as " [text]" only when the
            # collected cell content doesn't already contain it
            for lt in self._cell_links:
                if lt and lt not in cell:
                    cell += f" [{lt}]"
            if self._row_cells is not None:
                self._row_cells.append(cell)
            self._cell_buf = None
        elif tag == "tr" and self._row_cells is not None:
            if any(c.strip() for c in self._row_cells):
                self._tbl_rows.append(" | ".join(self._row_cells))
            self._row_cells = None
        elif tag == "caption" and self._in_caption:
            cap = clean_text(" ".join(self._cap_buf))
            if cap:
                self._tbl_rows.append(f"表格标题: {cap}")
            self._in_caption = False
        elif tag == "table" and self._table_depth:
            self._table_depth -= 1
            if self._table_depth == 0:
                flat = "\n".join(self._tbl_rows)
                if flat:
                    self.tables.append((self._cur_heading, flat))
                    # inside a section the table is its own content
                    # block; pre-heading tables are NOT summary text
                    # (the reference's summary comes from a dedicated
                    # div, never from a table)
                    if self._cur_heading:
                        self._flush_text_block()
                        self._blocks.append(flat)
        if tag in _HEADING_TAGS:
            self._flush_section()
            self._cur_heading = clean_text(" ".join(self._heading_buf))
            self._heading_buf = []
        elif tag == "a" and self._in_link:
            link_text = clean_text(" ".join(self._link_buf))
            self.links.append((self._cur_heading, link_text, self._cur_href))
            if self._cell_buf is not None:
                self._cell_links.append(link_text)
            self._in_link = False
            self._cur_href = ""

    def _flush_text_block(self):
        text = clean_text(" ".join(self._text_buf))
        self._text_buf = []
        if text:
            self._blocks.append(text)

    def _flush_section(self):
        self._flush_text_block()
        content = "\n\n".join(self._blocks)
        if not self._cur_heading:
            self.pre_heading_blocks.extend(self._blocks)
        self._blocks = []
        if self._cur_heading:
            self.sections.append((self._cur_heading, content))
        elif content:
            self.pre_heading_text.append(content)

    def handle_data(self, data):
        if not data.strip():
            return
        ctx = self._stack[-1] if self._stack else ""
        if ctx == "title":
            self.title += data
            return
        if ctx in _HEADING_TAGS:
            self._heading_buf.append(data)
            return
        if self._in_link:
            self._link_buf.append(data)
        if self._in_caption:
            self._cap_buf.append(data)
            return
        if self._cell_buf is not None:
            self._cell_buf.append(data)
            return
        if self._table_depth:
            return  # stray text between table cells
        self._text_buf.append(data)

    def close(self):
        super().close()
        self._flush_section()


_EMPTY_PAGE = {
    "title": "",
    "description": "",
    "summary": "",
    "update_time": "",
    "sections": [],
}


def parse_page(html: str) -> dict:
    """X1: page → {title, description, summary, update_time,
    sections[{heading, content}]}.

    Summary = text before the first heading (the lemmaSummary analog);
    title falls back through <title> → first h1 (the reference's
    title/h1/lemma-title cascade); update_time from the
    ``<meta itemprop="dateUpdate">`` content
    (extract_content_from_remark.py:120-129). Embedded tables flatten
    to an optional ``表格标题: …`` row plus one ``a | b | c`` line per
    tr, a standalone content block within their section
    (extract_content_from_remark.py:537-628).

    Sectioning fallback chain (extract_content_from_remark.py:630-684)
    when NO heading-based section exists: (1) each table becomes a
    section headed by its enclosing heading or ``表格内容``; (2)
    otherwise the pre-heading paragraph blocks longer than 5 chars
    become one ``正文内容`` section. The reference's strategy of
    pairing a table with a preceding ``data-tag=header`` h2 collapses
    into the heading-based path here: any h2 IS a section heading to
    this parser, and a table following it lands in that section's
    content."""
    p = _scan(_PageParser(), html)
    if p is None:
        return dict(_EMPTY_PAGE)
    sections = [{"heading": h, "content": c} for h, c in p.sections]
    if not sections:
        if p.tables:
            sections = [
                {"heading": h or "表格内容", "content": flat}
                for h, flat in p.tables
                if flat
            ]
        else:
            # per-PARAGRAPH length filter, as the reference applies it
            # (extract_content_from_remark.py:676-684): each block is
            # filtered on its own, so a short fragment drops even when
            # longer text exists elsewhere on the page
            paras = [b for b in p.pre_heading_blocks if len(b) > 5]
            if paras:
                sections = [{"heading": "正文内容", "content": "\n\n".join(paras)}]
    # F10 title-suffix strip (extract_content_from_remark.py:136-139).
    title = clean_text(p.title).split("_百度百科")[0]
    if not title and sections:
        title = sections[0]["heading"]
    return {
        "title": title,
        "description": clean_text(p.description),
        "summary": " ".join(p.pre_heading_text),
        "update_time": p.update_time,
        "sections": sections,
    }


@dataclass(eq=False, slots=True)
class _Elem:
    """One element a :class:`_Capture` rule selected. Records compare by
    identity, so ``container in elem.within`` asks whether ``elem``
    starts inside that container."""

    keys: set
    attrs: dict
    within: tuple  # the selected elements open at its start
    text: list[str]  # descendant data chunks


class _Capture(HTMLParser):
    """Records, in document order (``elems``), every element for which
    ``match(tag, attrs)`` returns a non-empty key set: its keys, its
    attributes, its full descendant text (the bs4 ``get_text()``
    analog) and the selected elements open at its start. Since the
    records are in start order, a linear scan reproduces bs4's
    ``find_next`` (the next selected element after another, descendants
    included) and ``find_all`` order, and the n-th element of a kind is
    the n-th record with that key. An end tag closes the innermost open
    element of its name and every element opened inside it; void tags
    never open."""

    def __init__(self, match: Callable[[str, dict], set]) -> None:
        super().__init__(convert_charrefs=True)
        self._match = match
        self.elems: list[_Elem] = []
        self._open: list[tuple[str, _Elem | None]] = []

    def handle_starttag(self, tag, attrs):
        attrs = dict(attrs)
        rec = None
        keys = self._match(tag, attrs)
        if keys:
            rec = _Elem(keys, attrs, tuple(e for _, e in self._open if e is not None), [])
            self.elems.append(rec)
        if tag not in _VOID_TAGS:
            self._open.append((tag, rec))

    def handle_endtag(self, tag):
        for i in range(len(self._open) - 1, -1, -1):
            if self._open[i][0] == tag:
                del self._open[i:]
                break

    def handle_data(self, data):
        for _, rec in self._open:
            if rec is not None:
                rec.text.append(data)


def _capture(html: str | None, match: Callable[[str, dict], set]) -> list[_Elem] | None:
    """The elements ``match`` selects on one page; None when the tag soup
    breaks the parser."""
    p = _scan(_Capture(match), html)
    return None if p is None else p.elems


# Infobox rule keys: class tokens ``info-title`` / ``info-content`` /
# ``basicInfo-item`` and the ``dt`` / ``dd`` tags.
_INFOBOX_CLASSES = (("info-title", "it"), ("info-content", "ic"), ("basicInfo-item", "bi"))
# (label_kind, content_kind) per rule, tried in this order per field
# (extract_table_from_remark.py:279-300).
_INFOBOX_RULES = (("it", "ic"), ("dt", "dd"), ("bi", "bi"))


def _infobox_keys(tag: str, attrs: dict) -> set:
    toks = (attrs.get("class") or "").split()
    keys = {k for cls, k in _INFOBOX_CLASSES if cls in toks}
    if tag in ("dt", "dd"):
        keys.add(tag)
    return keys


def extract_infobox(html: str, field_mapping: dict[str, list[str]]) -> dict[str, str | None]:
    """X2: config-driven infobox extraction — each target field maps to
    label synonyms and is tried against THREE selector rules in order,
    first non-empty content wins
    (``html_extractor/extract_table_from_remark.py:279-300,359-427``):

    1. class ``info-title`` → next class ``info-content``;
    2. tag ``dt`` → next tag ``dd``;
    3. class ``basicInfo-item`` → NEXT class ``basicInfo-item``
       (the desktop Baike layout: name/value cells share the class).

    Label matching strips ALL whitespace from the element text and
    checks synonym containment (:396-400); "next" is bs4 ``find_next``
    semantics — the first element of the content kind starting after
    the label element in document order (:407-421). An empty content
    falls through to the next matching label element within the same
    rule (:424-427); a rule that yields nothing falls through to the
    next rule. Rule order beats document order: a dt/dd hit earlier in
    the page loses to an info-title hit later in it."""
    out: dict[str, str | None] = {f: None for f in field_mapping}
    elems = _capture(html, _infobox_keys)
    if elems is None:
        return out
    # space-join data chunks (the repo's long-pinned cell behavior;
    # clean_text collapses runs, label matching strips all whitespace)
    texts = [" ".join(e.text) for e in elems]
    for field, synonyms in field_mapping.items():
        syns = [_WS_RE.sub("", s) for s in synonyms]
        for label_kind, content_kind in _INFOBOX_RULES:
            found = None
            for i, e in enumerate(elems):
                if label_kind not in e.keys:
                    continue
                label = _WS_RE.sub("", texts[i])
                if syns and not any(s in label for s in syns):
                    continue
                nxt = next(
                    (j for j in range(i + 1, len(elems)) if content_kind in elems[j].keys),
                    None,
                )
                if nxt is None:
                    continue
                content = clean_text(texts[nxt])
                if content:
                    found = content
                    break
            if found:
                out[field] = found
                break
    return out


# The reference's full non-person keyword list, verbatim config data
# (leader/update_c_org_leader_info.py:15-32) — a domain vocabulary of
# org/title/region/ethnicity phrases that cannot be re-expressed.
_NAME_BLACKLIST = (
    "本人编辑", "四人帮", "秘书长", "上海市", "双重领导", "纪律检查", "行政监察",
    "北京市", "山西省", "浙江省", "制度建设", "合署办公", "组织架构", "民主党派",
    "人民团体", "少数民族", "台湾同胞", "港澳同胞", "侨胞", "纪检监察", "浦东新区",
    "党组书记", "直属机关", "办事机构", "机构改革", "市直机关", "反恐专员",
    "北京海关", "民办高校", "提案", "稿件", "起草", "讲话稿", "会议纪要", "承办",
    "纪检组长", "职数", "事业单位", "厅长", "蒙古族", "行政编制", "副厅级",
    "正处级", "民族宗教", "主任", "督查室", "副处级", "省长助理", "国防动员",
    "党组成员", "主席", "长沙市", "世纪", "国防", "元帅", "中南地区", "北京",
    "高中", "苏联", "中共中央", "江西", "广东", "无线电", "总工程师", "衡阳",
    "书记", "公安", "春节", "坑口", "重铀酸铵", "二机部", "党委书记", "吉林省",
    "巡视员", "正厅级", "国务院", "司令员", "中央委员", "藏族", "满族", "苗族",
    "维吾尔族", "回族", "监事会", "监察官", "滨海新区", "地源热泵",
)


def is_valid_person_name(name: str) -> bool:
    """P6 person-name heuristic, as-executed
    (``leader/update_c_org_leader_info.py:52-73``): empty → invalid;
    LONGER than 4 chars → valid iff it contains a middle dot (minority
    names like 阿·不都 — the blacklist is BYPASSED on this branch);
    4 chars or shorter → valid iff it contains no blacklist keyword."""
    if not name:
        return False
    if len(name) > 4:
        return "·" in name or "•" in name
    return not any(b in name for b in _NAME_BLACKLIST)


def extract_person_links(
    html: str, *, heading_keywords: tuple[str, ...], base_url: str = "https://example.org"
) -> list[dict]:
    """X3 UDTF shape: harvest /item/ links under a matching heading,
    clean + validate names, md5 uuid per canonical URL
    (``leader/update_c_org_leader_info.py:75-206``)."""
    page = _scan(_PageParser(), html)
    if page is None:
        return []
    out = []
    for heading, text, href in page.links:
        if not any(k in heading for k in heading_keywords):
            continue
        if "/item/" not in href:
            continue
        name = re.sub(r"（[^）]*）|\([^)]*\)", "", text)
        name = _WS_RE.sub("", name)
        if not is_valid_person_name(name):
            continue
        url = href if href.startswith("http") else base_url + href
        url = url.split("?")[0]
        out.append(
            {
                "name": name,
                "url": url,
                "uuid": hashlib.md5(url.encode()).hexdigest(),
            }
        )
    return out


# ---------------------------------------------------------------------------
# X4-X6: career sections, person details, title/summary
# ---------------------------------------------------------------------------

CAREER_HEADING_KEYWORDS = ("人物履历", "人物经历", "工作经历", "履历", "Career")

PERSON_DETAIL_MAPPING = {
    "ethnicity": ["民族"],
    "native_place": ["籍贯", "出生地"],
    "birth_date": ["出生日期", "出生年月"],
    "alma_mater": ["毕业院校"],
    "political_status": ["政治面貌"],
}


def extract_career_sections(html: str) -> list[str]:
    """X4 (``parser/baike_parser.py:114-208``): the career section's
    cleaned lines — heading matched by keyword (substring semantics,
    F14 variant 2), content split on the date-led line starts the
    reference's cleaner produces."""
    page = parse_page(html)
    for sec in page["sections"]:
        if any(k in sec["heading"] for k in CAREER_HEADING_KEYWORDS):
            text = sec["content"]
            parts = re.split(r"(?=\d{4}\.\d{2}[-—])", text)
            return [clean_text(p) for p in parts if p.strip()]
    return []


def extract_person_details(html: str) -> dict[str, str | None]:
    """X5 (``parser/baike_parser.py:261-407``): fixed-field person
    details via the dt/dd infobox cascade."""
    return extract_infobox(html, PERSON_DETAIL_MAPPING)


def extract_title_summary(html: str) -> dict[str, str]:
    """X6 (``parser/baike_parser.py:74-113,210-259``): page title
    (suffix-stripped) + summary with the meta-description fallback."""
    page = parse_page(html)
    return {
        "title": page["title"],
        "summary": page["summary"] or page["description"],
    }


# X6 person-description cascade tiers (parser/baike_parser.py:89-110):
# mobile li first, then the desktop hashed-class div, then the three
# alternate desktop selectors. A spec containing a space matches the
# EXACT class attribute string (bs4 ``class_='a b'`` semantics, tier 0);
# a single token matches any class token (bs4 single-string / CSS
# ``.cls`` semantics).
_PERSON_DESC_TIERS: tuple[tuple[str, str], ...] = (
    ("li", "extra-list-item extra-lemma-desc"),
    ("div", "lemmaDescText_WLOIg"),
    ("div", "lemma-desc"),
    ("div", "basic-info"),
    ("div", "lemmaWgt-subjectNav"),
)


def _person_desc_keys(tag: str, attrs: dict) -> set:
    cls = attrs.get("class") or ""
    return {
        tier for tier, (want_tag, spec) in enumerate(_PERSON_DESC_TIERS)
        if tag == want_tag and (cls == spec if " " in spec else spec in cls.split())
    }


def extract_person_desc(html: str) -> str:
    """X6's person-title/description cascade, as-executed
    (``parser/baike_parser.py:74-112``): tiers in order, first element
    (document order) with non-empty stripped text wins. The mobile
    ``extra-list-item extra-lemma-desc`` li beats every desktop
    selector. Tiers 0-1 return ``.strip()`` text verbatim; the
    alternate selectors (tiers 2-4) additionally collapse internal
    whitespace (:104-110)."""
    elems = _capture(html, _person_desc_keys) or []
    for tier in range(len(_PERSON_DESC_TIERS)):
        for e in elems:
            text = "".join(e.text).strip() if tier in e.keys else ""
            if text:
                return _WS_RE.sub(" ", text).strip() if tier >= 2 else text
    return ""


# ---------------------------------------------------------------------------
# X7: portrait-image URL cascade
# ---------------------------------------------------------------------------

_IMG_INVALID_PATTERNS = ("logo-baike.svg", "baike-react/common", "icon", "/img/")
_IMG_VALID_PATTERNS = ("bkimg.cdn.bcebos.com/pic/", "/pic/")


def is_valid_image_url(url: str) -> bool:
    """X7's URL gate (``leader/update_leader_img_url.py:25-66``),
    EFFECTIVE semantics: reject on any invalid substring, accept on a
    ``/pic/`` pattern, otherwise reject. The reference's trailing
    length/extension checks are dead code — every branch after the
    valid-pattern loop falls through to ``return False`` (the final
    statement at line 66 is an unconditional False), so only the
    pattern paths ever decide. Reproduced as-executed, not as-commented."""
    if not url:
        return False
    if any(p in url for p in _IMG_INVALID_PATTERNS):
        return False
    return any(p in url for p in _IMG_VALID_PATTERNS)


def _image_keys(tag: str, attrs: dict) -> set:
    """X7's keys: every img, the <title>, and the divs the cascade tiers
    key on, matched on class TOKENS (bs4's class_ semantics):
    abstractAlbum_* (``aa``), summary-pic (``sp``),
    data-module-type=image (``im``), lemma-picture (``lp``) and the
    lemmaWgt-lemmaTitle-title div (``lt``)."""
    if tag in ("img", "title"):
        return {tag}
    if tag != "div":
        return set()
    toks = (attrs.get("class") or "").split()
    keys = {k for cls, k in (("summary-pic", "sp"), ("lemma-picture", "lp"),
                             ("lemmaWgt-lemmaTitle-title", "lt")) if cls in toks}
    if any(t.startswith("abstractAlbum_") for t in toks):
        keys.add("aa")
    if attrs.get("data-module-type") == "image":
        keys.add("im")
    return keys


def select_portrait_url(html: str) -> dict:
    """X7: the six-method portrait-selection cascade
    (``leader/update_leader_img_url.py:130-218``), faithfully ordered:

    1. first img of the FIRST ``abstractAlbum_*`` div (that one img
       only — an invalid src falls through to method 2, it does not
       try the div's later imgs);
    2. scanning forward from the ``lemmaWgt-lemmaTitle-title`` div,
       the first img of EACH subsequent ``lemma-picture`` div until
       one passes the gate;
    3. first img of the first ``summary-pic`` div;
    4. first img of the first ``div[data-module-type=image]``;
    5. if the first <title> (bs4's ``soup.title``) carries the
       ``_百度百科`` suffix, the first img whose alt or src contains
       the page name;
    6. the first img anywhere with a gate-passing src.

    Returns ``{"url": str | None, "method": int | None}`` — method is
    the 1-based tier that produced the URL (None when nothing passed),
    surfaced so tests and the oracle can pin the cascade ORDER, not
    just the final string."""
    elems = _capture(html, _image_keys)
    if elems is None:
        return {"url": None, "method": None}
    imgs = [(e, e.attrs.get("src") or "") for e in elems if "img" in e.keys]

    def first_src(container: _Elem | None) -> str | None:
        """The gate-passing src of the container's first img, if any
        (None also for no container: no img is within None)."""
        src = next((s for e, s in imgs if container in e.within), None)
        return src if src and is_valid_image_url(src) else None

    def first(key: str) -> _Elem | None:
        return next((e for e in elems if key in e.keys), None)

    # 1: first abstractAlbum div's first img only
    if src := first_src(first("aa")):
        return {"url": src, "method": 1}
    # 2: lemma-picture divs strictly after the lemma-title div, in
    # document order; first img of each, first valid wins
    title_div = first("lt")
    if title_div is not None:
        after = elems[elems.index(title_div) + 1:]
        for div in (e for e in after if "lp" in e.keys):
            if src := first_src(div):
                return {"url": src, "method": 2}
    # 3 / 4: first summary-pic / image-module div's first img only
    for key, method in (("sp", 3), ("im", 4)):
        if src := first_src(first(key)):
            return {"url": src, "method": method}
    # 5: name-matched img (name from the suffixed <title> only)
    title = first("title")
    title = "".join(title.text).strip() if title else ""
    name = title.split("_百度百科")[0].strip() if "_百度百科" in title else ""
    valid = [(e, s) for e, s in imgs if is_valid_image_url(s)]
    for e, src in valid:
        if name and (name in (e.attrs.get("alt") or "") or name in src):
            return {"url": src, "method": 5}
    # 6: first valid img anywhere
    if valid:
        return {"url": valid[0][1], "method": 6}
    return {"url": None, "method": None}


# ---------------------------------------------------------------------------
# Spark surfaces
# ---------------------------------------------------------------------------


def _map_pages(
    df: DataFrame,
    *,
    id_col: str,
    html_col: str,
    fields: list[T.StructField],
    rows: Callable[[str], list[tuple]],
) -> DataFrame:
    """The one Spark surface shape: an Arrow-batched ``mapInPandas``
    pass that maps each page's ``(id, html)`` to ``rows(html)``, its
    output rows (one for a per-page surface, N for a flatMap-shaped
    one), each prefixed with the page id. The select prunes the input
    to exactly those two columns, so blobs never shuffle."""
    schema = T.StructType([df.schema[id_col], *fields])
    names = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [(rid, *row) for rid, html in zip(pdf[id_col], pdf[html_col])
                 for row in rows(html)],
                columns=names,
            )

    return df.select(id_col, html_col).mapInPandas(run, schema)


def _strings(*names: str) -> list[T.StructField]:
    return [T.StructField(n, T.StringType()) for n in names]


def parse_pages(df: DataFrame, *, id_col: str, html_col: str) -> DataFrame:
    """X1: (id, html) → (id, title, description, summary, update_time,
    sections[{heading, content}])."""
    section = T.StructType(_strings("heading", "content"))

    def rows(html):
        d = parse_page(html)
        return [(d["title"], d["description"], d["summary"], d["update_time"],
                 [(s["heading"], s["content"]) for s in d["sections"]])]

    fields = _strings("title", "description", "summary", "update_time")
    fields.append(T.StructField("sections", T.ArrayType(section)))
    return _map_pages(df, id_col=id_col, html_col=html_col, fields=fields, rows=rows)


def extract_links_table(
    df: DataFrame,
    *,
    id_col: str,
    html_col: str,
    heading_keywords: tuple[str, ...] = ("机构领导", "现任领导", "Leadership"),
) -> DataFrame:
    """X3, flatMap-shaped: one page row → N link rows
    (id, name, url, uuid)."""
    return _map_pages(
        df, id_col=id_col, html_col=html_col, fields=_strings("name", "url", "uuid"),
        rows=lambda html: [
            (link["name"], link["url"], link["uuid"])
            for link in extract_person_links(html, heading_keywords=heading_keywords)
        ],
    )


def extract_infobox_table(
    df: DataFrame,
    *,
    id_col: str,
    html_col: str,
    field_mapping: dict[str, list[str]],
) -> DataFrame:
    """X2: one page row → one row with a column per configured field
    (None where no label matched). The mapping stays config data
    (``html_extractor/org_table_schema.json:1-14`` expanded at
    ``extract_table_from_remark.py:268-316``)."""
    return _map_pages(
        df, id_col=id_col, html_col=html_col, fields=_strings(*field_mapping),
        rows=lambda html: [tuple(extract_infobox(html, field_mapping).values())],
    )


def career_lines_table(df: DataFrame, *, id_col: str, html_col: str) -> DataFrame:
    """X4, flatMap-shaped: one page row → N cleaned career lines with
    their document-order position (``parser/baike_parser.py:114-208``)."""
    fields = [T.StructField("pos", T.IntegerType()), *_strings("line")]
    return _map_pages(
        df, id_col=id_col, html_col=html_col, fields=fields,
        rows=lambda html: list(enumerate(extract_career_sections(html))),
    )


def title_summary_desc_table(df: DataFrame, *, id_col: str, html_col: str) -> DataFrame:
    """X6: (id, html) → (id, title, summary, description, person_desc) —
    the W6 coalesce over summary/description stays Spark-side in
    callers."""

    def rows(html):
        d = parse_page(html)
        return [(d["title"], d["summary"], d["description"], extract_person_desc(html))]

    return _map_pages(
        df, id_col=id_col, html_col=html_col,
        fields=_strings("title", "summary", "description", "person_desc"), rows=rows,
    )


def portrait_url_table(df: DataFrame, *, id_col: str, html_col: str) -> DataFrame:
    """X7: (id, html) → (id, portrait_url, method)."""
    fields = [*_strings("portrait_url"), T.StructField("method", T.IntegerType())]
    return _map_pages(
        df, id_col=id_col, html_col=html_col, fields=fields,
        rows=lambda html: [tuple(select_portrait_url(html).values())],
    )
