"""Semi-structured (HTML) extraction operators — the reference's UDF
surface (SURVEY.md §2.8, X1-X7).

The reference walks BeautifulSoup DOMs; no Catalyst expression walks a
DOM, so these are Arrow-batched pandas UDFs over ``mapInPandas``. The
parser is the stdlib ``html.parser`` (bs4 is not available in this
environment, and the extraction rules only need linear tag events).

Shapes reproduced:
- X1 page → content struct: title, meta description, summary, ordered
  (heading, content) sections (``html_extractor/extract_content_from_remark.py:85-703``);
- X2 rule-driven infobox: config-driven field → label-synonym mapping
  over dt/dd pairs, first-hit-wins per field
  (``html_extractor/extract_table_from_remark.py:268-439``);
- X3 link harvest under a heading (UDTF: 1 page row → N link rows)
  with name cleaning + validity gate
  (``leader/update_c_org_leader_info.py:75-206``).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator
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


class _PageParser(HTMLParser):
    """Linear scan collecting title, meta description, headings, text
    runs, dt/dd pairs and anchors (with the heading they appear under)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title = ""
        self.description = ""
        self.update_time = ""
        self.sections: list[tuple[str, str]] = []
        self.pre_heading_text: list[str] = []
        self.pre_heading_blocks: list[str] = []  # individual para blocks
        self.dt_dd: list[tuple[str, str]] = []
        self.links: list[tuple[str, str, str]] = []  # (heading, text, href)
        self.tables: list[tuple[str, str]] = []  # (enclosing heading, flat text)
        self._stack: list[str] = []
        self._cur_heading = ""
        self._text_buf: list[str] = []
        self._blocks: list[str] = []  # cleaned paragraph/table blocks
        self._heading_buf: list[str] = []
        self._cur_dt = ""
        self._in_link = False
        self._cur_href = ""
        self._link_buf: list[str] = []
        self._dt_buf: list[str] | None = None
        self._dd_buf: list[str] | None = None
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
        elif tag == "dt":
            self._dt_buf = []
        elif tag == "dd":
            self._dd_buf = []
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
        if tag == "dt":
            self._cur_dt = clean_text(" ".join(self._dt_buf or []))
            self._dt_buf = None
        elif tag == "dd":
            if self._cur_dt:
                self.dt_dd.append((self._cur_dt, clean_text(" ".join(self._dd_buf or []))))
                self._cur_dt = ""
            self._dd_buf = None
        elif tag in ("td", "th") and self._cell_buf is not None:
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
        if self._dt_buf is not None:
            self._dt_buf.append(data)
        elif self._dd_buf is not None:
            self._dd_buf.append(data)
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
    p = _PageParser()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
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


class _InfoboxParser(HTMLParser):
    """Collects, in document order, every element the three infobox
    extraction rules key on — its start position, which rule kinds
    apply (``info-title`` / ``info-content`` / ``basicInfo-item`` class
    tokens, ``dt`` / ``dd`` tags) and its full descendant text (the
    bs4 ``get_text()`` analog). A linear event scan reproduces bs4's
    ``find_next`` exactly: document order over start tags, descendants
    included."""

    _CLASS_KINDS = (("info-title", "it"), ("info-content", "ic"), ("basicInfo-item", "bi"))

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.elems: list[dict] = []  # {"order", "kinds", "buf"}
        self._open: list[tuple[str, dict | None]] = []
        self._order = 0

    def handle_starttag(self, tag, attrs):
        self._order += 1
        attrs = dict(attrs)
        toks = (attrs.get("class") or "").split()
        kinds = {k for cls, k in self._CLASS_KINDS if cls in toks}
        if tag == "dt":
            kinds.add("dt")
        elif tag == "dd":
            kinds.add("dd")
        rec = None
        if kinds:
            rec = {"order": self._order, "kinds": kinds, "buf": []}
            self.elems.append(rec)
        if tag in _VOID_TAGS:
            return
        self._open.append((tag, rec))

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        for i in range(len(self._open) - 1, -1, -1):
            if self._open[i][0] == tag:
                del self._open[i:]
                break

    def handle_data(self, data):
        for _, rec in self._open:
            if rec is not None:
                rec["buf"].append(data)


# (label_kind, content_kind) per rule, tried in this order per field
# (extract_table_from_remark.py:279-300).
_INFOBOX_RULES = (("it", "ic"), ("dt", "dd"), ("bi", "bi"))


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
    p = _InfoboxParser()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        return {f: None for f in field_mapping}
    elems = p.elems
    # space-join data chunks (the repo's long-pinned cell behavior;
    # clean_text collapses runs, label matching strips all whitespace)
    texts = [" ".join(e["buf"]) for e in elems]
    out: dict[str, str | None] = {f: None for f in field_mapping}
    for field, synonyms in field_mapping.items():
        syns = [_WS_RE.sub("", s) for s in synonyms]
        for label_kind, content_kind in _INFOBOX_RULES:
            found = None
            for i, e in enumerate(elems):
                if label_kind not in e["kinds"]:
                    continue
                label = _WS_RE.sub("", texts[i])
                if syns and not any(s in label for s in syns):
                    continue
                nxt = next(
                    (j for j in range(i + 1, len(elems)) if content_kind in elems[j]["kinds"]),
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
    page = _PageParser()
    try:
        page.feed(html or "")
        page.close()
    except Exception:
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
# Spark surfaces
# ---------------------------------------------------------------------------

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("update_time", T.StringType()),
        T.StructField(
            "sections",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("heading", T.StringType()),
                        T.StructField("content", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def parse_pages(df: DataFrame, *, id_col: str, html_col: str) -> DataFrame:
    """X1 as mapInPandas: (id, html) → (id, title, description, summary,
    sections). Arrow-batched; one Python pass per partition."""
    out_schema = T.StructType(
        [df.schema[id_col]] + list(PAGE_SCHEMA.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = pdf[html_col].map(parse_page)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "title": parsed.map(lambda d: d["title"]),
                    "description": parsed.map(lambda d: d["description"]),
                    "summary": parsed.map(lambda d: d["summary"]),
                    "update_time": parsed.map(lambda d: d["update_time"]),
                    "sections": parsed.map(
                        lambda d: [(s["heading"], s["content"]) for s in d["sections"]]
                    ),
                }
            )

    return df.select(id_col, html_col).mapInPandas(run, out_schema)


def extract_links_table(
    df: DataFrame,
    *,
    id_col: str,
    html_col: str,
    heading_keywords: tuple[str, ...] = ("机构领导", "现任领导", "Leadership"),
) -> DataFrame:
    """X3 as a flatMap-shaped mapInPandas: one page row → N link rows
    (org_id, name, url, uuid)."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("name", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("uuid", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, html in zip(pdf[id_col], pdf[html_col]):
                for link in extract_person_links(html, heading_keywords=heading_keywords):
                    rows.append((rid, link["name"], link["url"], link["uuid"]))
            yield pd.DataFrame(rows, columns=[id_col, "name", "url", "uuid"])

    return df.select(id_col, html_col).mapInPandas(run, out_schema)


def extract_infobox_table(
    df: DataFrame,
    *,
    id_col: str,
    html_col: str,
    field_mapping: dict[str, list[str]],
) -> DataFrame:
    """X2 as mapInPandas: one page row → one row with a column per
    configured field (None where no dt/dd label matched). The mapping
    stays config data (``html_extractor/org_table_schema.json:1-14``
    expanded at ``extract_table_from_remark.py:268-316``)."""
    fields = list(field_mapping)
    out_schema = T.StructType(
        [df.schema[id_col]] + [T.StructField(f, T.StringType()) for f in fields]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            extracted = pdf[html_col].map(lambda h: extract_infobox(h, field_mapping))
            data = {id_col: pdf[id_col]}
            for f in fields:
                data[f] = extracted.map(lambda d, f=f: d[f])
            yield pd.DataFrame(data)

    return df.select(id_col, html_col).mapInPandas(run, out_schema)


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


def career_lines_table(df: DataFrame, *, id_col: str, html_col: str) -> DataFrame:
    """X4 as a flatMap-shaped mapInPandas: one page row → N cleaned
    career lines with their document-order position
    (``parser/baike_parser.py:114-208``)."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("pos", T.IntegerType()),
            T.StructField("line", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, html in zip(pdf[id_col], pdf[html_col]):
                for pos, line in enumerate(extract_career_sections(html)):
                    rows.append((rid, pos, line))
            yield pd.DataFrame(rows, columns=[id_col, "pos", "line"])

    return df.select(id_col, html_col).mapInPandas(run, out_schema)


def extract_title_summary(html: str) -> dict[str, str]:
    """X6 (``parser/baike_parser.py:74-113,210-259``): page title
    (suffix-stripped) + summary with the meta-description fallback."""
    page = parse_page(html)
    return {
        "title": page["title"],
        "summary": page["summary"] or page["description"],
    }


class _ClassCaptureParser(HTMLParser):
    """Captures the full descendant text of elements matched by
    (tag, class-spec) tiers. A spec containing a space matches the
    EXACT class attribute string (bs4 ``class_='a b'`` semantics);
    a single token matches any class token (bs4 single-string / CSS
    ``.cls`` semantics)."""

    def __init__(self, specs: tuple[tuple[str, str], ...]) -> None:
        super().__init__(convert_charrefs=True)
        self._specs = specs
        self.hits: list[tuple[int, int, list[str]]] = []  # (spec idx, order, buf)
        self._open: list[tuple[str, list[list[str]]]] = []
        self._order = 0

    def handle_starttag(self, tag, attrs):
        self._order += 1
        attrs = dict(attrs)
        cls = attrs.get("class") or ""
        toks = cls.split()
        bufs: list[list[str]] = []
        for idx, (want_tag, spec) in enumerate(self._specs):
            if tag != want_tag:
                continue
            if (" " in spec and cls == spec) or (" " not in spec and spec in toks):
                buf: list[str] = []
                self.hits.append((idx, self._order, buf))
                bufs.append(buf)
        if tag in _VOID_TAGS:
            return
        self._open.append((tag, bufs))

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        for i in range(len(self._open) - 1, -1, -1):
            if self._open[i][0] == tag:
                del self._open[i:]
                break

    def handle_data(self, data):
        for _, bufs in self._open:
            for buf in bufs:
                buf.append(data)


# X6 person-description cascade tiers (parser/baike_parser.py:89-110):
# mobile li first, then the desktop hashed-class div, then the three
# alternate desktop selectors. Tier 0 is an exact-attribute match
# (bs4 class_ with a space); the rest are token matches.
_PERSON_DESC_TIERS: tuple[tuple[str, str], ...] = (
    ("li", "extra-list-item extra-lemma-desc"),
    ("div", "lemmaDescText_WLOIg"),
    ("div", "lemma-desc"),
    ("div", "basic-info"),
    ("div", "lemmaWgt-subjectNav"),
)


def extract_person_desc(html: str) -> str:
    """X6's person-title/description cascade, as-executed
    (``parser/baike_parser.py:74-112``): tiers in order, first element
    (document order) with non-empty stripped text wins. The mobile
    ``extra-list-item extra-lemma-desc`` li beats every desktop
    selector. Tiers 0-1 return ``.strip()`` text verbatim; the
    alternate selectors (tiers 2-4) additionally collapse internal
    whitespace (:104-110)."""
    p = _ClassCaptureParser(_PERSON_DESC_TIERS)
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        return ""
    for tier in range(len(_PERSON_DESC_TIERS)):
        for idx, _, buf in sorted(
            (h for h in p.hits if h[0] == tier), key=lambda h: h[1]
        ):
            text = "".join(buf).strip()
            if not text:
                continue
            if tier >= 2:
                text = _WS_RE.sub(" ", text).strip()
            return text
    return ""


def title_summary_desc_table(df: DataFrame, *, id_col: str, html_col: str) -> DataFrame:
    """X6 as mapInPandas: (id, html) → (id, title, summary,
    description, person_desc) in ONE Python pass per row — the W6
    coalesce over summary/description stays Spark-side in callers."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("title", T.StringType()),
            T.StructField("summary", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("person_desc", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = pdf[html_col].map(parse_page)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "title": parsed.map(lambda d: d["title"]),
                    "summary": parsed.map(lambda d: d["summary"]),
                    "description": parsed.map(lambda d: d["description"]),
                    "person_desc": pdf[html_col].map(extract_person_desc),
                }
            )

    return df.select(id_col, html_col).mapInPandas(run, out_schema)


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


class _ImageCascadeParser(HTMLParser):
    """Collects every <img> with the container context the cascade
    tiers key on: which abstractAlbum_* / summary-pic /
    data-module-type=image / lemma-picture div instances enclose it,
    and whether those lemma-picture instances start after the
    lemmaWgt-lemmaTitle-title div. Containers are matched on
    class TOKENS (bs4's class_ semantics)."""

    _KINDS = ("aa", "sp", "im", "lp")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.imgs: list[dict] = []  # {src, alt, order, aa/sp/im/lp: set[int]}
        self.title = ""
        self.title_div_order: int | None = None  # lemmaWgt-lemmaTitle-title
        self.lp_starts: dict[int, int] = {}  # lemma-picture instance -> order
        self._order = 0
        self._counts = dict.fromkeys(self._KINDS, 0)
        self._stack: list[tuple[str, dict[str, int]]] = []  # (tag, kind->inst)
        self._in_title = False

    @staticmethod
    def _div_kinds(attrs: dict) -> list[str]:
        toks = (attrs.get("class") or "").split()
        kinds = []
        if any(t.startswith("abstractAlbum_") for t in toks):
            kinds.append("aa")
        if "summary-pic" in toks:
            kinds.append("sp")
        if attrs.get("data-module-type") == "image":
            kinds.append("im")
        if "lemma-picture" in toks:
            kinds.append("lp")
        return kinds

    def handle_starttag(self, tag, attrs):
        self._order += 1
        attrs = dict(attrs)
        if tag == "img":
            rec = {
                "src": attrs.get("src", ""),
                "alt": attrs.get("alt", ""),
                "order": self._order,
            }
            for kind in self._KINDS:
                rec[kind] = {m[kind] for _, m in self._stack if kind in m}
            self.imgs.append(rec)
            return  # void element: never on the stack
        if tag == "title":
            self._in_title = True
        marks: dict[str, int] = {}
        if tag == "div":
            toks = (attrs.get("class") or "").split()
            if "lemmaWgt-lemmaTitle-title" in toks and self.title_div_order is None:
                self.title_div_order = self._order
            for kind in self._div_kinds(attrs):
                inst = self._counts[kind]
                self._counts[kind] += 1
                marks[kind] = inst
                if kind == "lp":
                    self.lp_starts[inst] = self._order
        if tag in _VOID_TAGS:
            return
        self._stack.append((tag, marks))

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        if tag == "title":
            self._in_title = False
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                del self._stack[i:]
                break

    def handle_data(self, data):
        if self._in_title:
            self.title += data


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
    5. if the <title> carries the ``_百度百科`` suffix, the first img
       whose alt or src contains the page name;
    6. the first img anywhere with a gate-passing src.

    Returns ``{"url": str | None, "method": int | None}`` — method is
    the 1-based tier that produced the URL (None when nothing passed),
    surfaced so tests and the oracle can pin the cascade ORDER, not
    just the final string."""
    p = _ImageCascadeParser()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        return {"url": None, "method": None}
    imgs = p.imgs

    def first_img_of(kind: str, inst: int):
        cands = [i for i in imgs if inst in i[kind]]
        return min(cands, key=lambda i: i["order"]) if cands else None

    # 1: first abstractAlbum div's first img only
    img = first_img_of("aa", 0)
    if img and img["src"] and is_valid_image_url(img["src"]):
        return {"url": img["src"], "method": 1}
    # 2: lemma-picture divs strictly after the lemma-title div, in
    # document order; first img of each, first valid wins
    if p.title_div_order is not None:
        insts = sorted(
            (o, i) for i, o in p.lp_starts.items() if o > p.title_div_order
        )
        for _, inst in insts:
            img = first_img_of("lp", inst)
            if img and img["src"] and is_valid_image_url(img["src"]):
                return {"url": img["src"], "method": 2}
    # 3 / 4: first summary-pic / image-module div's first img only
    for kind, method in (("sp", 3), ("im", 4)):
        img = first_img_of(kind, 0)
        if img and img["src"] and is_valid_image_url(img["src"]):
            return {"url": img["src"], "method": method}
    # 5: name-matched img (name from the suffixed <title> only)
    title = p.title.strip()
    if "_百度百科" in title:
        name = title.split("_百度百科")[0].strip()
        if name:
            for img in sorted(imgs, key=lambda i: i["order"]):
                if (
                    (name in img["alt"] or name in img["src"])
                    and img["src"]
                    and is_valid_image_url(img["src"])
                ):
                    return {"url": img["src"], "method": 5}
    # 6: first valid img anywhere
    for img in sorted(imgs, key=lambda i: i["order"]):
        if img["src"] and is_valid_image_url(img["src"]):
            return {"url": img["src"], "method": 6}
    return {"url": None, "method": None}


def portrait_url_table(df: DataFrame, *, id_col: str, html_col: str) -> DataFrame:
    """X7 as mapInPandas: (id, html) → (id, portrait_url, method).
    Arrow-batched like every X surface; blobs never shuffle — the
    select prunes to exactly the two input columns."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("portrait_url", T.StringType()),
            T.StructField("method", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            picked = pdf[html_col].map(select_portrait_url)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "portrait_url": picked.map(lambda d: d["url"]),
                    "method": picked.map(lambda d: d["method"]).astype("Int32"),
                }
            )

    return df.select(id_col, html_col).mapInPandas(run, out_schema)
