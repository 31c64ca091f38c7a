"""Extraction-pipeline queries: event validation (X11) with oracles,
plus the end-to-end career-structuring pipeline (X8 → X11 → explode)
over synthesized career texts.

Event rows are synthesized deterministically from ``orders`` so the
oracle can reproduce them: a mix of valid/invalid years, months, flags
and cross-type field violations keyed off ``o_orderkey`` residues.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leader_graph_spark.operators.llm import structured_extraction
from leader_graph_spark.operators.validation import repair_events, validate_events_reject
from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import load_table

_SYNTH_EVENTS_SQL = """
synth AS (
  SELECT o_orderkey AS event_id,
         CASE WHEN o_orderkey % 3 = 0 THEN 'study'
              WHEN o_orderkey % 3 = 1 THEN 'work'
              ELSE 'unknown' END AS event_type,
         year(o_orderdate) + CASE WHEN o_orderkey % 11 = 0 THEN 300 ELSE 0 END AS start_year,
         CASE WHEN o_orderkey % 5 = 0 THEN 13 ELSE month(o_orderdate) END AS start_month,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE year(o_orderdate) + 1 END AS end_year,
         month(o_orderdate) AS end_month,
         TRUE AS is_end,
         (o_orderkey % 2 = 0) AS has_end_date,
         CASE WHEN o_orderkey % 3 = 0 THEN 'School_' || o_orderstatus ELSE NULL END AS school,
         CASE WHEN o_orderkey % 3 = 1 THEN o_orderpriority
              WHEN o_orderkey % 3 = 0 AND o_orderkey % 4 = 0 THEN 'stray_place'
              ELSE NULL END AS place,
         CASE WHEN o_orderkey % 3 = 1 AND o_orderkey % 4 <> 0 THEN 'manager' ELSE NULL END AS position
  FROM orders
)
"""


def _synth_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        k.alias("event_id"),
        F.when(k % 3 == 0, "study").when(k % 3 == 1, "work").otherwise("unknown").alias(
            "event_type"
        ),
        (F.year("o_orderdate") + F.when(k % 11 == 0, 300).otherwise(0)).alias("start_year"),
        F.when(k % 5 == 0, 13).otherwise(F.month("o_orderdate")).alias("start_month"),
        F.when(k % 7 == 0, F.lit(None).cast("int"))
        .otherwise(F.year("o_orderdate") + 1)
        .alias("end_year"),
        F.month("o_orderdate").alias("end_month"),
        F.lit(True).alias("is_end"),
        (k % 2 == 0).alias("has_end_date"),
        F.when(k % 3 == 0, F.concat(F.lit("School_"), F.col("o_orderstatus"))).alias("school"),
        F.when(k % 3 == 1, F.col("o_orderpriority"))
        .when((k % 3 == 0) & (k % 4 == 0), F.lit("stray_place"))
        .alias("place"),
        F.when((k % 3 == 1) & (k % 4 != 0), F.lit("manager")).alias("position"),
    )


_REPAIR_ORACLE = f"""
WITH {_SYNTH_EVENTS_SQL},
yfix AS (
  SELECT event_id, event_type,
         CASE WHEN start_year IS NULL OR (start_year BETWEEN 1900 AND 2100) THEN start_year END AS start_year,
         CASE WHEN start_month IS NULL OR (start_month BETWEEN 1 AND 12) THEN start_month END AS start_month,
         CASE WHEN end_year IS NULL OR (end_year BETWEEN 1900 AND 2100) THEN end_year END AS end_year,
         CASE WHEN end_month IS NULL OR (end_month BETWEEN 1 AND 12) THEN end_month END AS end_month,
         is_end, has_end_date, school, place, position
  FROM synth
)
SELECT event_id, event_type, start_year, start_month, end_year, end_month,
       is_end,
       CASE WHEN end_year IS NULL THEN FALSE ELSE has_end_date END AS has_end_date,
       CASE WHEN event_type = 'work' THEN NULL ELSE school END AS school,
       CASE WHEN event_type = 'study' THEN NULL ELSE place END AS place,
       CASE WHEN event_type = 'study' THEN NULL ELSE position END AS position
FROM yfix
"""


@query("event_validation_repair", _REPAIR_ORACLE, tags=("X11-repair",))
def event_validation_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair-mode schema validation (the Qwen variant,
    ``leader/bio_processor_qwen.py:348-423``): out-of-range dates nulled,
    cross-type fields nulled, has_end_date downgraded without an end
    year — every row survives."""
    return repair_events(_synth_events(spark, sf_dir))


_CHECKS_SQL = """list_filter([
  CASE WHEN NOT (start_year IS NULL OR (start_year BETWEEN 1900 AND 2100)) THEN 'start_year_range' END,
  CASE WHEN NOT (end_year IS NULL OR (end_year BETWEEN 1900 AND 2100)) THEN 'end_year_range' END,
  CASE WHEN NOT (start_month IS NULL OR (start_month BETWEEN 1 AND 12)) THEN 'start_month_range' END,
  CASE WHEN NOT (end_month IS NULL OR (end_month BETWEEN 1 AND 12)) THEN 'end_month_range' END,
  CASE WHEN NOT (NOT (is_end AND has_end_date) OR end_year IS NOT NULL) THEN 'end_flags_need_end_year' END,
  CASE WHEN NOT (event_type <> 'study' OR school IS NOT NULL) THEN 'study_requires_school' END,
  CASE WHEN NOT (event_type <> 'study' OR (place IS NULL AND position IS NULL)) THEN 'study_excludes_work_fields' END,
  CASE WHEN NOT (event_type <> 'work' OR (place IS NOT NULL AND position IS NOT NULL)) THEN 'work_requires_place_position' END,
  CASE WHEN NOT (event_type <> 'work' OR school IS NULL) THEN 'work_excludes_school' END,
  CASE WHEN NOT (event_type IN ('study', 'work')) THEN 'known_event_type' END
], x -> x IS NOT NULL)"""

_QUARANTINE_ORACLE = f"""
WITH {_SYNTH_EVENTS_SQL}
SELECT event_id, event_type,
       array_to_string(list_sort({_CHECKS_SQL}), ',') AS violations
FROM synth
WHERE len({_CHECKS_SQL}) > 0
"""


@query("event_validation_quarantine", _QUARANTINE_ORACLE, tags=("X11-reject",))
def event_validation_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reject-mode schema validation (the GPT path,
    ``leader/bio_processor.py:449-455``): rows with ≥1 violated rule go
    to quarantine with the violated-rule list attached. The rule list is
    emitted as a sorted comma-joined scalar so the driver's pandas-based
    hasher can canonicalize it (raw array columns are unhashable there);
    the full array form stays available via ``validate_events_reject``."""
    _, quarantine = validate_events_reject(_synth_events(spark, sf_dir))
    return quarantine.select(
        "event_id",
        "event_type",
        F.array_join(F.array_sort("violations"), ",").alias("violations"),
    )


# ---------------------------------------------------------------------------
# X1 HTML extraction, driver-checked: deterministic page synthesis →
# real parse (mapInPandas, stdlib html.parser) → posexplode of sections.
# The oracle reconstructs the EXPECTED extraction output by string
# construction from the same residues — it never parses HTML — so any
# drift in the parser (title suffix strip, citation-marker cleaning,
# summary assembly, section order) breaks the hash.
# ---------------------------------------------------------------------------

_SECTIONS_ORACLE = """
WITH base AS (
  SELECT doc_id,
         'Doc ' || CAST(doc_id AS VARCHAR) AS title,
         'About doc ' || CAST(doc_id AS VARCHAR) AS description,
         CASE WHEN doc_id % 5 = 0 THEN '' ELSE 'Intro for doc ' || CAST(doc_id AS VARCHAR) || '.' END AS summary,
         '2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-15 08:30' AS update_time
  FROM documents
)
SELECT doc_id, title, description, summary, update_time,
       CAST(0 AS INT) AS sec_pos,
       'Overview ' || CAST(doc_id AS VARCHAR) AS heading,
       'Alpha content ' || CAST(doc_id AS VARCHAR) ||
       CASE WHEN doc_id % 3 = 0
            THEN chr(10) || chr(10) || '表格标题: T' || CAST(doc_id AS VARCHAR) ||
                 chr(10) || 'Year | Val' ||
                 chr(10) || CAST(doc_id % 100 AS VARCHAR) || ' | x'
            ELSE '' END AS content
FROM base
UNION ALL
SELECT doc_id, title, description, summary, update_time,
       CAST(1 AS INT) AS sec_pos,
       'Career' AS heading,
       'Worked at Org' || CAST(doc_id % 10 AS VARCHAR) || ' since 199' || CAST(doc_id % 10 AS VARCHAR) AS content
FROM base WHERE doc_id % 2 = 0
"""


def _synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HTML pages keyed off doc_id residues: suffix-bearing
    <title>, meta description, optional pre-heading summary text, an
    always-present section with a citation marker the cleaner must strip,
    and an even-doc-only second section."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        d,
        F.lit("_百度百科</title><meta name=\"description\" content=\"About doc "),
        d,
        F.lit("\"/><meta itemprop=\"dateUpdate\" content=\" 2024-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("-15 08:30 \"/></head><body>"),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("")
        ).otherwise(F.concat(F.lit("<p>Intro for doc "), d, F.lit(".</p>"))),
        F.lit("<h1>Overview "),
        d,
        F.lit("</h1><p>Alpha   content "),
        d,
        F.lit(" [3]</p>"),
        # every third doc embeds a table the parser must flatten into
        # its own content block: caption row + "cell | cell" lines
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<table><caption>T"),
                d,
                F.lit("</caption><tr><th>Year</th><th>Val [2]</th></tr><tr><td>"),
                (F.col("doc_id") % 100).cast("string"),
                F.lit("</td><td>x</td></tr></table>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<h2>Career</h2><p>Worked at Org"),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("​ since 199"),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("</p>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


@query("extracted_sections_explode", _SECTIONS_ORACLE, tags=("X1", "X6", "F2", "W5"))
def extracted_sections_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 page→content-struct extraction over synthesized HTML
    (``html_extractor/extract_content_from_remark.py:85-703``): real
    DOM-event parse via Arrow-batched mapInPandas, then one row per
    section in document order (posexplode — W5). Exercises the title
    suffix strip (F10), citation-marker/zero-width cleaning cascade
    (F2-F5) and the summary-before-first-heading rule against an oracle
    that rebuilds the expected output from the synthesis residues."""
    from leader_graph_spark.extract.html import parse_pages

    pages = _synth_pages(spark, sf_dir)
    parsed = parse_pages(pages, id_col="doc_id", html_col="html")
    return parsed.select(
        "doc_id",
        "title",
        "description",
        "summary",
        "update_time",
        F.posexplode("sections").alias("sec_pos", "sec"),
    ).select(
        "doc_id",
        "title",
        "description",
        "summary",
        "update_time",
        F.col("sec_pos").cast("int").alias("sec_pos"),
        F.col("sec.heading").alias("heading"),
        F.col("sec.content").alias("content"),
    )


# ---------------------------------------------------------------------------
# X2/X5 rule-driven infobox extraction, driver-checked: four page
# layouts keyed on doc_id % 4 exercise the reference's full THREE-rule
# cascade (extract_table_from_remark.py:279-300) — layout 0 info-title/
# info-content (plus first-hit-wins and whitespace-normalized labels),
# layout 1 dt/dd (plus synonym alternation and an absent field), layout
# 2 desktop basicInfo-item divs (plus an empty-content fallthrough),
# layout 3 MIXED: rule priority must beat document order (an earlier
# dt/dd hit loses to a later info-title hit; an earlier basicInfo hit
# loses to a later dt/dd hit) plus a rule-3-only field.
# ---------------------------------------------------------------------------

_INFOBOX_ORACLE = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'Eth0_' || CAST(doc_id % 7 AS VARCHAR)
                       WHEN 1 THEN 'Eth1_' || CAST(doc_id % 7 AS VARCHAR)
                       WHEN 2 THEN 'Eth2_' || CAST(doc_id % 7 AS VARCHAR)
                       ELSE 'EthI_' || CAST(doc_id % 7 AS VARCHAR) END AS ethnicity,
       CASE doc_id % 4 WHEN 0 THEN 'Pl0_' || CAST(doc_id % 13 AS VARCHAR)
                       WHEN 1 THEN 'Pl1_' || CAST(doc_id % 13 AS VARCHAR)
                       WHEN 2 THEN 'Pl2_' || CAST(doc_id % 13 AS VARCHAR) END AS native_place,
       CASE doc_id % 4 WHEN 0 THEN 'BD0_' || CAST(doc_id % 10 AS VARCHAR)
                       WHEN 1 THEN 'BD1_' || CAST(doc_id % 10 AS VARCHAR)
                       WHEN 2 THEN 'BD2_' || CAST(doc_id % 10 AS VARCHAR)
                       ELSE 'BD3_' || CAST(doc_id % 10 AS VARCHAR) END AS birth_date,
       CASE doc_id % 4 WHEN 0 THEN 'Un0_' || CAST(doc_id % 11 AS VARCHAR)
                       WHEN 1 THEN CASE WHEN doc_id % 5 <> 0
                                        THEN 'Un1_' || CAST(doc_id % 11 AS VARCHAR) END
                       WHEN 2 THEN 'Un2_' || CAST(doc_id % 11 AS VARCHAR)
                       ELSE 'UnD_' || CAST(doc_id % 11 AS VARCHAR) END AS alma_mater,
       CASE doc_id % 4 WHEN 0 THEN 'PS0_' || CAST(doc_id % 3 AS VARCHAR)
                       WHEN 2 THEN 'PS2_' || CAST(doc_id % 3 AS VARCHAR) END AS political_status
FROM documents
"""


def _synth_infobox_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    eth = (d % 7).cast("string")
    pl = (d % 13).cast("string")
    bd = (d % 10).cast("string")
    un = (d % 11).cast("string")
    ps = (d % 3).cast("string")

    def info(label, val):
        return F.concat(
            F.lit(f'<div class="info-title">{label}</div><div class="info-content">'),
            val,
            F.lit("</div>"),
        )

    def dtdd(label, val):
        return F.concat(F.lit(f"<dt>{label}</dt><dd>"), val, F.lit("</dd>"))

    def basic(label, val):
        return F.concat(
            F.lit(
                f'<div class="basicInfo-item name">{label}</div>'
                '<div class="basicInfo-item value">'
            ),
            val,
            F.lit("</div>"),
        )

    layout0 = F.concat(
        info("民族", F.concat(F.lit("Eth0_"), eth)),
        info("出生地", F.concat(F.lit("Pl0_"), pl)),
        info("出生日期", F.concat(F.lit("BD0_"), bd)),
        # second matching label — first-hit-wins must ignore it
        info("出生年月", F.concat(F.lit("BDX_"), bd)),
        # embedded space: label matching must whitespace-normalize
        info("毕业 院校", F.concat(F.lit("Un0_"), un)),
        info("政治面貌", F.concat(F.lit("PS0_"), ps)),
    )
    layout1 = F.concat(
        F.lit("<dl>"),
        dtdd("民族", F.concat(F.lit("Eth1_"), eth)),
        # synonym alternation: 籍贯 and 出生地 both map to native_place
        F.when(d % 2 == 0, dtdd("籍贯", F.concat(F.lit("Pl1_"), pl))).otherwise(
            dtdd("出生地", F.concat(F.lit("Pl1_"), pl))
        ),
        dtdd("出生日期", F.concat(F.lit("BD1_"), bd)),
        F.when(d % 5 != 0, dtdd("毕业院校", F.concat(F.lit("Un1_"), un))).otherwise(F.lit("")),
        F.lit("</dl>"),
    )
    layout2 = F.concat(
        basic("民族", F.concat(F.lit("Eth2_"), eth)),
        basic("籍贯", F.concat(F.lit("Pl2_"), pl)),
        basic("出生日期", F.concat(F.lit("BD2_"), bd)),
        basic("毕业院校", F.concat(F.lit("Un2_"), un)),
        # empty content: the rule must fall through to the NEXT
        # matching label element (extract_table_from_remark.py:424-427)
        F.lit(
            '<div class="basicInfo-item name">政治面貌</div>'
            '<div class="basicInfo-item value"></div>'
        ),
        basic("政治面貌", F.concat(F.lit("PS2_"), ps)),
    )
    layout3 = F.concat(
        # dt/dd hit FIRST in document order — must lose to the
        # info-title hit below (rule 1 outranks rule 2)
        F.lit("<dl>"),
        dtdd("民族", F.concat(F.lit("EthD_"), eth)),
        F.lit("</dl>"),
        info("民族", F.concat(F.lit("EthI_"), eth)),
        # basicInfo hit FIRST — must lose to the dt/dd hit below
        # (rule 2 outranks rule 3)
        basic("毕业院校", F.concat(F.lit("UnB_"), un)),
        F.lit("<dl>"),
        dtdd("毕业院校", F.concat(F.lit("UnD_"), un)),
        F.lit("</dl>"),
        # rule-3-only path: no info-title, no dt carries this label
        basic("出生日期", F.concat(F.lit("BD3_"), bd)),
    )
    body = (
        F.when(d % 4 == 0, layout0)
        .when(d % 4 == 1, layout1)
        .when(d % 4 == 2, layout2)
        .otherwise(layout3)
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    return docs.select("doc_id", html.alias("html"))


@query("infobox_person_details", _INFOBOX_ORACLE, tags=("X2", "X5", "F14"))
def infobox_person_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X5 config-driven infobox extraction over four synthesized
    page layouts (``html_extractor/extract_table_from_remark.py:268-439``,
    ``parser/baike_parser.py:261-407``): real HTML parse via
    Arrow-batched mapInPandas, one output column per configured field.
    The full three-rule cascade (info-title→info-content, dt→dd,
    basicInfo-item→next basicInfo-item), per-field rule priority over
    document order, first-hit-wins within a rule, empty-content
    fallthrough, synonym alternation and whitespace-normalized label
    matching are all under the value hash — the oracle rebuilds every
    expected field from the synthesis residues without parsing."""
    from leader_graph_spark.extract.html import PERSON_DETAIL_MAPPING, extract_infobox_table

    pages = _synth_infobox_pages(spark, sf_dir)
    return extract_infobox_table(
        pages, id_col="doc_id", html_col="html", field_mapping=PERSON_DETAIL_MAPPING
    )


# ---------------------------------------------------------------------------
# X3 leader-link harvest (UDTF shape), driver-checked: anchors under a
# keyword-matched heading → (name, url, uuid) rows. Exercises heading
# gating, /item/ filtering, paren-strip + whitespace name cleaning, the
# P6 validity heuristic (blacklist, length≤4-or-dotted), relative-URL
# absolutization (F8), query-string strip (F7) and md5 uuids (F1).
# ---------------------------------------------------------------------------

_LINKS_ORACLE = """
WITH base AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
SELECT doc_id, 'Li' AS name,
       'https://example.org/item/P' || CAST(doc_id AS VARCHAR) AS url,
       md5('https://example.org/item/P' || CAST(doc_id AS VARCHAR)) AS uuid
FROM base
UNION ALL
SELECT doc_id, 'Wang',
       'https://example.org/item/Q' || CAST(doc_id AS VARCHAR),
       md5('https://example.org/item/Q' || CAST(doc_id AS VARCHAR))
FROM base
UNION ALL
SELECT doc_id, 'A·BCDE',
       'https://other.org/item/T' || CAST(doc_id AS VARCHAR),
       md5('https://other.org/item/T' || CAST(doc_id AS VARCHAR))
FROM base WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id, '张伟',
       'https://example.org/item/W' || CAST(doc_id AS VARCHAR),
       md5('https://example.org/item/W' || CAST(doc_id AS VARCHAR))
FROM base
UNION ALL
SELECT doc_id, '阿·主任江',
       'https://example.org/item/X' || CAST(doc_id AS VARCHAR),
       md5('https://example.org/item/X' || CAST(doc_id AS VARCHAR))
FROM base
"""


def _synth_link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leadership heading (keyword match) on even docs only; odd docs
    carry the same anchors under a non-matching heading. Anchor mix:
    valid short name, paren-suffixed name + query-stringed href,
    blacklisted name, non-/item/ href, and (every third doc) an
    absolute URL with a dotted long name."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = d.cast("string")
    html = F.concat(
        F.lit("<html><body>"),
        F.when(d % 2 == 0, F.lit("<h2>Leadership</h2>")).otherwise(F.lit("<h2>Members</h2>")),
        F.lit('<a href="/item/P'), s, F.lit('">Li</a>'),
        F.lit('<a href="/item/Q'), s, F.lit('?from=x">Wang（主任）</a>'),
        F.lit('<a href="/item/R'), s, F.lit('">Invalid Person</a>'),
        F.lit('<a href="/other/S'), s, F.lit('">Zhao</a>'),
        # reference-realistic blacklist hits: a 2-char 职务 phrase and a
        # 3-char 民族 term, both ≤4 chars so the keyword branch decides
        # (update_c_org_leader_info.py:68-71) — must be dropped
        F.lit('<a href="/item/U'), s, F.lit('">厅长</a>'),
        F.lit('<a href="/item/V'), s, F.lit('">蒙古族</a>'),
        # a plain valid 2-char name — must be kept
        F.lit('<a href="/item/W'), s, F.lit('">张伟</a>'),
        # dotted 5-char name CONTAINING a keyword: the >4-char branch
        # returns valid on the dot alone, blacklist bypassed (:63-66)
        F.lit('<a href="/item/X'), s, F.lit('">阿·主任江</a>'),
        F.when(
            d % 3 == 0,
            F.concat(F.lit('<a href="https://other.org/item/T'), s, F.lit('">A·BCDE</a>')),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


@query("person_links_harvest", _LINKS_ORACLE, tags=("X3", "P6", "F1", "F6", "F7", "F8"))
def person_links_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 leader-link UDTF shape over synthesized pages
    (``leader/update_c_org_leader_info.py:75-206``): one page row → N
    harvested (name, url, uuid) rows via flatMap-shaped mapInPandas.
    Heading gating, name cleaning/validity, URL canonicalization and
    md5 uuids are all under the value hash; the oracle rebuilds the
    expected link set from the synthesis residues."""
    from leader_graph_spark.extract.html import extract_links_table

    pages = _synth_link_pages(spark, sf_dir)
    return extract_links_table(pages, id_col="doc_id", html_col="html")


# ---------------------------------------------------------------------------
# X4 career-section lines, driver-checked: date-led career text under a
# keyword-matched heading → cleaned per-line rows in document order.
# ---------------------------------------------------------------------------

_CAREER_LINES_ORACLE = """
SELECT doc_id, CAST(0 AS INT) AS pos,
       printf('199%d.0%d-199%d.0%d Staff at Org%d',
              doc_id % 5, doc_id % 9 + 1, doc_id % 5 + 5, doc_id % 9 + 1, doc_id % 10) AS line
FROM documents
UNION ALL
SELECT doc_id, CAST(1 AS INT) AS pos,
       printf('199%d.0%d-199%d.0%d Manager at Org%d',
              (doc_id + 1) % 5, (doc_id + 2) % 9 + 1, (doc_id + 1) % 5 + 5,
              (doc_id + 2) % 9 + 1, (doc_id + 3) % 10) AS line
FROM documents WHERE doc_id % 4 <> 0
"""


def _synth_career_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    line1 = F.format_string(
        "199%d.0%d-199%d.0%d Staff at Org%d",
        d % 5, d % 9 + 1, d % 5 + 5, d % 9 + 1, d % 10
    )
    line2 = F.format_string(
        "199%d.0%d-199%d.0%d Manager at Org%d",
        (d + 1) % 5, (d + 2) % 9 + 1, (d + 1) % 5 + 5, (d + 2) % 9 + 1, (d + 3) % 10
    )
    html = F.concat(
        F.lit("<html><body><h2>人物履历</h2><p>"),
        line1,
        F.lit("</p>"),
        F.when(d % 4 != 0, F.concat(F.lit("<p>"), line2, F.lit("</p>"))).otherwise(F.lit("")),
        F.lit("<h2>后记</h2><p>Tail text ignored by the career extractor.</p></body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


@query("career_section_lines", _CAREER_LINES_ORACLE, tags=("X4", "F2", "F4"))
def career_section_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 career-section extraction over synthesized pages
    (``parser/baike_parser.py:114-208``): the 人物履历 section located by
    keyword (substring semantics, F14 variant 2), its text re-split on
    date-led line starts, each line cleaned — exploded to (doc_id, pos,
    line) rows. The trailing non-career section must be ignored; the
    oracle rebuilds the expected lines from the synthesis residues."""
    from leader_graph_spark.extract.html import career_lines_table

    pages = _synth_career_pages(spark, sf_dir)
    return career_lines_table(pages, id_col="doc_id", html_col="html")


# ---------------------------------------------------------------------------
# X6 title/summary fallback cascade, driver-checked: pages synthesized
# with systematically missing pieces — no <title> on every 4th doc
# (title must fall back to the first heading), no pre-heading text on
# d%3∈{0,2} (summary falls back to the meta description), and no meta
# description either on d%3==2 (summary collapses to '').
# ---------------------------------------------------------------------------

_TITLE_SUMMARY_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0 THEN 'Overview ' || CAST(doc_id AS VARCHAR)
            ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS title,
       CASE WHEN doc_id % 3 = 1 THEN 'Intro for doc ' || CAST(doc_id AS VARCHAR) || '.'
            WHEN doc_id % 3 = 0 THEN 'About doc ' || CAST(doc_id AS VARCHAR)
            ELSE '' END AS summary,
       CASE WHEN doc_id % 5 = 0 THEN 'DescM ' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 5 = 1 THEN 'DescD ' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 5 = 2 THEN 'Desc L ' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 5 = 3 THEN 'DescB ' || CAST(doc_id AS VARCHAR)
            ELSE '' END AS person_desc
FROM documents
"""


def _synth_fallback_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = d.cast("string")
    html = F.concat(
        F.lit("<html><head>"),
        F.when(
            d % 4 != 0,
            F.concat(F.lit("<title>Doc "), s, F.lit("_百度百科</title>")),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 != 2,
            F.concat(F.lit('<meta name="description" content="About doc '), s, F.lit('"/>')),
        ).otherwise(F.lit("")),
        F.lit("</head><body>"),
        F.when(
            d % 3 == 1, F.concat(F.lit("<p>Intro for doc "), s, F.lit(".</p>"))
        ).otherwise(F.lit("")),
        F.lit("<h1>Overview "),
        s,
        F.lit("</h1><p>Body "),
        s,
        F.lit("</p>"),
        # person-desc cascade material (after the heading so it cannot
        # pollute the pre-heading summary): d%5==0 plants BOTH the
        # mobile li and the desktop div — mobile must win; 1 desktop
        # only; 2 the lemma-desc alternate (with internal whitespace
        # the tier must collapse); 3 the basic-info alternate; 4 none.
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit('<li class="extra-list-item extra-lemma-desc">DescM '),
                s,
                F.lit('</li><div class="lemmaDescText_WLOIg">DescD '),
                s,
                F.lit("</div>"),
            ),
        )
        .when(
            d % 5 == 1,
            F.concat(F.lit('<div class="lemmaDescText_WLOIg">DescD '), s, F.lit("</div>")),
        )
        .when(
            d % 5 == 2,
            F.concat(F.lit('<div class="lemma-desc">Desc  L '), s, F.lit("</div>")),
        )
        .when(
            d % 5 == 3,
            F.concat(F.lit('<div class="basic-info">DescB '), s, F.lit("</div>")),
        )
        .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


@query("title_summary_fallbacks", _TITLE_SUMMARY_ORACLE, tags=("X6", "F10", "W6"))
def title_summary_fallbacks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 title/summary/person-desc extraction with every fallback
    cascade under the value hash (``parser/baike_parser.py:74-113,
    210-259``): title = suffix-stripped <title> falling back to the
    first heading; summary = pre-heading text falling back to the meta
    description (the W6 first-valid-wins shape as a coalesce over
    extraction stages); person_desc = the five-tier cascade with the
    MOBILE ``extra-list-item extra-lemma-desc`` li outranking the
    desktop ``lemmaDescText_WLOIg`` div and the three alternate
    selectors (:89-110). The oracle rebuilds all columns from which
    pieces each synthesized page omits."""
    from leader_graph_spark.extract.html import title_summary_desc_table

    pages = _synth_fallback_pages(spark, sf_dir)
    parsed = title_summary_desc_table(pages, id_col="doc_id", html_col="html")
    return parsed.select(
        "doc_id",
        "title",
        F.when(F.length("summary") > 0, F.col("summary"))
        .otherwise(F.col("description"))
        .alias("summary"),
        "person_desc",
    )


# ---------------------------------------------------------------------------
# X10 news extraction, driver-checked: deterministic leader-activity
# news text → nested-struct extraction (mapInPandas stub backend) →
# scalar flatten. Exercises leader-title matching (absent for every
# 7th doc), location/verb capture, and the two list fields (targets
# always, accompanying absent for every 5th doc).
# ---------------------------------------------------------------------------

_NEWS_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 7 <> 0 THEN 'Ldr' || CAST(doc_id % 9 AS VARCHAR) END AS leader,
       'City' || CAST(doc_id % 5 AS VARCHAR) AS location,
       CASE WHEN doc_id % 2 = 0 THEN '调研' ELSE '考察' END AS event,
       'T' || CAST(doc_id % 4 AS VARCHAR) || ',' || 'T' || CAST((doc_id + 1) % 4 AS VARCHAR) AS targets,
       CASE WHEN doc_id % 5 = 0 THEN ''
            ELSE 'A' || CAST(doc_id % 6 AS VARCHAR) || ',' || 'A' || CAST((doc_id + 2) % 6 AS VARCHAR)
       END AS accompanying
FROM documents
"""


def _synth_news_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    text = F.concat(
        F.when(
            d % 7 != 0, F.concat(F.lit("Ldr"), (d % 9).cast("string"), F.lit("书记"))
        ).otherwise(F.lit("")),
        F.lit("在City"),
        (d % 5).cast("string"),
        F.when(d % 2 == 0, F.lit("调研")).otherwise(F.lit("考察")),
        F.lit("T"),
        (d % 4).cast("string"),
        F.lit("、T"),
        ((d + 1) % 4).cast("string"),
        F.lit("等。"),
        F.when(
            d % 5 != 0,
            F.concat(
                F.lit("陪同的有A"),
                (d % 6).cast("string"),
                F.lit("、A"),
                ((d + 2) % 6).cast("string"),
                F.lit("等。"),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", text.alias("text"))


@query("news_entity_extraction", _NEWS_ORACLE, tags=("X10", "P9"))
def news_entity_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 news-entity extraction over synthesized leader-activity
    stories (``src/news_processor.py:60-132``): the deterministic
    backend pulls the nested NewsExtraction struct via mapInPandas and
    the query flattens it to driver-hashable scalars (lists joined with
    ','). The oracle rebuilds every expected field from the synthesis
    residues — title-gated leader capture, location/verb parsing and
    both list fields sit under the value hash."""
    from leader_graph_spark.operators.llm import news_extraction

    texts = _synth_news_texts(spark, sf_dir)
    out = news_extraction(texts, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id",
        F.col("news.leader").alias("leader"),
        F.col("news.location").alias("location"),
        F.col("news.event").alias("event"),
        F.array_join("news.targets", ",").alias("targets"),
        F.array_join("news.accompanying", ",").alias("accompanying"),
    )


# ---------------------------------------------------------------------------
# P9 classifier gate, driver-checked: synthesized titles → stub
# boolean classifier (mapInPandas) → filter to positives. The rule is
# SQL-reproducible, so the gate's keep-set sits under the value hash.
# ---------------------------------------------------------------------------

_CLASSIFIER_ORACLE = """
WITH titled AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'Ldr' || CAST(doc_id AS VARCHAR) || '在City调研企业'
              WHEN doc_id % 3 = 1 THEN '市场快讯' || CAST(doc_id AS VARCHAR)
              ELSE 'Ldr' || CAST(doc_id AS VARCHAR) || '考察工厂' END AS title
  FROM documents
)
SELECT doc_id, title, TRUE AS is_leader_activity
FROM titled WHERE doc_id % 3 <> 1
"""


@query("news_title_gate", _CLASSIFIER_ORACLE, tags=("P9",))
def news_title_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 LLM-classifier filter (``src/news_demo.py:46-105``): the
    model-backed boolean gates which rows reach the expensive
    extraction stage — here the deterministic stub backend over
    synthesized titles, filtered to positives, with the keep-set under
    the value hash. The filter runs BEFORE extraction, so two thirds
    of the corpus never pays the per-row backend cost."""
    from leader_graph_spark.operators.llm import classify_news_titles

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    titled = docs.select(
        "doc_id",
        F.when(d % 3 == 0, F.concat(F.lit("Ldr"), d.cast("string"), F.lit("在City调研企业")))
        .when(d % 3 == 1, F.concat(F.lit("市场快讯"), d.cast("string")))
        .otherwise(F.concat(F.lit("Ldr"), d.cast("string"), F.lit("考察工厂")))
        .alias("title"),
    )
    classified = classify_news_titles(titled, id_col="doc_id", title_col="title")
    return classified.filter(F.col("is_leader_activity"))


# ---------------------------------------------------------------------------
# F14 both match semantics, driver-checked: the reference uses EXACT
# heading equality for org content but SUBSTRING containment for leader
# content — two different operators that must not be conflated.
# ---------------------------------------------------------------------------

_HEADING_MATCH_ORACLE = """
WITH h AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN '机构领导' WHEN 1 THEN '领导'
                         WHEN 2 THEN 'Career' ELSE '简介' END AS heading
  FROM documents
)
SELECT doc_id, heading,
       heading IN ('领导', 'Career') AS exact_match,
       (contains(heading, '领导') OR contains(heading, 'Career')) AS substring_match
FROM h
"""


@query("heading_match_semantics", _HEADING_MATCH_ORACLE, tags=("F14",))
def heading_match_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14's two match semantics side by side
    (``html_extractor/extract_content_from_remark.py:793-798`` exact
    equality vs ``leader/extract_org_leader_info.py:166-171``
    substring): '机构领导' fails the exact match against '领导' but
    passes the substring match — the distinction the extraction rules
    depend on, now under the value hash. Spark: ``array_contains`` on a
    literal array vs ``exists(..., contains)`` — both whole-stage
    codegen, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    heading = (
        F.when(d % 4 == 0, F.lit("机构领导"))
        .when(d % 4 == 1, F.lit("领导"))
        .when(d % 4 == 2, F.lit("Career"))
        .otherwise(F.lit("简介"))
    )
    matches = F.array(F.lit("领导"), F.lit("Career"))
    h = docs.select("doc_id", heading.alias("heading"))
    return h.select(
        "doc_id",
        "heading",
        F.array_contains(matches, F.col("heading")).alias("exact_match"),
        F.exists(matches, lambda m: F.col("heading").contains(m)).alias("substring_match"),
    )


# ---------------------------------------------------------------------------
# F20/F22 sink-side name handling, driver-checked: safe-filename
# sanitization + overflow truncation over synthesized messy names.
# ---------------------------------------------------------------------------

_SAFE_NAME_ORACLE = """
WITH raw AS (
  SELECT doc_id,
         'Report ' || source || '/' || CAST(doc_id AS VARCHAR) || ' (' || lang || ').json' AS raw_name
  FROM documents
)
SELECT doc_id, raw_name,
       regexp_replace(raw_name, '[^\\w\\-\\.]', '_', 'g') AS safe_name,
       left(raw_name, 20) AS truncated
FROM raw
"""


@query("sink_safe_filenames", _SAFE_NAME_ORACLE, tags=("F20", "F22", "K3"))
def sink_safe_filenames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 safe-filename sanitization (``utils/file_utils.py:20-37``:
    every non-[word/dash/dot] char → '_') and F22 overflow truncation
    (``org/update_c_org_info_remark.py:263-273``) over synthesized
    messy sink names — both pure column expressions; parity pins the
    ASCII \\w semantics shared by Java regex and RE2."""
    from leader_graph_spark.functions.scalar import safe_filename, truncate_chars

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("Report "),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit(" ("),
            F.col("lang"),
            F.lit(").json"),
        ).alias("raw_name"),
    )
    return raw.select(
        "doc_id",
        "raw_name",
        safe_filename(F.col("raw_name")).alias("safe_name"),
        truncate_chars(F.col("raw_name"), 20).alias("truncated"),
    )


_CAREER_ORACLE = """
SELECT o_custkey,
       'work' AS event_type,
       CAST(year(o_orderdate) AS INT) AS start_year,
       CAST(month(o_orderdate) AS INT) AS start_month,
       CAST(year(o_orderdate) + 1 AS INT) AS end_year,
       CAST(month(o_orderdate) AS INT) AS end_month,
       TRUE AS is_end,
       TRUE AS has_end_date,
       CAST(NULL AS VARCHAR) AS school,
       'worked as clerk at Store' || CAST(o_orderkey AS VARCHAR) AS place,
       'worked as clerk at Store' || CAST(o_orderkey AS VARCHAR) AS position
FROM orders
"""


@query("career_structuring_pipeline", _CAREER_ORACLE, tags=("X8", "X11", "F18"))
def career_structuring_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end X8→X11 pipeline: per-customer career text synthesized
    from order history, structured into typed events by the
    deterministic stub backend (mapInPandas — the LLM seam), validated
    in reject mode, exploded to one row per valid event. The career
    lines derive from orders by fixed formatting and the stub parses by
    rule, so the oracle reconstructs every expected event field straight
    from orders — line parsing, date math, study/work classification and
    validation survival are all under the value hash."""
    orders = load_table(spark, sf_dir, "orders")
    lines = orders.select(
        "o_custkey",
        F.format_string(
            "%d.%02d-%d.%02d worked as clerk at Store%d",
            F.year("o_orderdate"),
            F.month("o_orderdate"),
            F.year("o_orderdate") + 1,
            F.month("o_orderdate"),
            F.col("o_orderkey"),
        ).alias("line"),
        F.struct("o_orderdate", "o_orderkey").alias("ord"),
    )
    texts = lines.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "line"))), lambda s: s.line
            ),
            "\n",
        ).alias("career_text")
    )
    extracted = structured_extraction(
        texts, id_col="o_custkey", text_col="career_text", output_col="events"
    )
    exploded = extracted.select("o_custkey", F.explode("events").alias("e")).select(
        "o_custkey", "e.*"
    )
    valid, _ = validate_events_reject(exploded)
    return valid


# ---------------------------------------------------------------------------
# X7 portrait-URL DOM cascade, driver-checked: deterministic page
# synthesis plants an image at exactly one cascade tier per doc_id
# residue class — including decoys an earlier tier must REJECT (an
# invalid abstractAlbum img, a pre-title lemma-picture, a valid
# anonymous img ahead of the name-matched one) — so the value hash pins
# the cascade ORDER, not just string plumbing. The oracle rebuilds the
# winning URL and 1-based method from the residues without parsing.
# ---------------------------------------------------------------------------

_PORTRAIT_ORACLE = """
SELECT doc_id,
       CASE doc_id % 8
         WHEN 0 THEN 'http://ex.com/pic/aa' || CAST(doc_id AS VARCHAR) || '.jpg'
         WHEN 1 THEN 'http://ex.com/pic/lp' || CAST(doc_id AS VARCHAR) || '.jpg'
         WHEN 2 THEN 'http://ex.com/pic/sp' || CAST(doc_id AS VARCHAR) || '.jpg'
         WHEN 3 THEN 'http://ex.com/pic/im' || CAST(doc_id AS VARCHAR) || '.jpg'
         WHEN 4 THEN 'http://ex.com/pic/nm' || CAST(doc_id AS VARCHAR) || '.jpg'
         WHEN 5 THEN 'http://ex.com/pic/any' || CAST(doc_id AS VARCHAR) || '.jpg'
       END AS portrait_url,
       CASE doc_id % 8
         WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3
         WHEN 3 THEN 4 WHEN 4 THEN 5 WHEN 5 THEN 6
       END AS method
FROM documents
"""


def _synth_portrait_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    pic = lambda tag: F.concat(  # noqa: E731
        F.lit(f"http://ex.com/pic/{tag}"), ds, F.lit(".jpg")
    )
    bad = F.concat(F.lit("http://ex.com/img/icon"), ds, F.lit(".png"))
    img = lambda src: F.concat(F.lit("<img src='"), src, F.lit("'>"))  # noqa: E731
    title_div = F.lit("<div class='lemmaWgt-lemmaTitle-title'><h1>P</h1></div>")
    body = (
        # tier 1: valid img in the first abstractAlbum_* div
        F.when(d % 8 == 0, F.concat(
            F.lit("<div class='abstractAlbum_q'>"), img(pic("aa")), F.lit("</div>")
        ))
        # tier 2: invalid abstractAlbum img (tier-1 decoy), a PRE-title
        # lemma-picture that must be skipped, then the post-title winner
        .when(d % 8 == 1, F.concat(
            F.lit("<div class='abstractAlbum_q'>"), img(bad), F.lit("</div>"),
            F.lit("<div class='lemma-picture'>"), img(pic("pre")), F.lit("</div>"),
            title_div,
            F.lit("<div class='lemma-picture'>"), img(pic("lp")), F.lit("</div>"),
        ))
        # tier 3: pre-title lemma-picture decoy + summary-pic winner
        .when(d % 8 == 2, F.concat(
            F.lit("<div class='lemma-picture'>"), img(pic("pre")), F.lit("</div>"),
            title_div,
            F.lit("<div class='summary-pic'>"), img(pic("sp")), F.lit("</div>"),
        ))
        # tier 4: image module
        .when(d % 8 == 3, F.concat(
            F.lit("<div data-module-type='image'>"), img(pic("im")), F.lit("</div>"),
        ))
        # tier 5: valid anonymous img FIRST (tier-6 decoy), then the
        # name-matched img that must win at tier 5
        .when(d % 8 == 4, F.concat(
            F.lit("<p>"), img(pic("first")), F.lit("</p><p><img alt='Person"),
            ds, F.lit("' src='"), pic("nm"), F.lit("'></p>"),
        ))
        # tier 6: one generic valid img
        .when(d % 8 == 5, F.concat(F.lit("<p>"), img(pic("any")), F.lit("</p>")))
        # only-invalid and no-image pages -> NULL
        .when(d % 8 == 6, img(bad))
        .otherwise(F.lit("<p>no images</p>"))
    )
    html = F.concat(
        F.lit("<html><head><title>Person"), ds,
        F.lit("_百度百科</title></head><body>"), body, F.lit("</body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


@query("portrait_url_cascade", _PORTRAIT_ORACLE, tags=("X7", "P8", "W6"))
def portrait_url_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 six-method portrait-image selection
    (``leader/update_leader_img_url.py:130-218``) over synthesized
    pages: real DOM-event parse + cascade via Arrow-batched
    mapInPandas (``extract/html.py:select_portrait_url``), emitting the
    winning URL and its 1-based method. Decoy images force each tier
    to actually reject before the winner's tier fires, so the cascade
    order sits under the value hash."""
    from leader_graph_spark.extract.html import portrait_url_table

    pages = _synth_portrait_pages(spark, sf_dir)
    return portrait_url_table(pages, id_col="doc_id", html_col="html")


# ---------------------------------------------------------------------------
# X1 sectioning fallback chain, driver-checked: headingless pages per
# residue class — bare table → 表格内容 table section; paragraph text →
# 正文内容 catch-all; under-length text → zero sections (explode drops
# the doc). The oracle rebuilds the fallback outputs from the residues.
# ---------------------------------------------------------------------------

_FALLBACK_ORACLE = """
SELECT doc_id,
       '表格内容' AS heading,
       'K' || CAST(doc_id % 10 AS VARCHAR) || ' | V' || CAST(doc_id % 7 AS VARCHAR) AS content
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id,
       '正文内容' AS heading,
       'Paragraph body for doc ' || CAST(doc_id AS VARCHAR) AS content
FROM documents WHERE doc_id % 3 = 1
"""


def _synth_headingless_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    body = (
        # r=0: no headings, one bare table -> fallback table section
        F.when(d % 3 == 0, F.concat(
            F.lit("<p>tiny</p><table><tr><td>K"), (d % 10).cast("string"),
            F.lit("</td><td>V"), (d % 7).cast("string"), F.lit("</td></tr></table>"),
        ))
        # r=1: paragraphs only -> 正文内容 catch-all; the leading short
        # paragraph must drop under the PER-paragraph >5-char filter
        # (extract_content_from_remark.py:676-684) even though longer
        # text follows — the oracle carries only the long paragraph
        .when(d % 3 == 1, F.concat(
            F.lit("<p>tiny</p><p>Paragraph body for doc "), ds, F.lit("</p>"),
        ))
        # r=2: under-length text only -> no sections at all
        .otherwise(F.lit("<p>tiny</p>"))
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    return docs.select("doc_id", html.alias("html"))


@query("sectioning_fallback_report", _FALLBACK_ORACLE, tags=("X1-fallback",))
def sectioning_fallback_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1's fallback sectioning chain
    (``html_extractor/extract_content_from_remark.py:630-684``) over
    synthesized headingless pages: real parse via mapInPandas, one row
    per fallback section. Pins all three outcomes — table pages yield
    a ``表格内容`` section with the flattened ``a | b`` row (and the
    page's short text stays OUT of it), paragraph pages yield the
    ``正文内容`` catch-all, and under-length pages yield nothing."""
    from leader_graph_spark.extract.html import parse_pages

    pages = _synth_headingless_pages(spark, sf_dir)
    parsed = parse_pages(pages, id_col="doc_id", html_col="html")
    return parsed.select("doc_id", F.explode("sections").alias("sec")).select(
        "doc_id",
        F.col("sec.heading").alias("heading"),
        F.col("sec.content").alias("content"),
    )
