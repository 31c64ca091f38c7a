"""Fixture tests for the UDF-surface operators: HTML extraction
(X1-X3), LLM-stub structuring (X8), validation (X11) — the reference's
demo fixtures (src/bio_demo.py) recast as unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from leader_graph_spark.extract.html import (
    extract_infobox,
    extract_links_table,
    extract_person_links,
    parse_page,
    parse_pages,
)
from leader_graph_spark.operators.llm import DeterministicFakeBackend, structured_extraction
from leader_graph_spark.operators.validation import repair_events, validate_events_reject

FIXTURE_HTML = """
<html><head><title>张伟_百度百科</title>
<meta name="description" content="张伟，男，汉族[1]。">
</head><body>
<p>张伟，男，汉族，1962年10月生。[1]</p>
<h2>人物履历</h2>
<p>1980.09-1984.07 北京大学学习</p>
<p>1984.07-1990.01 某单位工作[2]</p>
<h2>机构领导</h2>
<ul>
  <li><a href="/item/%E5%BC%A0%E4%B8%89?from=tag">张三</a></li>
  <li><a href="/item/LiSi">李四（主任）</a></li>
  <li><a href="/item/TooLongNameHereInvalid">机构设置与主要职责说明</a></li>
  <li><a href="/other/nope">王五</a></li>
</ul>
<h2>基本信息</h2>
<dl><dt>民 族</dt><dd>汉族</dd><dt>出生地</dt><dd>北京[3]</dd></dl>
</body></html>
"""


def test_parse_page_sections_and_cleaning():
    page = parse_page(FIXTURE_HTML)
    assert page["title"] == "张伟"  # F10 suffix strip applied
    assert "汉族" in page["description"] and "[1]" not in page["description"]
    headings = [s["heading"] for s in page["sections"]]
    assert headings == ["人物履历", "机构领导", "基本信息"]
    career = page["sections"][0]["content"]
    assert "1980.09-1984.07 北京大学学习" in career
    assert "[2]" not in career  # citation marks stripped
    assert "1962年10月生" in page["summary"]


def test_extract_infobox_first_hit_wins():
    mapping = {"ethnicity": ["民族"], "birth_place": ["出生地", "籍贯"], "missing": ["学历"]}
    out = extract_infobox(FIXTURE_HTML, mapping)
    assert out["ethnicity"] == "汉族"
    assert out["birth_place"] == "北京"  # citation stripped
    assert out["missing"] is None


def test_extract_infobox_void_elements_and_nested_tags():
    # <br>/<img> are void elements: they must not shift the dd context, so
    # multi-chunk cells keep all their text (reference: bs4 get_text() sees
    # through them). Nested <a> inside a dd must not drop the pair either.
    html = (
        "<html><body><dl>"
        "<dt>主要成就</dt><dd>线路一<br>线路二<img src='x.png'>线路三</dd>"
        "<dt>毕业院校</dt><dd><a href='/item/北大'>北京大学</a></dd>"
        "<dt>民 族</dt><dd>汉族</dd>"
        "</dl></body></html>"
    )
    mapping = {
        "achievements": ["主要成就"],
        "alma_mater": ["毕业院校"],
        "ethnicity": ["民族"],
    }
    out = extract_infobox(html, mapping)
    assert out["achievements"] == "线路一 线路二 线路三"
    assert out["alma_mater"] == "北京大学"
    assert out["ethnicity"] == "汉族"


def test_extract_person_links_validation_and_uuid():
    links = extract_person_links(FIXTURE_HTML, heading_keywords=("机构领导",))
    names = [l["name"] for l in links]
    assert names == ["张三", "李四"]  # paren stripped, invalid + non-item dropped
    assert all(len(l["uuid"]) == 32 for l in links)
    assert all("?" not in l["url"] for l in links)


def test_parse_pages_spark_surface(spark):
    df = spark.createDataFrame([(1, FIXTURE_HTML), (2, "<p>no headings</p>")], "id int, html string")
    out = {r.id: r for r in parse_pages(df, id_col="id", html_col="html").collect()}
    assert len(out[1].sections) == 3
    # headingless page: the round-9 sectioning fallback yields the
    # 正文内容 catch-all section; summary keeps the pre-heading text
    assert [tuple(s) for s in out[2].sections] == [("正文内容", "no headings")]
    assert out[2].summary == "no headings"


def test_extract_links_table_udtf_shape(spark):
    df = spark.createDataFrame([(1, FIXTURE_HTML)], "org_id int, html string")
    rows = extract_links_table(df, id_col="org_id", html_col="html").collect()
    assert {(r.org_id, r.name) for r in rows} == {(1, "张三"), (1, "李四")}


def test_fake_backend_parses_career_lines():
    text = "1980.09-1984.07 北京大学学习\n1984.07-1990.01 某单位工作\n2020.01-今 现职工作"
    events = DeterministicFakeBackend().extract(text)
    assert len(events) == 3
    assert events[0]["event_type"] == "study" and events[0]["school"]
    assert events[0]["start_year"] == 1980 and events[0]["start_month"] == 9
    assert events[1]["event_type"] == "work" and events[1]["place"]
    assert events[2]["is_end"] is False and events[2]["end_year"] is None


def test_structured_extraction_spark(spark):
    df = spark.createDataFrame(
        [(1, "1980.09-1984.07 university study"), (2, "no events here")],
        "id int, career string",
    )
    out = {
        r.id: r
        for r in structured_extraction(df, id_col="id", text_col="career").collect()
    }
    assert len(out[1].events) == 1
    assert out[1].events[0].event_type == "study"
    assert out[2].events == []


def test_validation_reject_and_repair(spark):
    rows = [
        # valid work event
        (1, "work", 2000, 1, 2005, 12, True, True, None, "place", "pos"),
        # study with stray place → reject / repair nulls place
        (2, "study", 2000, 1, 2005, 12, True, True, "school", "stray", None),
        # out-of-range year → reject / repair nulls year
        (3, "work", 2300, 1, 2305, 12, True, True, None, "p", "q"),
    ]
    schema = (
        "event_id int, event_type string, start_year int, start_month int, end_year int,"
        " end_month int, is_end boolean, has_end_date boolean, school string, place string,"
        " position string"
    )
    df = spark.createDataFrame(rows, schema)
    valid, quarantine = validate_events_reject(df)
    assert [r.event_id for r in valid.collect()] == [1]
    q = {r.event_id: r.violations for r in quarantine.collect()}
    assert "study_excludes_work_fields" in q[2]
    assert "start_year_range" in q[3] and "end_year_range" in q[3]

    repaired = {r.event_id: r for r in repair_events(df).collect()}
    assert repaired[2].place is None and repaired[2].school == "school"
    assert repaired[3].start_year is None and repaired[3].end_year is None
    assert repaired[3].has_end_date is False  # downgraded with the nulled end year


def test_career_sections_and_details():
    from leader_graph_spark.extract.html import (
        extract_career_sections,
        extract_person_details,
        extract_title_summary,
    )

    lines = extract_career_sections(FIXTURE_HTML)
    assert lines == ["1980.09-1984.07 北京大学学习", "1984.07-1990.01 某单位工作"]
    details = extract_person_details(FIXTURE_HTML)
    assert details["ethnicity"] == "汉族"
    assert details["native_place"] == "北京"
    assert details["alma_mater"] is None
    ts = extract_title_summary(FIXTURE_HTML)
    assert ts["title"] == "张伟"
    assert "1962年10月生" in ts["summary"]


def test_html_to_events_chain(spark):
    """Stages 6-7 end-to-end: HTML page → career section lines → typed
    validated events (the reference's extract→structure chain)."""
    from leader_graph_spark.extract.html import extract_career_sections
    from leader_graph_spark.operators.llm import structured_extraction
    from leader_graph_spark.operators.validation import validate_events_reject
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, FIXTURE_HTML)], "id int, remark string")
    careers = df.rdd.map(
        lambda r: (r.id, "\n".join(extract_career_sections(r.remark)))
    ).toDF(["id", "career_text"])
    extracted = structured_extraction(careers, id_col="id", text_col="career_text")
    events = extracted.select("id", F.explode("events").alias("e")).select("id", "e.*")
    valid, _ = validate_events_reject(events)
    rows = valid.collect()
    assert {r.event_type for r in rows} == {"study", "work"}
    study = [r for r in rows if r.event_type == "study"][0]
    assert study.start_year == 1980 and study.end_year == 1984


def test_parser_fuzz_never_crashes():
    """The stdlib-based page parser must survive arbitrary malformed
    tag soup (unclosed tags, stray brackets, void elements in odd
    places, entities) and always return its full result dict."""
    import random

    from leader_graph_spark.extract.html import parse_page

    rng = random.Random(42)
    frags = [
        "<html>", "</html>", "<dl>", "<dt>k</dt>", "<dd>v<br>w</dd>", "</dl>",
        "<h1>", "</h1>", "<p>", "</p>", "text&amp;more", "<img src=x>",
        "<<>>", "</dd>", "<b", ">", "&#x41;", "<title>t</title>", "\x00",
        "<input>", "<div class='a", "'>", "中文段落",
    ]
    for _ in range(200):
        soup = "".join(rng.choice(frags) for _ in range(rng.randint(0, 30)))
        page = parse_page(soup)
        assert isinstance(page, dict)
        for key in ("title", "summary", "description"):
            assert key in page


# ---------------------------------------------------------------------------
# X7: portrait-image URL cascade (leader/update_leader_img_url.py:130-218)
# ---------------------------------------------------------------------------

VALID = "http://ex.com/pic/p{}.jpg"
BAD = "http://ex.com/img/icon{}.png"


def _pick(html):
    from leader_graph_spark.extract.html import select_portrait_url

    return select_portrait_url(html)


def test_portrait_tier1_abstract_album():
    html = (
        "<html><body>"
        f"<div class='layout abstractAlbum_x12'><img src='{VALID.format(1)}'></div>"
        f"<div class='summary-pic'><img src='{VALID.format(3)}'></div>"
        "</body></html>"
    )
    assert _pick(html) == {"url": VALID.format(1), "method": 1}


def test_portrait_tier1_checks_only_first_img_then_falls_through():
    # first abstractAlbum img invalid -> does NOT try its second img,
    # falls to summary-pic (reference finds one img, gates, no loop)
    html = (
        "<html><body>"
        f"<div class='abstractAlbum_a'><img src='{BAD.format(1)}'>"
        f"<img src='{VALID.format(9)}'></div>"
        f"<div class='summary-pic'><img src='{VALID.format(3)}'></div>"
        "</body></html>"
    )
    assert _pick(html) == {"url": VALID.format(3), "method": 3}


def test_portrait_tier2_lemma_picture_after_title_only():
    # lemma-picture BEFORE the title div must be skipped; one after wins
    html = (
        "<html><body>"
        f"<div class='lemma-picture'><img src='{VALID.format(8)}'></div>"
        "<div class='lemmaWgt-lemmaTitle-title'><h1>X</h1></div>"
        f"<div class='lemma-picture'><img src='{BAD.format(2)}'></div>"
        f"<div class='lemma-picture'><img src='{VALID.format(2)}'></div>"
        "</body></html>"
    )
    # first post-title lemma-picture img is invalid -> scan continues to
    # the NEXT lemma-picture div (find_all_next loop semantics)
    assert _pick(html) == {"url": VALID.format(2), "method": 2}


def test_portrait_tier4_image_module():
    html = (
        "<html><body>"
        f"<div data-module-type='image'><img src='{VALID.format(4)}'></div>"
        f"<p><img src='{VALID.format(6)}'></p>"
        "</body></html>"
    )
    assert _pick(html) == {"url": VALID.format(4), "method": 4}


def test_portrait_tier5_name_match_beats_first_valid():
    # a valid anonymous img comes FIRST; the name-matched one后 wins at
    # tier 5 because tier 5 runs before tier 6
    html = (
        "<html><head><title>张三_百度百科</title></head><body>"
        f"<p><img src='{VALID.format(7)}'></p>"
        f"<p><img alt='张三' src='{VALID.format(5)}'></p>"
        "</body></html>"
    )
    assert _pick(html) == {"url": VALID.format(5), "method": 5}
    # a valueless alt attribute matches no name and raises nothing
    assert _pick(html.replace("<img src", "<img alt src", 1)) == _pick(html)


def test_portrait_tier5_requires_suffixed_title():
    # no _百度百科 suffix -> no name -> tier 5 skipped, tier 6 takes first
    html = (
        "<html><head><title>张三</title></head><body>"
        f"<p><img src='{VALID.format(7)}'></p>"
        f"<p><img alt='张三' src='{VALID.format(5)}'></p>"
        "</body></html>"
    )
    assert _pick(html) == {"url": VALID.format(7), "method": 6}


def test_portrait_tier6_and_none():
    html = f"<html><body><p><img src='{VALID.format(6)}'></p></body></html>"
    assert _pick(html) == {"url": VALID.format(6), "method": 6}
    assert _pick(f"<html><body><img src='{BAD.format(6)}'></body></html>") == {
        "url": None,
        "method": None,
    }
    assert _pick("<html><body>no images</body></html>") == {"url": None, "method": None}
    assert _pick("") == {"url": None, "method": None}


def test_portrait_url_gate_effective_semantics():
    from leader_graph_spark.extract.html import is_valid_image_url

    assert is_valid_image_url("https://bkimg.cdn.bcebos.com/pic/abc123")
    assert is_valid_image_url("http://host/pic/x.jpg")
    # invalid patterns reject even with /pic/
    assert not is_valid_image_url("http://host/pic/logo-baike.svg")
    assert not is_valid_image_url("http://host/img/pic/x.jpg")
    assert not is_valid_image_url("http://host/icons/pic/x.jpg")  # 'icon'
    # dead-code parity: a long .jpg URL WITHOUT /pic/ is rejected (the
    # reference's extension branch unconditionally returns False)
    assert not is_valid_image_url("http://host/photos/a-very-long-name-here.jpg")


def test_portrait_table_spark(spark):
    from leader_graph_spark.extract.html import portrait_url_table

    rows = [
        (1, f"<div class='abstractAlbum_z'><img src='{VALID.format(1)}'></div>"),
        (2, "<p>none</p>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r.doc_id: (r.portrait_url, r.method) for r in portrait_url_table(
        df, id_col="doc_id", html_col="html"
    ).collect()}
    assert got == {1: (VALID.format(1), 1), 2: (None, None)}


# ---------------------------------------------------------------------------
# X1 fidelity surface (round 9): update_time, table flattening, the
# sectioning fallback chain (extract_content_from_remark.py:85-703)
# ---------------------------------------------------------------------------


def test_update_time_from_meta_dateupdate():
    from leader_graph_spark.extract.html import parse_page

    page = parse_page(
        "<html><head><meta itemprop='dateUpdate' content=' 2024-05-01 10:20 '>"
        "</head><body><h1>T</h1><p>x</p></body></html>"
    )
    assert page["update_time"] == "2024-05-01 10:20"
    assert parse_page("<p>n</p>")["update_time"] == ""


def test_table_flattens_to_pipe_rows_inside_section():
    from leader_graph_spark.extract.html import parse_page

    html = (
        "<html><body><h2>数据</h2><p>before</p>"
        "<table><caption>统计 表</caption>"
        "<tr><th>年份</th><th>值 [1]</th></tr>"
        "<tr><td>2001</td><td>a b</td></tr>"
        "<tr><td> </td><td></td></tr>"  # all-blank row dropped
        "</table><p>after</p></body></html>"
    )
    secs = parse_page(html)["sections"]
    assert len(secs) == 1
    assert secs[0]["content"] == (
        "before\n\n表格标题: 统计 表\n年份 | 值\n2001 | a b\n\nafter"
    )


def test_table_cell_link_bracket_rule():
    from leader_graph_spark.extract.html import parse_page

    # link text already in the cell text -> no bracket; the bracket
    # only fires when cell content misses it (empty-cell link edge)
    html = (
        "<h2>H</h2><table><tr>"
        "<td>see <a href='/item/x'>XLink</a></td>"
        "</tr></table>"
    )
    secs = parse_page(html)["sections"]
    assert secs[0]["content"] == "see XLink"


def test_fallback_table_section_when_no_headings():
    from leader_graph_spark.extract.html import parse_page

    page = parse_page(
        "<html><body><p>tiny</p>"
        "<table><tr><td>k</td><td>v</td></tr></table></body></html>"
    )
    assert [ (s["heading"], s["content"]) for s in page["sections"] ] == [
        ("表格内容", "k | v")
    ]
    # pre-heading tables never leak into the summary
    assert page["summary"] == "tiny"


def test_fallback_paragraphs_section_when_no_tables():
    from leader_graph_spark.extract.html import parse_page

    # the >5-char filter applies PER paragraph (reference
    # extract_content_from_remark.py:676-684): 'tiny' drops even though
    # a longer paragraph exists on the page
    page = parse_page("<html><body><p>a real paragraph here</p><p>tiny</p></body></html>")
    assert page["sections"] == [
        {"heading": "正文内容", "content": "a real paragraph here"}
    ]
    # two surviving paragraphs join with \n\n, the reference's joiner
    page = parse_page("<html><body><p>first real para</p><p>second real para</p></body></html>")
    assert page["sections"] == [
        {"heading": "正文内容", "content": "first real para\n\nsecond real para"}
    ]


def test_fallback_nothing_when_under_length():
    from leader_graph_spark.extract.html import parse_page

    page = parse_page("<html><body><p>tiny</p></body></html>")
    assert page["sections"] == []


def test_portrait_cascade_fuzz_never_crashes():
    """The image-cascade parser must survive malformed tag soup and
    always return the result dict (url may be anything valid-or-None,
    but never an exception)."""
    import random

    from leader_graph_spark.extract.html import select_portrait_url

    rng = random.Random(11)
    frags = [
        "<div class='abstractAlbum_", "x'>", "</div>",
        "<div class='lemma-picture'>", "<div class='lemmaWgt-lemmaTitle-title'>",
        "<img src='http://e/pic/a.jpg'>", "<img>", "<img src=''>",
        "<table><tr><td>", "</td></tr></table>", "<title>N_百度百科</title>",
        "<div data-module-type='image'>", "<<>>", "&#x41;", "\x00", "中文",
        "<div class='summary-pic'>", "</table>", "</div></div></div>",
    ]
    for _ in range(300):
        soup = "".join(rng.choice(frags) for _ in range(rng.randint(0, 25)))
        out = select_portrait_url(soup)
        assert set(out) == {"url", "method"}
        assert (out["url"] is None) == (out["method"] is None)


# ---------------------------------------------------------------------------
# Round 10: X2 three-rule cascade, P6 as-executed blacklist, X6 person-desc
# ---------------------------------------------------------------------------


def test_infobox_rule1_info_title_content():
    html = (
        '<div class="info-title">民族</div><div class="info-content">汉族[1]</div>'
        '<div class="info-title">毕业 院校</div><div class="info-content">北京大学</div>'
    )
    out = extract_infobox(html, {"ethnicity": ["民族"], "alma_mater": ["毕业院校"]})
    assert out == {"ethnicity": "汉族", "alma_mater": "北京大学"}


def test_infobox_rule3_basicinfo_pairs():
    html = (
        '<div class="basicInfo-item name">民族</div>'
        '<div class="basicInfo-item value">回族</div>'
        '<div class="basicInfo-item name">籍贯</div>'
        '<div class="basicInfo-item value">湖南长沙</div>'
    )
    out = extract_infobox(html, {"ethnicity": ["民族"], "native_place": ["籍贯", "出生地"]})
    assert out == {"ethnicity": "回族", "native_place": "湖南长沙"}


def test_infobox_rule_priority_beats_document_order():
    # dt/dd appears FIRST in the document but info-title (rule 1) must win;
    # basicInfo appears FIRST but dt/dd (rule 2) must win.
    html = (
        "<dl><dt>民族</dt><dd>FromDtDd</dd></dl>"
        '<div class="info-title">民族</div><div class="info-content">FromInfo</div>'
        '<div class="basicInfo-item name">毕业院校</div>'
        '<div class="basicInfo-item value">FromBasic</div>'
        "<dl><dt>毕业院校</dt><dd>FromDt2</dd></dl>"
    )
    out = extract_infobox(html, {"ethnicity": ["民族"], "alma_mater": ["毕业院校"]})
    assert out == {"ethnicity": "FromInfo", "alma_mater": "FromDt2"}


def test_infobox_empty_content_falls_through_within_rule():
    html = (
        '<div class="basicInfo-item name">政治面貌</div>'
        '<div class="basicInfo-item value"></div>'
        '<div class="basicInfo-item name">政治面貌</div>'
        '<div class="basicInfo-item value">中共党员</div>'
    )
    out = extract_infobox(html, {"political_status": ["政治面貌"]})
    assert out == {"political_status": "中共党员"}


def test_name_validity_as_executed_semantics():
    from leader_graph_spark.extract.html import is_valid_person_name

    assert is_valid_person_name("张伟")
    assert is_valid_person_name("欧阳娜娜")  # exactly 4 chars, no keyword
    assert not is_valid_person_name("")
    # >4 chars: dot decides, blacklist bypassed (ref :63-66)
    assert is_valid_person_name("阿·主任江")
    assert is_valid_person_name("买买提·吐尔逊")
    assert not is_valid_person_name("InvalidPerson")
    # ≤4 chars: full keyword vocabulary decides (ref :68-71)
    assert not is_valid_person_name("厅长")
    assert not is_valid_person_name("蒙古族")
    assert not is_valid_person_name("主任")
    assert not is_valid_person_name("侨胞")


def test_person_desc_cascade_tiers():
    from leader_graph_spark.extract.html import extract_person_desc

    mobile = '<li class="extra-list-item extra-lemma-desc">某省省长</li>'
    desktop = '<div class="lemmaDescText_WLOIg">某市市长</div>'
    alt = '<div class="lemma-desc">某  县  县长</div>'
    # mobile beats desktop regardless of document order
    assert extract_person_desc(desktop + mobile) == "某省省长"
    assert extract_person_desc(desktop) == "某市市长"
    # alternate selectors collapse internal whitespace
    assert extract_person_desc(alt) == "某 县 县长"
    assert extract_person_desc('<div class="basic-info">b i</div>') == "b i"
    assert extract_person_desc("<p>nothing</p>") == ""
    # exact-attribute semantics for the two-class mobile spec: a li
    # carrying extra classes must NOT match (bs4 class_='a b' behavior)
    assert extract_person_desc(
        '<li class="extra-list-item extra-lemma-desc more">x</li>' + desktop
    ) == "某市市长"


def test_infobox_real_baike_desktop_shape():
    # real desktop Baike markup: dt/dd pairs that ALSO carry
    # basicInfo-item classes — rule 2 (dt→dd) fires first and must
    # agree with what rule 3 would extract; nested <sup> citation
    # markers clean away
    html = (
        '<dl class="basicInfo-block basicInfo-left">'
        '<dt class="basicInfo-item name">民 族</dt>'
        '<dd class="basicInfo-item value">汉族<sup>[1]</sup></dd>'
        '<dt class="basicInfo-item name">毕业院校</dt>'
        '<dd class="basicInfo-item value"><a href="/item/清华大学">清华大学</a></dd>'
        "</dl>"
    )
    out = extract_infobox(html, {"ethnicity": ["民族"], "alma_mater": ["毕业院校"]})
    assert out == {"ethnicity": "汉族", "alma_mater": "清华大学"}


# ---------------------------------------------------------------------------
# The element-capture scanner and the page mapper
# ---------------------------------------------------------------------------


def test_capture_closes_containers_with_an_outer_end_tag():
    from leader_graph_spark.extract.html import _capture, _image_keys

    # </p> closes the unclosed summary-pic div opened inside the <p>, so
    # the img after it is outside that container
    html = (
        f"<p><div class='summary-pic'><span>x</p><img src='{VALID.format(1)}'>"
        f"<div class='summary-pic'><img src='{VALID.format(2)}'></div>"
    )
    elems = _capture(html, _image_keys)
    assert [sorted(e.keys) for e in elems] == [["sp"], ["img"], ["sp"], ["img"]]
    assert elems[1].within == ()
    assert elems[3].within == (elems[2],)
    assert "".join(elems[0].text) == "x"
    # the first summary-pic holds no img, so method 3 finds none there
    # and falls through to the first valid img anywhere
    assert _pick(html) == {"url": VALID.format(1), "method": 6}
    assert _pick(html.replace("</p>", "</span>")) == {"url": VALID.format(1), "method": 3}


def test_portrait_second_title_leaves_the_page_name_unchanged():
    body = (
        f"<p><img alt='李四' src='{VALID.format(4)}'></p>"
        f"<p><img alt='张三' src='{VALID.format(3)}'></p>"
    )
    named = f"<html><head><title>张三_百度百科</title></head><body>{body}</body></html>"
    unnamed = f"<html><head><title>张三</title></head><body>{body}</body></html>"
    assert _pick(named) == {"url": VALID.format(3), "method": 5}
    assert _pick(unnamed) == {"url": VALID.format(4), "method": 6}
    # the page name comes from the first <title> only (bs4's soup.title):
    # joining every title's text would name the unnamed page 张三
    for page in (named, unnamed):
        second = page.replace("<body>", "<body><title>_百度百科</title>")
        assert _pick(second) == _pick(page)


def test_page_surfaces_give_typed_empty_frames(spark):
    from pyspark.sql import types as T

    from leader_graph_spark.extract.html import (
        PERSON_DETAIL_MAPPING,
        career_lines_table,
        extract_infobox_table,
        portrait_url_table,
        title_summary_desc_table,
    )

    surfaces = {
        "pages": parse_pages,
        "links": extract_links_table,
        "infobox": lambda df, **kw: extract_infobox_table(
            df, field_mapping=PERSON_DETAIL_MAPPING, **kw),
        "career": career_lines_table,
        "title": title_summary_desc_table,
        "portrait": portrait_url_table,
    }
    one = spark.createDataFrame([(7, "<p>no links, no career</p>")], "doc_id long, html string")
    none = one.where("doc_id < 0")
    for name, surface in surfaces.items():
        want = surface(one, id_col="doc_id", html_col="html")
        assert want.schema[0] == T.StructField("doc_id", T.LongType())
        # a batch with no pages
        got = surface(none, id_col="doc_id", html_col="html")
        assert got.schema == want.schema and got.collect() == [], name
    # a page that yields zero rows
    for surface, cols in ((extract_links_table, ["doc_id", "name", "url", "uuid"]),
                          (career_lines_table, ["doc_id", "pos", "line"])):
        got = surface(one, id_col="doc_id", html_col="html")
        assert got.columns == cols and got.collect() == []


def test_portrait_table_method_is_a_nullable_int(spark):
    from pyspark.sql import types as T

    from leader_graph_spark.extract.html import portrait_url_table

    rows = [
        (1, f"<div class='summary-pic'><img src='{VALID.format(1)}'></div>"),
        (2, "<p>none</p>"),
        (3, f"<p><img src='{VALID.format(3)}'></p>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string").repartition(1)
    out = portrait_url_table(df, id_col="doc_id", html_col="html")
    assert out.schema["method"] == T.StructField("method", T.IntegerType(), True)
    got = {r.doc_id: r.method for r in out.collect()}
    assert got == {1: 3, 2: None, 3: 6}
    assert all(type(m) is int for m in got.values() if m is not None)
