"""DOM + selector unit tests (SURVEY.md §5.3-2)."""

from mdscraper_spark.htmlcore.dom import parse_html, TextNode


SAMPLE = """
<!DOCTYPE html>
<html>
<head><title>Test Page</title></head>
<body>
  <div id="main-content" class="wrapper main">
    <p>Hello &amp; welcome</p>
    <img src="x.jpg" alt="X">
    <a href="/a">A</a>
  </div>
  <div class="sidebar ads">side</div>
</body>
</html>
"""


def test_parse_and_find():
    root = parse_html(SAMPLE)
    div = root.find("div")
    assert div is not None and div.attrs["id"] == "main-content"
    assert root.find("div", class_token="main") is div
    assert root.find("div", class_token="wrapper") is div
    assert root.find("div", id_value="main-content") is div
    assert root.find("div", id_value="nope") is None
    # class token match, not substring: 'mai' must not match 'main'
    assert root.find("div", class_token="mai") is None


def test_get_returns_class_list():
    root = parse_html(SAMPLE)
    div = root.find("div")
    assert div.get("class") == ["wrapper", "main"]
    assert div.get("id") == "main-content"


def test_entities_decoded_in_text():
    root = parse_html(SAMPLE)
    p = root.find("p")
    assert p.get_text() == "Hello & welcome"


def test_get_text_strip_drops_whitespace_fragments():
    root = parse_html("<div><p>  a  </p>\n   <p></p>\n<p>b</p></div>")
    div = root.find("div")
    assert div.get_text(strip=True) == "ab"
    empty_p = div.find_all("p")[1]
    assert empty_p.get_text(strip=True) == ""


def test_void_elements_take_no_children():
    root = parse_html("<p><img src='a.png'>text after img</p>")
    img = root.find("img")
    assert img.children == []
    p = root.find("p")
    assert p.get_text() == "text after img"


def test_missing_href_raises_keyerror():
    root = parse_html("<p><a>no href</a></p>")
    a = root.find("a")
    try:
        _ = a["href"]
        assert False, "expected KeyError"
    except KeyError:
        pass


def test_decompose_and_replace_with():
    root = parse_html("<div><p>keep</p><p class='drop'>drop</p></div>")
    root.find("p", class_token="drop").decompose()
    assert root.find("div").get_text() == "keep"
    root2 = parse_html("<p><a href='x'>link text</a></p>")
    a = root2.find("a")
    a.replace_with(TextNode(a.get_text()))
    assert root2.find("p").get_text() == "link text"
    assert root2.find("a") is None


def test_unmatched_end_tag_ignored():
    root = parse_html("<div><p>a</p></span></div><p>b</p>")
    assert len(root.find_all("p")) == 2


def test_select_subset():
    root = parse_html(
        "<div><nav id='nav'>n</nav><div class='ads banner'>ad</div>"
        "<section><span class='ads'>inner</span></section>"
        "<a data-x='1'>l</a></div>"
    )
    assert [e.name for e in root.select(".ads")] == ["div", "span"]
    assert [e.attrs.get("id") for e in root.select("#nav")] == ["nav"]
    assert [e.name for e in root.select("section .ads")] == ["span"]
    assert [e.name for e in root.select("section > .ads")] == ["span"]
    assert [e.name for e in root.select("div.ads")] == ["div"]
    assert [e.name for e in root.select("[data-x]")] == ["a"]
    assert [e.name for e in root.select("[data-x=1]")] == ["a"]
    assert [e.name for e in root.select("nav, .banner")] == ["nav", "div"]


def test_document_order_first_match():
    root = parse_html("<div id='a'>1</div><div id='b'>2</div>")
    assert root.find("div").attrs["id"] == "a"


def test_duplicate_attribute_last_wins_and_valueless_is_empty():
    # bs4's html.parser builder default is on_duplicate_attribute=
    # 'replace' — the LAST value wins (round-1 pinned first-wins from
    # assumption; corrected to the documented bs4 default)
    root = parse_html('<div class="a" class="b" data-flag>x</div>')
    div = root.find("div")
    assert div.get("class") == ["b"]
    assert div.attrs["data-flag"] == ""


def test_get_text_excludes_script_and_style():
    # bs4 >= 4.9 parity: Script/Stylesheet strings are not text — the
    # largest-div heuristic must not let inline JS out-score content
    root = parse_html('<div><script>var x = "lots of js";</script>'
                      '<style>.a{}</style><p>real</p></div>')
    assert root.find("div").get_text(strip=True) == "real"


def test_replace_with_earlier_sibling_in_same_parent():
    root = parse_html("<div><b>first</b><i>second</i></div>")
    div = root.find("div")
    b, i = div.children
    i.replace_with(b)                      # B replaced by its EARLIER sibling
    assert [c.name for c in div.children] == ["b"]
    assert div.get_text() == "first"
    assert i.parent is None and b.parent is div


def test_selector_root_is_not_an_element():
    # soupsieve parity: the document node never satisfies '*' in a
    # combinator — a top-level nav in a fragment must not match '* > nav'
    root = parse_html("<nav>x</nav><div><nav>y</nav></div>")
    assert [e.get_text() for e in root.select("* > nav")] == ["y"]
    assert [e.get_text() for e in root.select("* nav")] == ["y"]


def test_table_with_thead_renders_single_separator():
    from mdscraper_spark.mdrender.render import render_markdown

    root = parse_html("<div><table><thead><tr><th>H</th></tr></thead>"
                      "<tbody><tr><td>a</td></tr></tbody></table></div>")
    md = render_markdown(root.find("div"))
    assert md.count("---") == 1            # one separator, under the header
    assert "| H |" in md and "| a |" in md
    assert "|  |" not in md                # no phantom blank header row
    # headerless tbody-only table still gets the empty-header overline
    root2 = parse_html("<div><table><tbody><tr><td>a</td></tr></tbody>"
                       "</table></div>")
    md2 = render_markdown(root2.find("div"))
    assert md2.count("---") == 1 and md2.index("---") < md2.index("| a |")


def test_newline_cap_holds_across_all_newline_pieces():
    from mdscraper_spark.mdrender.render import render_markdown

    # an empty blockquote between two paragraphs contributes only
    # newlines; the sibling-boundary cap of two must still hold
    root = parse_html("<div><p>one</p><blockquote></blockquote>"
                      "<p>two</p></div>")
    md = render_markdown(root.find("div"))
    assert "\n\n\n" not in md
    assert md == "one\n\ntwo"


def test_pi_surfaces_as_text_and_tokenizes_at_first_gt():
    # bs4 html.parser parity: PI content = everything between '<?' and
    # the FIRST '>', kept as a string node; the remainder re-parses as
    # markup ('</b>' pops nothing, '"; ?>b' is data).
    root = parse_html('<p>a<?php echo "<b>x</b>"; ?>b</p>')
    p = root.find("p")
    assert p.get_text() == 'aphp echo "<bx"; ?>b'


def test_pi_inside_script_is_raw_data():
    # script content is CDATA mode: '<?' there is plain data, no PI
    root = parse_html('<script><?php echo 1; ?></script><p>t</p>')
    script = root.find("script")
    assert script.get_text() == "<?php echo 1; ?>"


def test_bogus_end_tag_with_space_pops_matching_open():
    # '</ div>' parses as an end tag for div (html.parser leniency):
    # it closes the nearest open div, so 'after' lands OUTSIDE it
    root = parse_html('<div class="c"><p>in</p></ div><p>after</p></div>')
    div = root.find("div")
    assert div.get_text() == "in"


def test_definition_list_renders_php_markdown_extra_style():
    from mdscraper_spark.mdrender.render import render_markdown

    root = parse_html(
        "<div><dl><dt>term</dt><dd>def one</dd><dd>def two</dd>"
        "<dt></dt><dd></dd></dl></div>")
    md = render_markdown(root.find("div"))
    assert md == "term\n:   def one\n:   def two"
