"""Edge-case behavior of the regex HTML tokenizer (html_main._parse_html).

These pin the tokenizer against the markup corners where a naive regex
would diverge from a real parser: quoted '>' in attributes, comments,
CDATA, raw script/style content, case, self-closing and void elements,
stray '<' data, and entities."""

from ocr_spark.kernels.html_main import extract_html


def _full(doc):
    return extract_html(doc).full_text


def test_attr_containing_gt():
    assert _full('<p title="a>b">hello</p>') == "hello"


def test_attr_single_quoted_gt():
    assert _full("<p title='x>y'>hi there</p>") == "hi there"


def test_comment_with_tags_inside():
    assert _full("<p>a</p><!-- <nav>junk</nav> --><p>b</p>") == "a b"


def test_unterminated_comment_swallows_rest():
    assert _full("<p>keep</p><!-- lost forever") == "keep"


def test_cdata_ignored():
    assert _full("<p>x</p><![CDATA[<p>not text</p>]]><p>y</p>") == "x y"


def test_doctype_and_pi_silent():
    assert _full("<!DOCTYPE html><?xml version='1'?><p>body</p>") == "body"


def test_uppercase_tags_lowered():
    res = extract_html("<ARTICLE><P>Upper case tags</P></ARTICLE>")
    assert res.main_text == "Upper case tags"


def test_script_content_raw_skipped():
    doc = "<p>a</p><script>if (x<1) { d='<div>' }</script><p>b</p>"
    assert _full(doc) == "a b"


def test_script_close_case_insensitive():
    assert _full("<p>a</p><script>x<1</SCRIPT><p>b</p>") == "a b"
    # 'İ' lowers to two code points: an index found in a lowered copy
    # would resume past the start of the next tag
    assert _full(
        "<p>a</p><script>" + "İ" * 12 + "</SCRIPT><p>bee sees</p>"
    ) == "a bee sees"
    # a mixed-case close ends its own script, not a later lowercase one
    assert _full(
        "<p>a</p><script>x</SCRIPT><p>b</p><script>y</script><p>c</p>"
    ) == "a b c"


def test_unterminated_script_swallows_rest():
    assert _full("<p>keep</p><script>var x = '<p>gone</p>'") == "keep"


def test_style_content_skipped():
    assert _full("<style>.a{content:'<p>'}</style><p>seen</p>") == "seen"


def test_self_closing_emits_both_events():
    # <div/> opens and closes: following text belongs to the parent
    res = extract_html("<article><div/><p>text here</p></article>")
    assert res.main_text == "text here"


def test_self_closed_script_does_not_eat_document():
    # regression: attrs class used to swallow the '/' so <script src=x/>
    # was treated as an open script and raw-skipped to a </script> that
    # never comes, deleting everything after it
    assert _full('<p>keep</p><script src="x"/><p>after</p>') == "keep after"


def test_self_closed_style_unquoted_attr():
    assert _full("<p>a</p><style media=print/><p>b</p>") == "a b"


def test_slash_inside_unquoted_attr_not_selfclose():
    # '/' mid-attrs (href=/foo) must stay attr data, not end the tag
    assert _full("<a href=/foo/bar>link</a><p>body</p>") == "link body"


def test_self_closed_img_with_unquoted_src():
    assert _full("<p>a</p><img src=a/><p>b</p>") == "a b"


def test_void_br_does_not_break_unwinding():
    res = extract_html("<ul><li>one<br>two</li><li>three</li></ul>")
    assert res.full_text == "one two three"
    kinds = [k for _s, _e, k in res.full_spans]
    assert kinds.count("list_item") == 2


def test_stray_lt_is_data():
    assert _full("<p>1 < 2 and 3 <4</p>") == "1 < 2 and 3 <4"


def test_pure_garbage_kept_verbatim():
    assert _full("<<<>>> ~~~ ||||") == "<<<>>> ~~~ ||||"


def test_entities_unescaped_in_data():
    assert _full("<p>fish &amp; chips &lt;3</p>") == "fish & chips <3"


def test_spans_closed_at_eof():
    res = extract_html("<h1>dangling heading")
    assert res.full_spans == [(0, len("dangling heading"), "heading")]


def test_tag_like_nonsense_not_a_tag():
    # '<3' and '< div' are data, not tags
    assert _full("<p>i <3 spark < div</p>") == "i <3 spark < div"


def test_block_start_tag_implies_close_p():
    # F2: an unclosed <p> must not swallow the paragraphs that follow
    # it, or the article splits into nested leaves and loses one side
    res = extract_html(
        "<header><p>site menu</header><article><h1>Unclosed</h1>"
        "<p>first paragraph left open by its author"
        "<p>second paragraph also left open here"
        "<div>third block after the open paragraphs</div></article>"
    )
    assert res.main_text == (
        "Unclosed\nfirst paragraph left open by its author\n"
        "second paragraph also left open here\n"
        "third block after the open paragraphs"
    )


def test_list_items_vote_for_article():
    # F1: <li> leaves credit the list's container, not the <ul>, so an
    # in-article list stays part of the article
    res = extract_html(
        "<nav><ul><li><a href='/a'>nav one</a></li></ul></nav>"
        "<article><h1>Notes</h1><ul><li>Faster reads.</li>"
        "<li>Smaller rows.</li></ul>"
        "<p>This release tightens the write path for resumed runs.</p>"
        "</article>"
    )
    assert res.main_text == (
        "Notes\nFaster reads.\nSmaller rows.\n"
        "This release tightens the write path for resumed runs."
    )
