"""Unit tests for the HTML extraction kernel (pure Python, no Spark).

Mirrors the reference's kernel-level unit tests (reference:
test/unit/test_results.py:13-75 tests parse/strip helpers the same way).
"""

import random

from gemini_ocr_batch_spark.datagen import make_html_page
from gemini_ocr_batch_spark.kernels.html_extract import (
    classify_blocks,
    extract_html,
    segment_blocks,
)


def test_boilerplate_stripped():
    html = (
        "<html><body><nav><ul><li><a href='/a'>Home</a></li>"
        "<li><a href='/b'>About us page</a></li></ul></nav>"
        "<article><p>This is the real main content of the page with "
        "plenty of words to pass the threshold.</p></article>"
        "<footer><p>Copyright 2024 Example Corp all rights reserved "
        "forever and ever.</p></footer></body></html>"
    )
    text, spans = extract_html(html)
    assert "real main content" in text
    assert "Home" not in text
    assert "Copyright" not in text
    assert len(spans) == 1
    s, e, kind = spans[0]
    assert text[s:e] == text
    assert kind == "paragraph"


def test_link_dense_block_dropped():
    links = "".join(f"<a href='/{i}'>word link {i}</a> " for i in range(20))
    html = f"<html><body><div>{links}</div></body></html>"
    text, spans = extract_html(html)
    assert text == ""
    assert spans == []


def test_heading_kept_with_content_dropped_alone():
    with_body = (
        "<body><h1>Title Words Here</h1><p>Enough words to count as real "
        "content for the block classifier here.</p></body>"
    )
    text, _ = extract_html(with_body)
    assert text.startswith("Title Words Here")
    alone = "<body><h1>Dangling Chrome Heading</h1></body>"
    text2, spans2 = extract_html(alone)
    assert text2 == ""
    assert spans2 == []


def test_multi_block_order_and_span_offsets():
    html = (
        "<body><h1>Alpha Title</h1>"
        "<p>First paragraph with sufficient words to be kept around.</p>"
        "<p>Second paragraph also has enough words to be kept here.</p>"
        "<ul><li>List item with five good words inside it.</li></ul></body>"
    )
    text, spans = extract_html(html)
    kinds = [k for _, _, k in spans]
    assert kinds == ["heading", "paragraph", "paragraph", "list"]
    # spans tile the text exactly, separated by \n\n, monotone
    prev_end = None
    for s, e, _ in spans:
        assert s < e
        if prev_end is not None:
            assert s == prev_end + 2
            assert text[prev_end:s] == "\n\n"
        prev_end = e
    assert prev_end == len(text)
    assert text.index("First paragraph") < text.index("Second paragraph")


def test_entity_unescape_and_dot_squeeze():
    html = (
        "<body><p>Fish &amp; chips cost five pounds total "
        "today.............. yes</p></body>"
    )
    text, _ = extract_html(html)
    assert "Fish & chips" in text
    assert "......" not in text
    assert "....." in text


def test_malformed_html_still_succeeds():
    rng = random.Random(7)
    blob = make_html_page(rng, malformed=True).decode()
    text, spans = extract_html(blob)
    assert len(text) > 0
    assert len(spans) > 0


def test_script_style_never_leak():
    html = (
        "<body><script>var secret = 'leakme';</script>"
        "<style>.x{content:'styleleak'}</style>"
        "<p>Visible words that are definitely long enough to keep.</p></body>"
    )
    text, _ = extract_html(html)
    assert "leakme" not in text
    assert "styleleak" not in text


def test_whitespace_collapsed():
    html = "<body><p>many     spaces\n\tand \t tabs collapse here fine</p></body>"
    text, _ = extract_html(html)
    assert "  " not in text


def test_segment_blocks_features():
    html = "<body><div><a href='/'>half link</a> and plain half</div></body>"
    blocks = segment_blocks(html)
    assert len(blocks) == 1
    _text, _kind, density, boiler = blocks[0]
    assert 0.3 < density < 0.6
    assert boiler is False


def test_classify_boiler_flag():
    blocks = [("some words in a nav bar thing", "paragraph", 0.0, True)]
    assert classify_blocks(blocks) == []


def test_determinism():
    rng = random.Random(11)
    blob = make_html_page(rng).decode()
    assert extract_html(blob) == extract_html(blob)


def test_fast_tokenizer_matches_stdlib_on_fixtures():
    """The regex tokenizer must produce identical blocks to the stdlib
    HTMLParser path on every realistic fixture class (divergence is allowed
    only on pathological non-HTML garbage, where both remain deterministic
    and never crash)."""
    from gemini_ocr_batch_spark.datagen import generate_rows
    from gemini_ocr_batch_spark.kernels.html_extract import (
        segment_blocks,
        segment_blocks_stdlib,
    )

    checked = 0
    for _url, _ts, blob, _t, _l in generate_rows(300, seed=42):
        if not blob or blob[:5] == b"%PDF-":
            continue
        try:
            text = blob.decode("utf-8")
        except UnicodeDecodeError:
            continue
        assert segment_blocks(text) == segment_blocks_stdlib(text)
        checked += 1
    assert checked > 200


def test_fast_tokenizer_matches_stdlib_on_self_closing_tags():
    """XHTML self-closing tags must not leak skip/anchor/boiler depth in the
    fast tokenizer. stdlib routes <tag/> through handle_startendtag
    (start + end); the `/` counts only when not part of an unquoted
    attribute value (<div id=x/> is start-only with value "x/")."""
    from gemini_ocr_batch_spark.kernels.html_extract import (
        segment_blocks,
        segment_blocks_stdlib,
    )

    cases = [
        # skip-depth leak: everything after a leaked <iframe/> vanishes
        "<p>before</p><iframe/><p>the main article body has many words "
        "here to keep</p>",
        "<p>x</p><script src=app.js/><p>kept content after self closing "
        "script tag</p>",
        "<svg viewBox=\"0 0 10 10\"/><p>kept content after self closing "
        "svg element here</p>",
        # anchor-depth leak: later blocks get classified link-dense
        "<a/><p>this paragraph must not be counted as anchor text at "
        "all</p>",
        "<p><a href='/x'/>tail words outside the closed anchor should "
        "count as plain text</p>",
        # boiler/kind-stack leak
        "<nav/><p>content after an empty self closed nav is not "
        "boilerplate</p>",
        "<div/><li>list item after self closed div keeps its own "
        "kind</li>",
        # unquoted-value slash is NOT self-closing (stdlib keeps it open)
        "<div id=x/><p>inside an unclosed div with slashed attr "
        "value</p>",
        "<img src=foo/>word after img with unquoted slashed value",
        # void tags via startendtag are harmless no-ops on end
        "<p>line one<br/>line two of the same paragraph block here</p>",
        # CDATA: self-closing script must NOT enter cdata mode
        "<script/>visible words after a self closed empty script tag",
        # ...but slashed unquoted attr DOES enter cdata mode (stdlib)
        "<script src=x/>swallowed</script><p>after real close tag comes "
        "real content again</p>",
        # bare attribute names before the slash ARE self-closing (stdlib
        # attrfind stops the name at '/'): the leaked skip/boiler depth
        # dropped all following content before this was fixed
        "<iframe allowfullscreen/><p>body text with enough words to keep "
        "around after the iframe</p>",
        "<nav hidden/><p>content after a bare-attr self closed nav is "
        "not boilerplate</p>",
        "<td nowrap/>cell text continues with plenty of words here",
        "<div data-x/><li>list item after bare data attribute div</li>",
        # value-slash edge cases: all start-only in stdlib
        "<div a=b=c/><p>equals inside unquoted value swallows slash</p>",
        "<div a= /><p>whitespace then bare slash is the value itself</p>",
        "<div a=/><p>empty-then-slash value keeps the div open too</p>",
        "<div a=1 b=2/><p>last unquoted value swallows the slash here</p>",
        # mixed: quoted value then bare name then slash -> self-closing
        "<nav a='x=y' b/><p>bare token after quoted value closes nav</p>",
        "<div a=\"1\"b/><p>adjacent bare name after quoted value</p>",
        "<div a/b/><p>slashed bare names are still self closing</p>",
    ]
    for html_text in cases:
        assert segment_blocks(html_text) == segment_blocks_stdlib(
            html_text
        ), html_text


def test_fast_tokenizer_matches_stdlib_fuzzed_attrs():
    """Adversarial tag soup: the fast tokenizer must agree with the stdlib
    twin on every generated page — self-closing edges, quotes abutting or
    swallowed by unquoted values, unbalanced quotes, junk end tags, bogus
    comments, and stdlib's wider tag-name charset all included."""
    import random

    from gemini_ocr_batch_spark.kernels.html_extract import (
        segment_blocks,
        segment_blocks_stdlib,
    )

    rng = random.Random(1234)
    tags = ["p", "div", "a", "nav", "td", "iframe", "span", "li", "svg",
            "script", "header", "h1", "ul", "table", "pre", "style",
            "textarea", "title", "br", "img"]
    attr_bits = [
        "", " x", " x=1", ' href="/a/b"', " x=y/z", ' x="a b"', " x='c/d'",
        " x=", " x= ", " a=1 b", ' a="q=r"', " data-k", " a=b=c", " a/b",
        ' a="1"b', ' a=b"x', ' a=b"x>y"', " ==", " =x", ' "lone',
        " a='p>q'", ' a="unclosed', " a=,,1", " a=1,,", " x\t=\n1",
        # r3 regression shapes: unterminated-quote values force stdlib's
        # regex to backtrack ('=+' gives back one '=' -> bare value;
        # single '='+ws -> EMPTY bare value; single abutting '=' -> the
        # value group fails and the quote starts the next attr name)
        ' "="', " '='", ' a="', " b='", ' ="x', ' =="y', " a== 'z",
        " a=b'p>q'", ' x="" =="w',
    ]
    extras = [
        "<!-- c -->", "<!doctype html>", "<?pi x?>", "</ div>", "</>",
        "<>", "< p>", "&amp;", "&#65;", "&bogus;", "</p.x>", "</div foo>",
        "</p,>", "<p=x>words</p>", "<li_ x>y</li_>",
        # unterminated constructs: the _TOKEN alternatives swallow to EOF,
        # stdlib's goahead recovery re-emits through the next '>' and
        # keeps parsing — these shapes must stay covered
        "<!-- open comment ", "<! decl ", "<? pi ", "<![CDATA[ raw ",
        "<!-->", "<script>var a=1;</script foo> leaked",
        "<script>var b=2;</ script > after", '<p a="x\n',
        # r3: stdlib's parse_starttag junk path emits RAW data (no
        # charref conversion) — '&mp;' is a real named charref that must
        # NOT convert when the "tag" is junked to data
        "<b&mp;\x00", "<p&amp x=1>", "&mp; loose entity ",
        # r3: marked sections follow stdlib's OWN close rules — keyword
        # sections end at ']]>' (ws-tolerant), if/else/endif at ']>',
        # unterminated ones are recovery DATA ('<![endif>' is data)
        "<![endif>", "<![if x]>in<![endif]>", "<![include a>b]]>",
        "<![cdata[x>y]]>", "<![rcdata junk", "<![temp ] ] > t",
        # r3: comment close is stdlib's _commentclose ('--\s*>',
        # whitespace-tolerant) — '<!-- x -- >' CLOSES the comment
        "<!-- ws close -- >", "<!--t--\t>x", "<!--u--  >y",
    ]
    for _ in range(800):
        parts = []
        for _ in range(rng.randint(1, 10)):
            if rng.random() < 0.2:
                parts.append(rng.choice(extras))
            t = rng.choice(tags)
            bits = "".join(
                rng.choice(attr_bits) for _ in range(rng.randint(0, 3))
            )
            parts.append(f"<{t}{bits}{rng.choice(['/>', '>', '>'])}")
            parts.append(
                rng.choice(
                    ["words fill the block here nicely with text ",
                     "x", " ", "a < b & c ", "tail>"]
                )
            )
            if rng.random() < 0.6:
                parts.append(f"</{t}>")
        page = "".join(parts)
        assert segment_blocks(page) == segment_blocks_stdlib(page), page


def test_fast_tokenizer_total_where_stdlib_raises():
    """stdlib html.parser RAISES AssertionError on marked sections with
    no name token or an unknown keyword ('<![bogus x]>'); the fast
    tokenizer must stay total (recovery data, never an exception) — a
    crawl kernel cannot crash on attacker-controlled bytes."""
    import pytest

    from gemini_ocr_batch_spark.kernels.html_extract import (
        segment_blocks,
        segment_blocks_stdlib,
    )

    for page in ["<![tarea x]> t", "<![> t", "<![bogus kw]]> t",
                 "<![\x00]> t"]:
        blocks = segment_blocks(page)  # must not raise
        assert isinstance(blocks, list)
        with pytest.raises(AssertionError):
            segment_blocks_stdlib(page)


def test_adversarial_inputs_parse_in_linear_time():
    """Crawl-DoS guard: unterminated-construct floods must parse in
    linear time. Each failed terminator search is memoized per document
    (a search that failed from p fails from any p' > p), so the worst
    case is ONE full scan per terminator class — pre-fix, 300 KB of
    '<!-- x' took 206 s (O(n²)).

    Asserts a SCALING RATIO — best-of-5 at n and 2n reps, 2n must cost
    ≤ ~3× n — not an absolute wall-clock bound: shared hosts have ±50%
    run-to-run noise and a fixed 5 s line can flake under contention,
    while a quadratic regression shows ~4× regardless of load. Noise
    only ever adds time, so the minimum is the estimator; the n and 2n
    runs are interleaved so a burst of contention cannot land on all of
    one side's samples, and the collector is off while a run is timed
    (a collection inside one run is not parse cost)."""
    import gc
    import time

    from gemini_ocr_batch_spark.kernels.html_extract import segment_blocks

    for unit, reps in [("<!-- x", 50000), ("<![CDATA[ x", 20000),
                       ("<? x", 50000), ("<![endif>", 50000),
                       ("<![if x>", 50000), ("</ x", 50000),
                       ("</p.x", 50000), ("</p foo", 50000)]:
        def timed(k):
            page = unit * k
            gc.collect()
            gc.disable()
            try:
                t0 = time.perf_counter()
                segment_blocks(page)
                return time.perf_counter() - t0
            finally:
                gc.enable()

        timed(reps // 4)  # warm-up
        pairs = [(timed(reps), timed(reps * 2)) for _ in range(5)]
        t1 = min(a for a, _ in pairs)
        t2 = min(b for _, b in pairs)
        # linear → ~2×; quadratic → ~4×. 3.2× + a 50 ms floor (tiny
        # absolute times are dominated by allocator jitter)
        assert t2 <= 3.2 * t1 + 0.05, (
            f"superlinear parse for {unit!r}: t(n)={t1:.3f}s "
            f"t(2n)={t2:.3f}s"
        )


def test_unterminated_decl_pi_recovery_matches_stdlib():
    """The r4 memoized-recovery change in the no-'>'-remains regime
    (<!decl / <?pi fallback now calls self._recovery) must stay
    stdlib-faithful: seeded fuzz of documents whose tails are
    unterminated declaration/PI/comment/marked-section constructs with
    NO closing '>' anywhere after them."""
    import random

    from gemini_ocr_batch_spark.kernels.html_extract import (
        segment_blocks,
        segment_blocks_stdlib,
    )

    rng = random.Random(77)
    openers = ["<!doctype x", "<! decl", "<?pi data", "<?", "<!x",
               "<!-- c", "<![CDATA[ y", "<![if z", "</ j", "<!"]
    words = ["alpha", "beta", "gamma", "<p>", "</p>", "&amp;", "&",
             "<b>", "</b>", "x<y", "a&b;"]
    for _ in range(400):
        body = " ".join(rng.choice(words) for _ in range(rng.randint(0, 12)))
        tail = " ".join(
            rng.choice(openers) + " " + rng.choice(["t", "u v", ""])
            for _ in range(rng.randint(1, 4))
        ).replace(">", "")  # guarantee the no-'>'-remains regime
        doc = body + " " + tail
        assert segment_blocks(doc) == segment_blocks_stdlib(doc), doc
