"""URL/domain blocklist filter (r6): semantics + scale-shape plan pins."""

from __future__ import annotations

from gemini_ocr_batch_spark.operators.blocklist import (
    blocklist_filter,
    blocklist_flags,
)

PAGES = [
    ("https://ads.example.com/banner", "t0"),       # exact host block
    ("https://sub.ads.example.com/x", "t1"),        # subdomain of blocked
    ("https://deep.a.b.tracker.net/y", "t2"),       # deep subdomain
    ("https://example.com/fine", "t3"),             # parent of a blocked
    ("https://good.org/page", "t4"),                # survivor
    ("https://fun.org/casino/slots", "t5"),         # pattern block
    ("not a url at all", "t6"),                     # unparseable: kept
]
BLOCKED = ["ads.example.com", "tracker.net"]


def _pages(spark):
    return spark.createDataFrame(PAGES, "url string, text string")


def _bl(spark):
    return spark.createDataFrame([(d,) for d in BLOCKED], "domain string")


def test_blocklist_filter_domains_and_patterns(spark):
    kept = blocklist_filter(
        _pages(spark), _bl(spark), patterns=["/casino/"]
    )
    assert sorted(r["url"] for r in kept.collect()) == [
        "https://example.com/fine",
        "https://good.org/page",
        "not a url at all",
    ]
    # schema passes through unchanged (no helper columns leak)
    assert kept.columns == ["url", "text"]


def test_blocklist_filter_domains_only_and_patterns_only(spark):
    pages = _pages(spark)
    dom_only = blocklist_filter(pages, _bl(spark))
    assert len(dom_only.collect()) == 4  # t3, t4, t5, t6 survive
    pat_only = blocklist_filter(pages, patterns=["/casino/"])
    assert len(pat_only.collect()) == 6
    assert len(blocklist_filter(pages).collect()) == len(PAGES)


def test_blocklist_entry_normalization(spark):
    # blocklist entries are trimmed/lowercased/deduped; empty rows ignored
    bl = spark.createDataFrame(
        [(" ADS.Example.COM ",), ("ads.example.com",), ("",)],
        "domain string",
    )
    kept = blocklist_filter(_pages(spark), bl)
    urls = {r["url"] for r in kept.collect()}
    assert "https://ads.example.com/banner" not in urls
    assert "https://deep.a.b.tracker.net/y" in urls  # tracker.net not listed


def test_blocklist_flags_agree_with_filter(spark):
    pages, bl = _pages(spark), _bl(spark)
    flags = {
        r["url"]: r["blocked"]
        for r in blocklist_flags(pages, bl, patterns=["/casino/"]).collect()
    }
    survivors = {
        r["url"]
        for r in blocklist_filter(pages, bl, patterns=["/casino/"]).collect()
    }
    assert set(flags) == {u for u, _ in PAGES}
    for url, blocked in flags.items():
        assert blocked is (url not in survivors), url
    assert all(isinstance(b, bool) for b in flags.values())


def test_blocklist_flags_property_null_urls_and_empty_lists(spark):
    """Property: ``blocked`` is exactly "blocklist_filter drops this url",
    over random urls that include NULL and unparseable ones, under absent,
    empty and non-empty blocklists and pattern lists.  One row per
    distinct url (NULL included), never a NULL flag; a NULL url is
    blocked iff any pattern is given (the filter's ~rlike gate drops
    NULL) and never by a domain."""
    import itertools

    from hypothesis import given, settings
    from hypothesis import strategies as st

    label = st.sampled_from(["a", "ads", "example", "com", "net"])
    host = st.lists(label, min_size=1, max_size=4).map(".".join)
    url = st.one_of(
        st.none(),
        st.just("not a url"),
        st.tuples(host, st.sampled_from(["", "c/", "x"])).map(
            lambda hp: f"https://{hp[0]}/{hp[1]}"
        ),
    )
    urls: list = []

    @settings(max_examples=60, deadline=None)
    @given(st.lists(url, min_size=1, max_size=6))
    def collect(drawn):
        urls.extend(drawn)

    collect()
    # the flag is per-row, so every drawn url shares one job pair per
    # (blocklist, patterns) configuration
    pages = spark.createDataFrame([(u,) for u in urls], "url string")
    domain_lists = (None, [], ["ads.example", "net"])
    pattern_lists = ([], ["/c/", r"^https://a\."])
    for bl, pats in itertools.product(domain_lists, pattern_lists):
        bl_df = None if bl is None else spark.createDataFrame(
            [(d,) for d in bl], "domain string"
        )
        flags = blocklist_flags(
            pages, bl_df, patterns=pats, max_labels=4
        ).collect()
        survivors = {
            r["url"]
            for r in blocklist_filter(
                pages, bl_df, patterns=pats, max_labels=4
            ).collect()
        }
        assert len(flags) == len(set(urls)), (bl, pats)
        assert {r["url"] for r in flags} == set(urls), (bl, pats)
        for r in flags:
            assert isinstance(r["blocked"], bool), (bl, pats, r)
            assert r["blocked"] is (r["url"] not in survivors), (bl, pats, r)
            if r["url"] is None:
                assert r["blocked"] is bool(pats), (bl, pats)


def test_blocklist_filter_plan_broadcast_anti_no_page_shuffle(spark):
    """100 TB posture pin: every domain probe is a broadcast hash LEFT
    ANTI join; the pages side (which carries text) crosses NO shuffle
    exchange, and the one broadcast relation is reused across probes."""
    plan = (
        blocklist_filter(_pages(spark), _bl(spark), max_labels=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan
    # host equality + one probe per depth 1..4, all broadcast hash joins
    assert plan.count("BroadcastHashJoin") == 5
    # NEITHER side shuffles: pages stream through their scan splits, and
    # the blocklist side is a plain projection under each broadcast
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_apply_input_filters_blocklist_integration(spark, tmp_path):
    """filters.blocklist_path + filters.url_patterns drive the r6
    blocklist inside the job's input-filter stage."""
    from gemini_ocr_batch_spark.config import FiltersConfig
    from gemini_ocr_batch_spark.job import apply_input_filters

    bl_file = tmp_path / "blocked_domains.txt"
    bl_file.write_text("# crawl blocklist\nads.example.com\ntracker.net\n")
    pages = _pages(spark).withColumn("lang", __import__(
        "pyspark.sql.functions", fromlist=["lit"]).lit("en"))
    filters = FiltersConfig(
        blocklist_path=str(bl_file), url_patterns=["/casino/"]
    )
    kept = apply_input_filters(pages, filters)
    assert sorted(r["url"] for r in kept.collect()) == [
        "https://example.com/fine",
        "https://good.org/page",
        "not a url at all",
    ]
    # no filters -> passthrough
    assert apply_input_filters(pages, FiltersConfig()).count() == len(PAGES)


def test_config_parses_blocklist_fields(tmp_path):
    from gemini_ocr_batch_spark.config import (
        ConfigError,
        load_config,
    )

    good = tmp_path / "good.yaml"
    good.write_text(
        "paths:\n  pages: /p\n  out: /o\n"
        "filters:\n  blocklist_path: /bl/domains.txt\n"
        "  url_patterns: ['/casino/', '\\.xxx/']\n"
    )
    cfg = load_config(str(good))
    assert cfg.filters.blocklist_path == "/bl/domains.txt"
    assert cfg.filters.url_patterns == ["/casino/", "\\.xxx/"]

    bad = tmp_path / "bad.yaml"
    bad.write_text(
        "paths:\n  pages: /p\n  out: /o\n"
        "filters:\n  blocklist_path: ''\n  url_patterns: [3]\n"
    )
    try:
        load_config(str(bad))
        raise AssertionError("expected ConfigError")
    except ConfigError as exc:
        assert "filters.blocklist_path" in str(exc)
        assert "filters.url_patterns" in str(exc)


def test_blocklist_property_fuzz_vs_python_model(spark):
    """Property fuzz: over random host/blocklist combinations, the
    chained suffix anti-joins agree with the direct python definition
    (host == domain OR host endswith '.' + domain)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    label = st.sampled_from(["a", "bb", "ads", "example", "com", "net"])
    host = st.lists(label, min_size=1, max_size=5).map(".".join)
    blocked = st.lists(
        st.lists(label, min_size=1, max_size=3).map(".".join),
        min_size=0, max_size=4, unique=True,
    )

    cases: list[tuple[list[str], list[str]]] = []

    @settings(max_examples=60, deadline=None)
    @given(st.lists(host, min_size=1, max_size=6, unique=True), blocked)
    def collect(hosts, bl):
        cases.append((hosts, bl))

    collect()

    # one Spark job per (hosts, blocklist) pair would take minutes; the
    # semantics are per-row, so replay every case through TWO jobs by
    # tagging rows with a case id and giving each case its own url space
    rows, bl_rows, want_kept = [], [], set()
    for ci, (hosts, bl) in enumerate(cases):
        for h in hosts:
            url = f"https://{h}/c{ci}"
            rows.append((f"c{ci}", url))
            hit = any(h == d or h.endswith("." + d) for d in bl)
            if not hit:
                want_kept.add(url)
        for d in bl:
            bl_rows.append((f"c{ci}", d))
    pages = spark.createDataFrame(rows, "case string, url string")
    got_kept = set()
    for ci in {c for c, _ in rows}:
        bl_df = spark.createDataFrame(
            [(d,) for c, d in bl_rows if c == ci] or [("zz.invalid",)],
            "domain string",
        )
        kept = blocklist_filter(
            pages.filter(pages["case"] == ci), bl_df, max_labels=5
        )
        got_kept |= {r["url"] for r in kept.collect()}
        if len(got_kept) > 10_000:  # safety, never expected
            break
    assert got_kept == want_kept


def test_blocklist_filter_works_on_streams(spark, tmp_path):
    """The blocklist is stateless + broadcast-joined, so it must compose
    into Structured Streaming unchanged (stream-static join)."""
    src = str(tmp_path / "in")
    spark.createDataFrame(PAGES, "url string, text string").write.parquet(
        src
    )
    stream = spark.readStream.schema("url string, text string").parquet(src)
    filtered = blocklist_filter(
        stream, _bl(spark), patterns=["/casino/"]
    )
    assert filtered.isStreaming
    q = (
        filtered.writeStream.format("memory")
        .queryName("bl_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["url"] for r in spark.sql("SELECT url FROM bl_stream").collect()
    )
    assert got == [
        "https://example.com/fine",
        "https://good.org/page",
        "not a url at all",
    ]


def test_config_rejects_uncompilable_url_pattern(tmp_path):
    """A bad regex must fail at config load (dotted-path error), not as
    a PatternSyntaxException mid-job (r6 review find)."""
    from gemini_ocr_batch_spark.config import ConfigError, load_config

    bad = tmp_path / "bad.yaml"
    bad.write_text(
        "paths:\n  pages: /p\n  out: /o\n"
        "filters:\n  url_patterns: ['/ok/', '/casino/(']\n"
    )
    try:
        load_config(str(bad))
        raise AssertionError("expected ConfigError")
    except ConfigError as exc:
        assert "filters.url_patterns[1]" in str(exc)
        assert "invalid regex" in str(exc)
