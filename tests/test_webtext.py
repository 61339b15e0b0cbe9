"""Unit tests for the webtext corpus-prep operators (hand-computed
edge cases; the cross-engine oracle parity rides test_entry_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gemini_ocr_batch_spark.operators.webtext import (
    canonicalize_urls,
    redact_pii,
    repetition_score,
)


def test_redact_pii_counts_and_order(spark):
    rows = [
        (1, "mail a.b+c@ex-ample.org and 10.0.0.1 twice 10.0.0.1"),
        (2, "no pii here"),
        (3, "two mails x@y.io z@w.co one ip 192.168.1.255"),
        # the version digits inside an email's host must NOT later be
        # IP-redacted: email redaction runs first and swallows them
        (4, "ping admin@10.0.0.1.example.com"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[1]["text_redacted"] == "mail <EMAIL> and <IP> twice <IP>"
    assert (got[1]["n_emails"], got[1]["n_ipv4"]) == (1, 2)
    assert got[2]["text_redacted"] == "no pii here"
    assert (got[2]["n_emails"], got[2]["n_ipv4"]) == (0, 0)
    assert (got[3]["n_emails"], got[3]["n_ipv4"]) == (2, 1)
    assert got[4]["text_redacted"] == "ping <EMAIL>"
    assert (got[4]["n_emails"], got[4]["n_ipv4"]) == (1, 0)


def test_canonicalize_urls_rules(spark):
    rows = [
        (1, "https://WWW.Ex.COM/Path/Page?b=2&utm_source=x&a=1#sec"),
        (2, "https://ex.com/p?utm_campaign=c&fbclid=z"),  # only tracking
        (3, "http://EX.com:8080/"),                       # port kept, no query
        (4, "https://ex.com/p?ref=home&q=term"),
        (5, "https://ex.com"),                            # no path at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["url"]: r["url_canonical"]
        for r in canonicalize_urls(df.select("url")).collect()
    }
    assert got[rows[0][1]] == "https://www.ex.com/Path/Page?a=1&b=2"
    assert got[rows[1][1]] == "https://ex.com/p"  # dangling '?' dropped
    assert got[rows[2][1]] == "http://ex.com:8080/"
    assert got[rows[3][1]] == "https://ex.com/p?q=term"
    assert got[rows[4][1]] == "https://ex.com"


def test_repetition_score_hand_computed(spark):
    rows = [
        (1, "a b a b a"),       # 2-grams: ab,ba,ab,ba → top 2 / 4 = 5000
        (2, "w x y z"),         # all distinct → 1/3 → 3333
        (3, "solo"),            # no 2-gram
        (4, "spam spam spam spam"),  # one gram repeated 3× → 10000
        (5, None),              # NULL text: empty shingles → 0/0, not NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["rep_x10000"], r["n_grams"])
        for r in repetition_score(df).collect()
    }
    assert got[1] == (5000, 4)
    assert got[2] == (3333, 3)
    assert got[3] == (0, 0)
    assert got[4] == (10000, 3)
    # the DuckDB oracles emit 0 gram rows for NULL text; the r4 zip_with
    # shingles rewrite instead propagated a NULL array (ADVICE r4) —
    # hashing.shingles now coalesces to the empty array
    assert got[5] == (0, 0)


def test_repetition_score_stays_jvm_side_and_shuffle_free(spark, sf_dir):
    """No Python evaluation in the plan, and the in-array fold keeps the
    kernel shuffle-free: the ONLY exchange is the presentation orderBy
    (range partitioning), never a hash exchange of exploded grams."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        repetition_score(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


def test_curation_flags_composed_rules(spark):
    from gemini_ocr_batch_spark.operators.webtext import curation_flags

    good = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "far away into the woods with a friend of the family for fun"
    )
    rows = [
        (1, good),                    # canonical, decent quality, varied
        (2, good),                    # exact dup of 1 -> not canonical
        (5, "spam " * 40),            # maximally repetitive
        (7, "x"),                     # too short: quality floor fails
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # threshold 4000: "x" scores 3020 (the punct/upper terms alone grant
    # 3000), the varied sentence 6520, the spam flood 3800
    got = {
        r["doc_id"]: r
        for r in curation_flags(df, min_quality_x10000=4000).collect()
    }
    assert got[1]["is_canonical"] and got[1]["keep"]
    assert not got[2]["is_canonical"] and not got[2]["keep"]
    assert got[2]["quality_ok"] == got[1]["quality_ok"]  # same text
    assert not got[5]["repetition_ok"] and not got[5]["keep"]
    assert not got[7]["quality_ok"] and not got[7]["keep"]


def test_curation_flags_window_never_ships_text(spark, sf_dir):
    """The fingerprint-window exchange must carry only (id, fingerprint,
    two bigints) — the text column stays below the exchange."""
    from gemini_ocr_batch_spark.operators.webtext import curation_flags

    from gemini_ocr_batch_spark.plans.checks import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = formatted_plan(curation_flags(docs))
    # formatted mode gives each operator an explicit Input list: the
    # fingerprint hash exchange's Input must not carry the text column
    exchange_sections = [
        s
        for s in fp.split("\n\n")
        if s.lstrip().startswith("(")
        and ") Exchange" in s.splitlines()[0]
        and "hashpartitioning(fingerprint" in s
    ]
    assert exchange_sections, fp
    for s in exchange_sections:
        input_line = next(l for l in s.splitlines() if l.startswith("Input"))
        assert "text#" not in input_line, s


def test_curate_job_end_to_end(spark, tmp_path):
    """gen-shaped pages → extraction run → curation job: every success
    row gets a flag, identical extracted texts collapse to one canonical
    kept row, and the written corpus is exactly the keep set."""
    import datetime as dt

    from gemini_ocr_batch_spark.job import read_extracted, run_extraction_job
    from gemini_ocr_batch_spark.operators.webtext import run_curation_job
    from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    body = (
        b"<html><body><p>alpha beta gamma delta epsilon zeta eta theta</p>"
        b"<p>one two three four five six seven eight nine ten</p></body></html>"
    )
    uniq = (
        b"<html><body><p>a completely different page about rivers and "
        b"mountains with many unique words in it today</p></body></html>"
    )
    rows = [(f"https://dup.example/{i}", ts, body, None, "en")
            for i in range(8)]
    rows.append(("https://uniq.example/0", ts, uniq, None, "en"))
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)

    out = str(tmp_path / "run_out")
    run_extraction_job(spark, pages, out, max_retries=1)
    n_success = read_extracted(spark, out).count()
    assert n_success == 9

    cur = str(tmp_path / "curated")
    stats = run_curation_job(spark, out, cur)
    assert stats["input_rows"] == 9
    # 8 identical extracted texts -> 1 canonical + the unique page
    assert stats["dropped_duplicate"] == 7
    assert stats["kept"] == 2
    corpus = spark.read.parquet(stats["corpus_path"])
    kept_urls = {r["url"] for r in corpus.select("url").collect()}
    flags = spark.read.parquet(stats["flags_path"])
    assert kept_urls == {
        r["url"] for r in flags.filter("keep").collect()
    }
    assert "https://uniq.example/0" in kept_urls
    # canonical representative is the min url of the dup cluster
    assert "https://dup.example/0" in kept_urls


def test_curate_outputs_ignore_escaped_string_literals(spark, tmp_path):
    """The curate builders are SQL text with no backslash in any literal,
    so the flags, the kept corpus and the near-dup keep-list are the same
    under both settings of spark.sql.parser.escapedStringLiterals (the
    Column API they replaced never read it)."""
    import datetime as dt

    from gemini_ocr_batch_spark.job import read_extracted, run_extraction_job
    from gemini_ocr_batch_spark.operators.dedup import near_dedup_keep_list
    from gemini_ocr_batch_spark.operators.webtext import run_curation_job
    from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA

    words = ("river stone valley north bright garden silver lantern quiet "
             "harbor meadow copper signal winter orchard canyon").split()

    def page(text: str) -> bytes:
        return f"<html><body><p>{text}</p></body></html>".encode()

    base = " ".join(words[i % 16] + ("," if i % 7 == 0 else "")
                    for i in range(60))
    texts = [base] * 3  # exact duplicates: one canonical survives
    texts += [base.replace("winter", f"Summer{i}", 1) for i in range(3)]
    texts += ["spam " * 40, "BUY NOW!!! CLICK HERE!!! FREE!!!"]
    texts += [" ".join(words[(i * k) % 16] for i in range(50)) + ". Yes?"
              for k in (3, 5, 7)]
    ts = dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"https://e.example/{i}", ts, page(t), None, "en")
         for i, t in enumerate(texts)], PAGES_SCHEMA)
    out = str(tmp_path / "run_out")
    run_extraction_job(spark, pages, out, max_retries=1)
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    got = {}
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            stats = run_curation_job(spark, out, str(tmp_path / mode))
            keep = near_dedup_keep_list(
                read_extracted(spark, out),
                id_col="url", text_col="extracted_text",
            )
            got[mode] = (
                {k: v for k, v in stats.items() if not k.endswith("_path")},
                sorted(map(tuple, spark.read.parquet(
                    stats["flags_path"]).collect())),
                sorted(r["url"] for r in spark.read.parquet(
                    stats["corpus_path"]).select("url").collect()),
                sorted(map(tuple, keep.collect())),
            )
    finally:
        spark.conf.set(key, before)
    assert got["true"] == got["false"]
    stats, flags, corpus, keep = got["false"]
    # not vacuous: every rule and the keep-list have work to do
    assert stats["input_rows"] == len(texts) == len(flags)
    assert stats["kept"] == len(corpus)
    assert stats["dropped_duplicate"] == 2
    assert stats["dropped_repetitive"] >= 1
    assert stats["dropped_low_quality"] >= 1
    assert sum(1 for r in keep if not r[2]) >= 4


def test_line_dedup_first_occurrence_wins(spark):
    from gemini_ocr_batch_spark.operators.webtext import line_dedup

    rows = [
        (1, "alpha\nshared boiler\nbeta"),
        (2, "shared boiler\ngamma\nshared boiler"),  # within-doc dup too
        (3, "shared boiler"),                        # loses its only line
        (4, "delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert got[1]["text_deduped"] == "alpha\nshared boiler\nbeta"
    assert (got[1]["n_lines"], got[1]["n_kept"]) == (3, 3)
    # doc 2: both copies of the shared line lose to doc 1's
    assert got[2]["text_deduped"] == "gamma"
    assert (got[2]["n_lines"], got[2]["n_kept"]) == (3, 1)
    assert got[3]["text_deduped"] == ""
    assert (got[3]["n_lines"], got[3]["n_kept"]) == (1, 0)
    assert got[4]["text_deduped"] == "delta"


def test_line_dedup_winner_shuffle_is_text_free(spark, sf_dir):
    """The winner-election exchange (groupBy line digest, min struct)
    must not carry line text — only (h, doc, line_no) cross it."""
    from gemini_ocr_batch_spark.operators.webtext import line_dedup
    from gemini_ocr_batch_spark.plans.checks import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = formatted_plan(line_dedup(docs))
    agg_exchanges = [
        s
        for s in fp.split("\n\n")
        if s.lstrip().startswith("(")
        and ") Exchange" in s.splitlines()[0]
        and "hashpartitioning(h#" in s
    ]
    assert agg_exchanges, fp
    # the FIRST h-exchange is the winner election (partial agg below it):
    # its Input is (h, min struct) — no line column
    first = agg_exchanges[0]
    input_line = next(l for l in first.splitlines() if l.startswith("Input"))
    assert "line#" not in input_line, first


def test_line_dedup_fuzz_vs_python_oracle(spark):
    """Seeded random corpora vs an independent pure-Python first-
    occurrence oracle (docs ascending, lines in order) — pins the
    (min doc, min line_no) winner rule and the reassembly."""
    import random

    from gemini_ocr_batch_spark.operators.webtext import line_dedup

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg"]
    rng = random.Random(9)
    for _ in range(5):
        rows = [
            (
                doc_id,
                "\n".join(
                    rng.choice(vocab)
                    for _ in range(rng.randint(1, 6))
                ),
            )
            for doc_id in range(1, rng.randint(3, 9))
        ]
        seen: set[str] = set()
        want = {}
        for doc_id, text in sorted(rows):
            kept = [
                line
                for line in text.split("\n")
                if line not in seen and not seen.add(line)
            ]
            want[doc_id] = "\n".join(kept)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["text_deduped"]
            for r in line_dedup(df).collect()
        }
        assert got == want, rows


def test_latest_snapshot_revisit_resolution(spark):
    from gemini_ocr_batch_spark.operators.webtext import latest_snapshot

    rows = [
        ("https://a.example/p", 100, "old"),
        ("https://a.example/p", 300, "newest"),
        ("https://a.example/p", 200, "mid"),
        ("https://b.example/q", 50, "only"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long, text string")
    got = {r["url"]: r for r in latest_snapshot(df).collect()}
    assert got["https://a.example/p"]["text"] == "newest"
    assert got["https://a.example/p"]["n_snapshots"] == 3
    assert got["https://b.example/q"]["n_snapshots"] == 1
    # deterministic tie-break: same ts twice -> smaller md5(text) wins,
    # stable across reruns and partitionings
    ties = spark.createDataFrame(
        [("u", 1, "aaa"), ("u", 1, "bbb")],
        "url string, warc_ts long, text string",
    )
    import hashlib

    expect = min("aaa", "bbb", key=lambda t: hashlib.md5(t.encode()).hexdigest())
    assert latest_snapshot(ties).collect()[0]["text"] == expect
    assert (
        latest_snapshot(ties.repartition(5)).collect()[0]["text"] == expect
    )


def test_latest_snapshot_slim_matches_window_form(spark):
    """slim=True (slim winner election + join-back) must select exactly
    the rows the single-window form selects, including digest tie-breaks."""
    from gemini_ocr_batch_spark.operators.webtext import latest_snapshot

    rows = [
        ("https://a.example/p", 100, "old", "en"),
        ("https://a.example/p", 300, "newest", "en"),
        ("https://a.example/p", 200, "mid", "de"),
        ("https://b.example/q", 50, "only", "fr"),
        ("https://c.example/t", 7, "aaa", "en"),   # (key, ts) tie broken
        ("https://c.example/t", 7, "bbb", "en"),   # by md5(text)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts long, text string, lang string"
    )
    key = lambda r: (r["url"], r["warc_ts"], r["text"], r["lang"],
                     r["n_snapshots"])
    dense = sorted(key(r) for r in latest_snapshot(df).collect())
    slim = sorted(key(r) for r in latest_snapshot(df, slim=True).collect())
    assert dense == slim and len(slim) == 3


def test_latest_snapshot_tiebreak_col_generic_input(spark):
    """Inputs without a `text` column analyze when tiebreak_col names a
    real column (r5 ADVICE: the tie-break was hardcoded to `text`)."""
    from gemini_ocr_batch_spark.operators.webtext import latest_snapshot

    df = spark.createDataFrame(
        [("k", 1, 10), ("k", 2, 20), ("k", 2, 30)],
        "url string, warc_ts long, payload int",
    )
    got = latest_snapshot(df, tiebreak_col="payload").collect()
    assert len(got) == 1 and got[0]["n_snapshots"] == 3
    import hashlib

    win = min("20", "30", key=lambda t: hashlib.md5(t.encode()).hexdigest())
    assert got[0]["payload"] == int(win)


def test_latest_snapshot_bucketed_source_zero_exchange(spark, tmp_path):
    """The 100 TB posture pin (r6 bench finding): on a source bucketed
    by the key, the default window form's distribution requirement is
    satisfied by the bucket layout — NO exchange at all, page payloads
    never move. This is why the window form beats the slim join-back on
    the crawl-store layout (BENCH.md r6)."""
    from pyspark.sql import functions as F

    from gemini_ocr_batch_spark.operators.webtext import latest_snapshot

    df = spark.range(500).select(
        F.concat(F.lit("u"), (F.col("id") % 50).cast("string")).alias("url"),
        F.col("id").alias("warc_ts"),
        F.col("id").cast("string").alias("text"),
    )
    spark.sql("DROP TABLE IF EXISTS snap_bucket_pin")
    df.write.bucketBy(8, "url").sortBy("url", "warc_ts").saveAsTable(
        "snap_bucket_pin"
    )
    try:
        t = spark.table("snap_bucket_pin")
        plan = (
            latest_snapshot(t)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning" not in plan
        assert latest_snapshot(t).count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_bucket_pin")


def test_latest_snapshot_canonicalize_collapses_variants(spark):
    from gemini_ocr_batch_spark.operators.webtext import latest_snapshot

    rows = [
        ("https://A.example/p?utm_source=x", 1, "tracked"),
        ("https://a.example/p", 2, "bare"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long, text string")
    plain = latest_snapshot(df).collect()
    assert len(plain) == 2  # distinct raw urls: nothing collapses
    canon = latest_snapshot(df, canonicalize=True).collect()
    assert len(canon) == 1
    assert canon[0]["text"] == "bare" and canon[0]["n_snapshots"] == 2
    # slim winner election agrees under canonicalized (derived) keys too
    slim = latest_snapshot(df, canonicalize=True, slim=True).collect()
    assert len(slim) == 1
    assert slim[0]["text"] == "bare" and slim[0]["n_snapshots"] == 2


def test_gopher_quality_flags_hand_computed(spark):
    from gemini_ocr_batch_spark.operators.webtext import gopher_quality_flags

    rows = [
        (1, "clean simple words all the way through here today"),
        (2, "# # # # # bad"),                   # 5 hashes / 6 words
        (3, "- a\n- b\n- c\nplain"),            # 3 of 4 lines bulleted
        (4, "read more...\nand more...\nok"),   # 2 of 3 ellipsis lines
        (5, "111 222 333 444 word"),            # 1 of 5 alpha words
        (6, None),                              # null text: all-zero, not ok
        (7, "привет мир 你好 世界"),              # non-Latin scripts count
        (8, "wait… wait… wait… go"),            # unicode ellipsis = symbol
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # legacy four-rule axis: neutralize the r6 word-count / word-length /
    # stopword rules so the per-rule assertions below stay exact
    got = {
        r["doc_id"]: r
        for r in gopher_quality_flags(
            df, min_words=1, min_word_len_x100=0,
            max_word_len_x100=100_000, min_stopword_hits=0,
        ).collect()
    }
    assert got[1]["gopher_ok"]
    assert got[1]["alpha_frac_x10000"] == 10000
    assert got[2]["symbol_ratio_x10000"] == 8333 and not got[2]["symbol_ok"]
    assert got[3]["bullet_frac_x10000"] == 7500 and got[3]["bullet_ok"]
    assert got[4]["ellipsis_frac_x10000"] == 6666
    assert not got[4]["ellipsis_ok"]
    assert got[5]["alpha_frac_x10000"] == 2000 and got[5]["alpha_ok"] is False
    # NULL text: every ratio is exactly 0 and every flag a REAL boolean
    # (NULL booleans break negated filters downstream — r5 ADVICE)
    assert got[6]["alpha_frac_x10000"] == 0
    assert got[6]["symbol_ratio_x10000"] == 0
    assert got[6]["alpha_ok"] is False and got[6]["gopher_ok"] is False
    assert got[6]["symbol_ok"] is True  # 0/0 symbols is not a violation
    # \p{L} alpha class: zh/ru words are alphabetic, not silently 0
    assert got[7]["alpha_frac_x10000"] == 10000 and got[7]["gopher_ok"]
    # '…' counts toward the symbol ratio like '...': 3 symbols / 4 words
    assert got[8]["symbol_ratio_x10000"] == 7500
    assert got[8]["symbol_ok"] is False


def test_gopher_word_count_length_stopword_rules(spark):
    """The r6 completions of the published rule set: word-count bounds,
    mean word length 3-10 chars (x100 fixed point), >=2 of the 8 Gopher
    stopwords."""
    from gemini_ocr_batch_spark.operators.webtext import (
        gopher_quality_flags,
    )

    fifty = " ".join(
        ["the", "be", "to", "of", "and"] * 2 + ["word"] * 40
    )  # 50 words, stopword-rich
    rows = [
        (1, fifty),
        (2, "too few words with the and of that"),      # 8 words < 50
        (3, " ".join(["of", "supercalifragilistic"] * 25)),  # mean len 11
        (4, " ".join(["a", "to", "of"] * 17)),          # mean len 1.67
        (5, " ".join(["alpha", "bravo", "charlie"] * 17)),   # 0 stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert got[1]["n_words"] == 50 and got[1]["word_count_ok"] is True
    assert got[1]["stopword_hits"] == 5 and got[1]["stopword_ok"] is True
    assert got[1]["word_len_ok"] is True and got[1]["gopher_ok"] is True
    assert got[2]["word_count_ok"] is False and got[2]["gopher_ok"] is False
    # doc 3: (2+20)/2 = 11 mean -> 1100 > 1000
    assert got[3]["word_len_x100"] == 1100
    assert got[3]["word_len_ok"] is False
    # doc 4: (1+2+2)/3 ~ 1.66 -> 166 < 300
    assert got[4]["word_len_x100"] == 166
    assert got[4]["word_len_ok"] is False
    assert got[5]["stopword_hits"] == 0 and got[5]["stopword_ok"] is False


def test_gopher_quality_flags_stays_jvm_side(spark, sf_dir):
    from gemini_ocr_batch_spark.operators.webtext import gopher_quality_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        gopher_quality_flags(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


def test_domain_quality_stats_rollup(spark):
    """Per-domain curation signal: dup fraction + mean quality roll up
    by host, exact integer arithmetic."""
    from gemini_ocr_batch_spark.operators.webtext import (
        domain_quality_stats,
    )
    from gemini_ocr_batch_spark.functions.hashing import tokens
    from gemini_ocr_batch_spark.operators.textstats import (
        quality_x10000_sql,
    )
    from pyspark.sql import functions as F

    rows = [
        ("https://farm.example/a", "copy of the same body text"),
        ("https://farm.example/b", "copy of the same body text"),
        ("https://farm.example/c", "copy of the same body text"),
        ("https://farm.example/d", "one distinct page body"),
        ("https://clean.example/x", "an original article body here"),
        ("https://clean.example/y", "a different original body there"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r["domain"]: r for r in domain_quality_stats(df).collect()}
    farm = got["farm.example"]
    assert farm["n_docs"] == 4 and farm["n_unique_text"] == 2
    assert farm["dup_frac_x10000"] == 5000
    clean = got["clean.example"]
    assert clean["n_docs"] == 2 and clean["dup_frac_x10000"] == 0
    # mean = integer sum div n of the shared quality formula
    qs = [
        r["q"]
        for r in df.filter(F.col("url").startswith("https://clean"))
        .select(F.expr(quality_x10000_sql("text", tokens("text"))).alias("q"))
        .collect()
    ]
    assert clean["mean_quality_x10000"] == sum(qs) // 2


def test_domains_cli_verb(spark, tmp_path, capsys):
    """domains verb end to end: extraction run -> per-domain report with
    the dup-heavy domain ranked first."""
    import datetime as dt
    import json

    from gemini_ocr_batch_spark.__main__ import main
    from gemini_ocr_batch_spark.job import run_extraction_job
    from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    body = (
        b"<html><body><p>alpha beta gamma delta epsilon zeta eta "
        b"theta</p></body></html>"
    )
    rows = [(f"https://farm.example/{i}", ts, body, None, "en")
            for i in range(4)]
    rows += [
        (f"https://clean.example/{i}", ts,
         b"<html><body><p>unique words page number %d with extra "
         b"content</p></body></html>" % i, None, "en")
        for i in range(3)
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = str(tmp_path / "run_out")
    run_extraction_job(spark, pages, out, max_retries=1)

    rc = main(["domains", "--extracted", out,
               "--out", str(tmp_path / "domains"), "--top", "1"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_domains"] == 2
    (worst,) = rep["top_duplicate_domains"]
    assert worst["domain"] == "farm.example"
    assert worst["n_docs"] == 4 and worst["n_unique_text"] == 1
    assert worst["dup_frac_x10000"] == 7500
    table = spark.read.parquet(str(tmp_path / "domains"))
    assert table.count() == 2


def test_curate_job_with_gopher_gate(spark, tmp_path):
    """gopher_rules=True composes the Gopher gate into keep: a page that
    passes dedup+quality but fails a Gopher rule (here: too few words)
    is dropped, and the audit reports it."""
    import datetime as dt

    from gemini_ocr_batch_spark.job import run_extraction_job
    from gemini_ocr_batch_spark.operators.webtext import run_curation_job
    from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    long_body = (
        "the quick brown fox jumps over the lazy dog and then it runs far "
        "away into the deep woods with a good friend of the family and "
        "they both keep going until the night comes down over the hills "
        "and everything is quiet again for a long while after that"
    )
    rows = [
        ("https://a.example/long", ts,
         b"<html><body><p>%s</p></body></html>" % long_body.encode(),
         None, "en"),
        ("https://a.example/short", ts,
         b"<html><body><p>just five words with the</p></body></html>",
         None, "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = str(tmp_path / "run_out")
    run_extraction_job(spark, pages, out, max_retries=1)

    base = run_curation_job(spark, out, str(tmp_path / "c0"))
    assert base["kept"] == 2 and "dropped_gopher" not in base

    gated = run_curation_job(
        spark, out, str(tmp_path / "c1"), gopher_rules=True
    )
    assert gated["dropped_gopher"] == 1
    assert gated["kept"] == 1
    corpus = spark.read.parquet(gated["corpus_path"])
    assert [r["url"] for r in corpus.select("url").collect()] == [
        "https://a.example/long"
    ]
    flags = spark.read.parquet(gated["flags_path"])
    assert "gopher_ok" in flags.columns


def test_latest_snapshot_slim_keeps_null_ts_keys(spark):
    """slim join-back must be null-safe on (key, ts): a key whose
    winning capture has a NULL timestamp may not vanish (r6 review
    find)."""
    from gemini_ocr_batch_spark.operators.webtext import latest_snapshot

    df = spark.createDataFrame(
        [("k1", None, "only"), ("k2", 5, "a"), ("k2", None, "older?")],
        "url string, warc_ts long, text string",
    )
    dense = {(r["url"], r["text"]) for r in latest_snapshot(df).collect()}
    slim = {(r["url"], r["text"])
            for r in latest_snapshot(df, slim=True).collect()}
    assert dense == slim
    assert ("k1", "only") in slim

def test_snapshot_delta_classifies_all_four(spark):
    from gemini_ocr_batch_spark.operators.webtext import snapshot_delta

    old = spark.createDataFrame(
        [("a", "same"), ("b", "old-text"), ("c", "gone"), ("c", "gone2")],
        ["url", "text"],
    )
    new = spark.createDataFrame(
        [("a", "same"), ("b", "new-text"), ("d", "fresh"), ("e", None)],
        ["url", "text"],
    )
    got = {r["url"]: r["status"]
           for r in snapshot_delta(old, new).collect()}
    assert got == {"a": "unchanged", "b": "changed", "c": "removed",
                   "d": "added", "e": "added"}
    # duplicate keys collapse deterministically (min digest), no fan-out
    assert snapshot_delta(old, new).count() == 5


def test_snapshot_delta_precomputed_digest_and_slim_plan(spark, tmp_path):
    from gemini_ocr_batch_spark.operators.webtext import snapshot_delta

    spark.createDataFrame(
        [("a", "h1", "BIGTEXT" * 100)], ["url", "dg", "text"]
    ).write.parquet(str(tmp_path / "old"))
    spark.createDataFrame(
        [("a", "h2", "BIGTEXT" * 100)], ["url", "dg", "text"]
    ).write.parquet(str(tmp_path / "new"))
    old = spark.read.parquet(str(tmp_path / "old"))
    new = spark.read.parquet(str(tmp_path / "new"))
    out = snapshot_delta(old, new, digest_col="dg")
    assert out.collect()[0]["status"] == "changed"
    # column pruning reaches the scan: text never leaves the parquet
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "text" not in line, line
    assert "ReadSchema" in plan


def test_snapshot_delta_null_precomputed_digest_is_presence(spark):
    # review regression: the outer join uses digest nullity as the
    # existence test — a NULL digest in digest_col misclassified a
    # present key as added/removed.
    from gemini_ocr_batch_spark.operators.webtext import snapshot_delta

    old = spark.createDataFrame(
        [("a", None), ("b", None), ("c", "h1")], ["url", "dg"]
    )
    new = spark.createDataFrame(
        [("a", None), ("b", "h2"), ("d", None)], ["url", "dg"]
    )
    got = {r["url"]: r["status"]
           for r in snapshot_delta(old, new, digest_col="dg").collect()}
    assert got == {"a": "unchanged", "b": "changed", "c": "removed",
                   "d": "added"}
