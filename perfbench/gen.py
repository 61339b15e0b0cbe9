"""Seeded, single-process input generator for the benchmark workloads.

Usage::

    python3 perfbench/gen.py --workload extract_cold --seed 7 --out DIR

writes the workload's input tables under ``DIR`` as parquet and nothing
else.  The same ``(workload, seed)`` always gives byte-identical files; the
program under test only ever sees those files.

Pages follow the ``pages(url, warc_ts, html, text, lang)`` shape of
``datagen``: known main content wrapped in known boilerplate, PDFs built by
``datagen.make_pdf_page``, undecodable blobs, a giant-blob tail and
re-crawled urls.  The curate corpus instead plants exact duplicates,
near-duplicate clusters (a few of them large, so some LSH buckets are hot)
and repetitive pages, and keeps every page short enough for the DuckDB
oracles' fixed token series.
"""

from __future__ import annotations

import argparse
import json
import datetime as dt
import os
import random
import shutil

# One place for every generator parameter; BENCHMARK.json's "why" lines and
# README.md quote these.
PARAMS = {
    "extract_cold": {
        "pages": 6000, "files": 8, "undecodable": 0.05, "pdf": 0.04,
        "giant": 0.015, "link_farm": 0.02, "malformed": 0.02,
        "recrawl_every": 97,
    },
    "extract_resume": {
        "pages": 8000, "files": 8, "delta_share": 0.05, "undecodable": 0.05,
        "pdf": 0.04, "giant": 0.015, "link_farm": 0.02, "malformed": 0.02,
        "recrawl_every": 97,
    },
    "curate": {
        "pages": 2000, "files": 4, "near_dup_share": 0.2,
        "large_clusters": (50, 30, 20), "small_cluster": (2, 4),
        "exact_dup_share": 0.03, "repetitive_share": 0.02,
    },
}

_WORDS = (
    "analysis course data engine query spark table column join filter "
    "window history science method result archive record lecture spring "
    "autumn catalog syllabus faculty research paper study topic chapter "
    "theory practice exam credit semester schedule laboratory project "
    "the and of to in is that for with on as"
).split()
_LANGS = ("en", "de", "fr", "zh", "es")
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _sentences(rng: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        words = rng.choices(_WORDS, k=rng.randint(6, 14))
        out.append(" ".join(words).capitalize() + ".")
    return out


def _article(rng: random.Random, n_paragraphs: int) -> list[list[str]]:
    """Main content as paragraphs of sentences."""
    return [_sentences(rng, rng.randint(2, 5)) for _ in range(n_paragraphs)]


def _html(rng: random.Random, article: list[list[str]], *,
          malformed: bool = False, link_farm_only: bool = False) -> bytes:
    nav = "".join(f'<li><a href="/{w}">{w}</a></li>'
                  for w in rng.sample(_WORDS, 6))
    farm = "".join(f'<a href="/x/{i}">{w}</a> '
                   for i, w in enumerate(rng.choices(_WORDS, k=20)))
    if link_farm_only:
        main = f"<div>{farm}</div><div>{farm}</div>"
    else:
        parts = []
        for i, para in enumerate(article):
            if i % 7 == 3:
                parts.append(f"<h2>{para[0][:-1]}</h2>")
            parts.append(f"<p>{' '.join(para)}</p>")
        main = f"<article>{''.join(parts)}</article>"
    page = (
        "<!DOCTYPE html><html><head><title>t</title>"
        "<style>.x{color:red}</style><script>var q=1;</script></head>"
        "<body><header><div>Site Chrome Banner</div></header>"
        f"<nav><ul>{nav}</ul></nav>{main}<aside><div>{farm}</div></aside>"
        "<footer><p>Copyright 2024 Example Corp. All rights reserved."
        "</p></footer></body></html>"
    )
    if malformed:
        page = page.replace("</article>", "").replace("</p>", "", 3)
    return page.encode("utf-8")


def _row(i: int, url: str, blob: bytes) -> tuple:
    return (url, EPOCH + dt.timedelta(minutes=i), blob, None,
            _LANGS[i % len(_LANGS)])


def crawl_rows(rng: random.Random, n: int, p: dict, first: int = 0,
               host: str = "example.org") -> list[tuple]:
    """The extraction mix: clean HTML, link farms, malformed HTML, PDFs,
    undecodable blobs (empty or random bytes), giant blobs and re-crawls."""
    from gemini_ocr_batch_spark.datagen import make_pdf_page

    # exact class counts, shuffled: every seed gets the same mix
    kinds = (["pdf"] * round(n * p["pdf"])
             + ["bad"] * round(n * p["undecodable"])
             + ["giant"] * round(n * p["giant"])
             + ["farm"] * round(n * p["link_farm"])
             + ["malformed"] * round(n * p["malformed"]))
    kinds += ["page"] * (n - len(kinds))
    rng.shuffle(kinds)
    rows = []
    for i, kind in zip(range(first, first + n), kinds):
        if kind == "pdf":
            url = f"https://{host}/doc/{i}.pdf"
            blob = make_pdf_page(rng, two_column=i % 2 == 0,
                                 compress=i % 3 == 0)
        elif kind == "bad":
            url = f"https://{host}/bin/{i}.html"
            blob = b"" if i % 2 else rng.randbytes(512)
        elif kind == "giant":
            url = f"https://{host}/giant/{i}.html"
            blob = _html(rng, _article(rng, 240))
        elif kind == "farm":
            url = f"https://{host}/farm/{i}.html"
            blob = _html(rng, [], link_farm_only=True)
        elif kind == "malformed":
            url = f"https://{host}/bad/{i}.html"
            blob = _html(rng, _article(rng, rng.randint(2, 6)),
                         malformed=True)
        else:
            url = f"https://{host}/page/{i}.html"
            blob = _html(rng, _article(rng, rng.randint(2, 6)))
        rows.append(_row(i, url, blob))
        if i % p["recrawl_every"] == 0 and i:
            url, ts, blob, text, lang = rows[-1]
            rows.append((url, ts + dt.timedelta(days=30), blob, text, lang))
    return rows


def _perturb(rng: random.Random, article: list[list[str]],
             share: float) -> list[list[str]]:
    """Replace about ``share`` of the words: a near-duplicate."""
    out = []
    for para in article:
        sents = []
        for s in para:
            words = s.split(" ")
            for j in range(len(words)):
                if rng.random() < share:
                    words[j] = rng.choice(_WORDS)
            sents.append(" ".join(words))
        out.append(sents)
    return out


def corpus_rows(rng: random.Random, p: dict) -> list[tuple]:
    """Short clean pages with planted exact duplicates, near-duplicate
    clusters (``large_clusters`` plus small ones) and repetitive pages."""
    n = p["pages"]
    n_near = int(n * p["near_dup_share"])
    sizes = list(p["large_clusters"])
    lo, hi = p["small_cluster"]
    while sum(sizes) < n_near:
        sizes.append(rng.randint(lo, hi))
    rows: list[tuple] = []
    for size in sizes:  # each cluster: one source page and its variants
        base = _article(rng, rng.randint(3, 6))
        for _ in range(size):
            rows.append(_perturb(rng, base, rng.uniform(0.01, 0.05)))
    n_exact = round(n * p["exact_dup_share"])
    n_rep = round(n * p["repetitive_share"])
    while len(rows) < n - n_exact - n_rep:
        rows.append(_article(rng, rng.randint(2, 6)))
    rows += [[_sentences(rng, 1) * 12] for _ in range(n_rep)]
    rows += [rng.choice(rows) for _ in range(n_exact)]
    rng.shuffle(rows)
    return [_row(i, f"https://example.net/c/{i}.html", _html(rng, art))
            for i, art in enumerate(rows)]


def write_table(rows: list[tuple], path: str, files: int) -> None:
    """``files`` parquet files, rows dealt round-robin."""
    from gemini_ocr_batch_spark.datagen import write_pages_parquet

    os.makedirs(path)
    for f in range(files):
        write_pages_parquet(rows[f::files],
                            os.path.join(path, f"part-{f:03d}.parquet"))


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's tables under ``out``; returns row counts.

    extract_cold: ``pages/``.  extract_resume: ``base/`` and ``delta/``
    (new urls only).  curate: ``pages/``.
    """
    p = PARAMS[workload]
    shutil.rmtree(out, ignore_errors=True)
    rng = random.Random(f"{workload}:{seed}")
    if workload == "extract_cold":
        rows = crawl_rows(rng, p["pages"], p)
        write_table(rows, os.path.join(out, "pages"), p["files"])
        return {"pages": len(rows)}
    if workload == "extract_resume":
        base = crawl_rows(rng, p["pages"], p)
        n_delta = int(p["pages"] * p["delta_share"])
        delta = crawl_rows(rng, n_delta, p, first=p["pages"],
                           host="delta.example.org")
        write_table(base, os.path.join(out, "base"), p["files"])
        write_table(delta, os.path.join(out, "delta"), 1)
        return {"base": len(base), "delta": len(delta)}
    rows = corpus_rows(rng, p)
    write_table(rows, os.path.join(out, "pages"), p["files"])
    return {"pages": len(rows)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, args.out)))


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    main()
