"""Output checks: the golden extractor and the repo's DuckDB oracles.

Extraction output must be byte-identical to ``datagen.golden_extract`` run
over the same input files.  Curation flags and the near-dedup keep-list
must equal the DuckDB oracle SQL that ``__spark_entry__`` declares for
``curation_flags`` and ``near_dedup_components``.  Every check returns the
set of document keys whose result is missing or wrong.
"""

from __future__ import annotations

import glob
import os
import pickle
import re
import subprocess
import sys
from collections import Counter

def _micros(col):
    import pyarrow as pa

    return col.cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_pylist()


def _golden_file(path: str) -> dict:
    """key → (text, spans, kind, error) for every row of one input file."""
    import pyarrow.parquet as pq

    from gemini_ocr_batch_spark.kernels import extract_document

    t = pq.read_table(path, columns=["url", "warc_ts", "html"])
    return {
        (u, ts): extract_document(b, u)
        for u, ts, b in zip(t.column("url").to_pylist(),
                            _micros(t.column("warc_ts")),
                            t.column("html").to_pylist())
    }


def golden(table_dirs: list[str], workers: int, tmp: str) -> dict:
    """Golden results for every row of the given input tables, computed by
    ``workers`` child processes, each over its share of the input files."""
    files = sorted(f for d in table_dirs
                   for f in glob.glob(os.path.join(d, "*.parquet")))
    procs = []
    for w in range(workers):
        out = os.path.join(tmp, f"golden-{w}.pickle")
        procs.append((out, subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), out,
             *files[w::workers]])))
    result: dict = {}
    for out, proc in procs:
        if proc.wait() != 0:
            raise RuntimeError(f"golden worker failed: {proc.args}")
        with open(out, "rb") as fh:  # written by our own child above
            result.update(pickle.load(fh))
        os.remove(out)
    return result


def read_run_output(out_dir: str, run_id: str) -> list[dict]:
    """Every row one run wrote under ``extracted_all/run_id=…``."""
    import pyarrow.dataset as ds

    path = os.path.join(out_dir, "extracted_all", f"run_id={run_id}")
    if not os.path.isdir(path):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["url", "warc_ts", "extracted_text", "spans",
                 "content_kind", "error_type", "is_ok"])
    cols = {c: t.column(c).to_pylist() for c in t.column_names
            if c != "warc_ts"}
    cols["warc_ts"] = _micros(t.column("warc_ts"))
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


def check_extraction(rows: list[dict], want: dict) -> set:
    """Keys of ``want`` (key → golden tuple) whose output is missing or not
    byte-identical, plus any key extracted that was not wanted."""
    seen: dict = {}
    bad = set()
    for r in rows:
        key = (r["url"], r["warc_ts"])
        if key not in want:
            bad.add(key)
            continue
        seen.setdefault(key, []).append(r)
    for key, (text, spans, kind, err) in want.items():
        got = seen.get(key, [])
        ok_rows = [r for r in got if str(r["is_ok"]).lower() == "true"]
        if err is None:
            good = (
                len(ok_rows) == 1
                and ok_rows[0]["extracted_text"] == text
                and ok_rows[0]["content_kind"] == kind
                and [(s["start"], s["end"], s["kind"])
                     for s in ok_rows[0]["spans"]] == spans
            )
        else:
            good = bool(got) and not ok_rows and all(
                r["error_type"] == err for r in got)
        if not good:
            bad.add(key)
    return bad


def expected_status(want: dict) -> dict[str, int]:
    """Checkpoint status counts once every key is terminal: a
    deterministic kernel error retires its key as dead."""
    n_ok = sum(1 for v in want.values() if v[3] is None)
    return {"success": n_ok, "dead": len(want) - n_ok}


# ---------------------------------------------------------------- curation
def _entry():
    import __spark_entry__

    return __spark_entry__


def curation_oracle_sql() -> str:
    """The repo's ``curation_flags`` oracle over ``documents`` as given:
    its corpus CTE, which plants the oracle-suite duplicates, is replaced
    by the documents themselves."""
    sql = _entry()._curation_flags_oracle_sql()
    new, n = re.subn(r"corpus AS \(.*?\),(\s*tok AS)",
                     r"corpus AS (SELECT doc_id, text FROM documents),\1",
                     sql, count=1, flags=re.S)
    if n != 1:
        raise RuntimeError("curation_flags oracle SQL changed shape")
    return new


def components_oracle_sql() -> str:
    """The repo's ``near_dedup_components`` oracle with its pairs CTE
    materialized: same result, but DuckDB no longer re-runs the minhash
    pairs query on every step of the recursive union-find."""
    sql = _entry()._near_dedup_components_oracle_sql()
    new = sql.replace("WITH RECURSIVE pairs AS (",
                      "WITH RECURSIVE pairs AS MATERIALIZED (", 1)
    if new == sql:
        raise RuntimeError("near_dedup_components oracle SQL changed shape")
    return new


def curate_oracle(extracted_dir: str) -> dict:
    """Flags per url, the kept urls, and the near-dedup keep-list over the
    kept corpus, all computed by DuckDB from the extracted run."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        src = os.path.join(extracted_dir, "extracted_all", "**", "*.parquet")
        con.execute(
            "CREATE TABLE docs AS SELECT url AS doc_id, extracted_text AS "
            f"text FROM read_parquet('{src}', hive_partitioning = true) "
            "WHERE CAST(is_ok AS VARCHAR) = 'true'")
        con.execute("CREATE VIEW documents AS SELECT * FROM docs")
        flags = {r[0]: tuple(r[1:]) for r in
                 con.execute(curation_oracle_sql()).fetchall()}
        kept = {d for d, f in flags.items() if f[3]}
        con.execute("DROP VIEW documents")
        con.execute("CREATE TABLE documents AS SELECT * FROM docs "
                    "WHERE doc_id IN (SELECT unnest(?))", [sorted(kept)])
        keep_list = {r[0]: (r[1], r[2]) for r in con.execute(
            components_oracle_sql()).fetchall()}
    finally:
        con.close()
    return {"flags": flags, "kept": kept, "keep_list": keep_list}


def check_curation(rep_dir: str, stats: dict, want: dict) -> set:
    """Doc ids whose flags, corpus membership or keep-list row disagree
    with the oracle; also every doc when the returned counts disagree."""
    import pyarrow.dataset as ds

    def rows(path, cols):
        if not os.path.isdir(path):
            return []
        t = ds.dataset(path, format="parquet").to_table(columns=cols)
        return list(zip(*(t.column(c).to_pylist() for c in cols)))

    flags = {r[0]: tuple(r[1:]) for r in rows(
        os.path.join(rep_dir, "curated", "flags"),
        ["url", "is_canonical", "quality_ok", "repetition_ok", "keep"])}
    corpus = [r[0] for r in rows(os.path.join(rep_dir, "curated", "corpus"),
                                 ["url"])]
    keep_list = {r[0]: (r[1], r[2]) for r in rows(
        os.path.join(rep_dir, "keep_list"), ["url", "component", "keep"])}
    bad = {d for d in want["flags"].keys() | flags.keys()
           if flags.get(d) != want["flags"].get(d)}
    bad |= set(corpus) ^ want["kept"]
    bad |= {d for d, n in Counter(corpus).items() if n > 1}
    bad |= {d for d in want["keep_list"].keys() | keep_list.keys()
            if keep_list.get(d) != want["keep_list"].get(d)}
    f = want["flags"].values()
    counts = {
        "input_rows": len(want["flags"]),
        "kept": sum(1 for v in f if v[3]),
        "dropped_duplicate": sum(1 for v in f if not v[0]),
        "dropped_low_quality": sum(1 for v in f if not v[1]),
        "dropped_repetitive": sum(1 for v in f if not v[2]),
    }
    if any(stats.get(k) != v for k, v in counts.items()):
        bad |= set(want["flags"])
    return bad


if __name__ == "__main__":  # one golden worker: OUT FILE...
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    part: dict = {}
    for path in sys.argv[2:]:
        part.update(_golden_file(path))
    with open(sys.argv[1], "wb") as fh:
        pickle.dump(part, fh, protocol=pickle.HIGHEST_PROTOCOL)
