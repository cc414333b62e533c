"""Output checks, computed apart from the program.

Each check takes plain Python data (rows read back with pyarrow, counts the
program returned) and the generator's expectations, and returns a list of
human-readable errors; an empty list means the output is correct. The
curation checks replay the repository's DuckDB twins of the quality floor,
the PII scrub and near-dedup.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gen import COLUMNS

INGEST_STAGES = (
    "check_if_processed", "read_data", "validate_data", "write_data",
    "audit_data", "publish_data", "cleanup_dlq_records",
)

# Independent PII patterns: no word boundaries, so they match at least
# everything the program's redaction patterns are meant to remove.
PII_RES = [
    re.compile(r"[\w.+-]+@[\w-]+(?:\.[\w-]+)+"),  # email
    re.compile(r"\d{3}-\d{2}-\d{4}"),  # SSN
    re.compile(r"\d{3}[-.]\d{3}[-.]\d{4}"),  # phone
]


def _parquet_files(directory: str) -> list[str]:
    out = []
    for d, _, files in os.walk(directory):
        out += [os.path.join(d, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return sorted(out)


def _snapshot_dir(warehouse_root: str, table: str) -> str | None:
    """The current snapshot of a warehouse table: its highest ``_vN``."""
    tdir = os.path.join(warehouse_root, table)
    if not os.path.isdir(tdir):
        return None
    versions = [int(n[2:]) for n in os.listdir(tdir) if re.fullmatch(r"_v\d+", n)]
    return os.path.join(tdir, f"_v{max(versions)}") if versions else None


def read_table(warehouse_root: str, table: str) -> list[dict]:
    """Rows of a warehouse table's current snapshot, read straight from its
    parquet files."""
    rows: list[dict] = []
    for p in _parquet_files(_snapshot_dir(warehouse_root, table)):
        rows += pq.read_table(p).to_pylist()
    return rows


def count_rows(warehouse_root: str, table: str) -> int:
    current = _snapshot_dir(warehouse_root, table)
    if current is None:
        return 0
    return sum(pq.ParquetFile(p).metadata.num_rows for p in _parquet_files(current))


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def check_counts(files, results) -> list[str]:
    """``results``: one (filename, success, (inserts, updates, unchanged))
    per loaded file, in load order."""
    errors = []
    if len(results) != len(files):
        errors.append(f"{len(results)} results for {len(files)} files")
    for f, (name, ok, counts) in zip(files, results):
        want = (f.inserts, f.updates, f.unchanged)
        if name != f.name or not ok or tuple(counts) != want:
            errors.append(f"{f.name}: got {name} ok={ok} counts={counts}, want {want}")
    return errors


def check_table(expected: dict[str, dict], rows: list[dict]) -> list[str]:
    """The target's business columns equal ``expected`` (customer_id ->
    row), one row per key."""
    errors = []
    got: dict[str, dict] = {}
    for r in rows:
        if r["customer_id"] in got:
            errors.append(f"key {r['customer_id']} appears twice")
        got[r["customer_id"]] = {c: r[c] for c in COLUMNS}
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        errors.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        errors.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in expected.keys() & got.keys() if got[k] != expected[k]]
    if wrong:
        k = sorted(wrong)[0]
        errors.append(f"{len(wrong)} rows differ, e.g. {got[k]} != {expected[k]}")
    return errors


def check_dlq(files, rows: list[dict]) -> list[str]:
    """The DLQ holds exactly the planted invalid rows, each with its file
    row number and the one error its defect causes."""
    import json

    want = {(f.name, n): [e] for f in files for n, e in f.invalid.items()}
    got: dict[tuple[str, int], list[str]] = {}
    errors = []
    for r in rows:
        key = (r["source_filename"], r["file_row_number"])
        if key in got:
            errors.append(f"DLQ row {key} appears twice")
        got[key] = [e["error_type"] for e in json.loads(r["validation_errors"])]
    if got != want:
        only = sorted(got.keys() ^ want.keys())
        bad = sorted(k for k in got.keys() & want.keys() if got[k] != want[k])
        errors.append(
            f"DLQ differs: {len(only)} rows on one side only (e.g. {only[:3]}), "
            f"{len(bad)} with other errors (e.g. {[(k, got[k]) for k in bad[:3]]})"
        )
    return errors


def check_run_log(files, rows: list[dict]) -> list[str]:
    """One successful run-log row per stage per file."""
    got = Counter((r["source_filename"], r["stage"], r["success"]) for r in rows)
    want = Counter((f.name, s, True) for f in files for s in INGEST_STAGES)
    if got == want:
        return []
    return [f"run log differs: extra {dict(got - want)}, missing {dict(want - got)}"]


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def _documents(docs: list[tuple[int, str, str]]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "lang": pa.array([d[1] for d in docs], pa.string()),
        "text": pa.array([d[2] for d in docs], pa.string()),
    })


def _duckdb(sql: str, docs: list[tuple[int, str, str]]) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.register("documents", _documents(docs))
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _scrub_expr(column: str) -> str:
    """The redaction chain of the repository's DuckDB twin ``Q_PII_SCRUB_SQL``
    (emails, then SSNs, then phones), applied to ``column``."""
    from etl_file_loader_spark.suite.text import Q_PII_SCRUB_SQL

    head = "regexp_replace(regexp_replace(regexp_replace(t,"
    start = Q_PII_SCRUB_SQL.index(head)
    end = Q_PII_SCRUB_SQL.index(") AS scrubbed_md5")
    return Q_PII_SCRUB_SQL[start:end].replace(head, head[:-2] + column + ",", 1)


def curation_stage_input(
    docs: list[tuple[int, str, str]], min_quality: float,
) -> list[tuple[int, str, str]]:
    """What near-dedup receives from ``docs`` = (doc_id, lang, text): the
    documents the repository's DuckDB twin ``Q_TEXT_QUALITY_LANG_SQL``
    scores at or above ``min_quality``, with their text scrubbed by the
    twin ``Q_PII_SCRUB_SQL``'s patterns."""
    from etl_file_loader_spark.suite.text import Q_TEXT_QUALITY_LANG_SQL

    sql = f"""
    WITH q AS ({Q_TEXT_QUALITY_LANG_SQL})
    SELECT d.doc_id, d.lang, {_scrub_expr("d.text")}
    FROM documents d JOIN q USING (doc_id)
    WHERE q.quality >= {float(min_quality)!r}
    ORDER BY d.doc_id
    """
    return [tuple(r) for r in _duckdb(sql, docs)]


def near_dedup_twin(docs: list[tuple[int, str, str]]) -> set[int]:
    """Survivors of near-dedup on ``docs`` = (doc_id, lang, text): the
    repository's DuckDB twin ``Q_NEAR_DEDUP_CORPUS_SQL``, with its
    recursive-CTE transitive closure replaced by a union-find over the same
    twin's candidate pairs (``Q_DEDUP_LSH_CANDIDATES_SQL``). Both keep the
    minimum id of every connected component and every doc without a pair;
    the closure alone costs seconds per thousand docs."""
    from etl_file_loader_spark.suite.dedup import Q_DEDUP_LSH_CANDIDATES_SQL

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in _duckdb(Q_DEDUP_LSH_CANDIDATES_SQL, docs):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d[0] for d in docs if find(d[0]) == d[0]}


def near_dedup_twin_sql(docs: list[tuple[int, str, str]]) -> set[int]:
    """The same survivors straight from ``Q_NEAR_DEDUP_CORPUS_SQL``."""
    from etl_file_loader_spark.suite.dedup import Q_NEAR_DEDUP_CORPUS_SQL

    return {r[0] for r in _duckdb(Q_NEAR_DEDUP_CORPUS_SQL, docs)}


def split_label(doc_id: int, fractions: dict[str, float]) -> str | None:
    """A document's held-out split label: contiguous ranges of an
    md5-derived key in [0, 10000), claimed in the fractions' order."""
    digest = hashlib.md5(f"split|{doc_id}".encode()).hexdigest()
    key = int(digest[:8], 16) % 10_000
    cum = 0.0
    for label, frac in fractions.items():
        cum += frac
        if key < int(round(cum * 10_000)):
            return label
    return None


def read_shards(path: str) -> list[dict]:
    """Docs of an on-disk shard layout, with the partition values taken
    from the directory names."""
    rows = []
    for p in _parquet_files(os.path.join(path, "data")):
        parts = dict(
            seg.split("=", 1) for seg in os.path.relpath(os.path.dirname(p), path).split(os.sep)
            if "=" in seg
        )
        for r in pq.read_table(p).to_pylist():
            rows.append({**r, **parts})
    return rows


def check_curation(
    stage_input: list[tuple[int, str, str]],
    survivors: set[int],
    junk: set[int],
    counts: dict[str, int],
    kept: list[dict],
    fractions: dict[str, float],
    keep_splits: tuple[str, ...],
    budget: int,
) -> list[str]:
    """``stage_input``: what near-dedup received, by the twins
    (:func:`curation_stage_input`); ``survivors``: the near-dedup twin's
    answer on it; ``junk``: the generator's planted junk ids; ``counts``: the
    pass's stage counts; ``kept``: the docs of the written shard layout."""
    errors = []
    passed_junk = sorted(junk & {d[0] for d in stage_input})
    if passed_junk:
        errors.append(f"{len(passed_junk)} planted junk docs pass the twin's quality floor")
    kept_junk = sorted(junk & {r["doc_id"] for r in kept})
    if kept_junk:
        errors.append(f"{len(kept_junk)} planted junk docs kept, e.g. doc {kept_junk[0]}")
    if counts.get("quality_filter") != len(stage_input):
        errors.append(f"quality_filter count {counts.get('quality_filter')} != "
                      f"{len(stage_input)} docs that reached near-dedup")
    if counts.get("near_dedup") != len(survivors):
        errors.append(f"near_dedup count {counts.get('near_dedup')} != "
                      f"{len(survivors)} survivors of the DuckDB twin")
    want = {i for i in survivors if split_label(i, fractions) in keep_splits}
    got = Counter(r["doc_id"] for r in kept)
    if got.keys() != want or max(got.values(), default=1) != 1:
        errors.append(
            f"kept docs differ from the twin's survivors in {keep_splits}: "
            f"{len(got.keys() - want)} extra (e.g. {sorted(got.keys() - want)[:3]}), "
            f"{len(want - got.keys())} missing, {sum(v > 1 for v in got.values())} repeated"
        )
    if counts.get("packed") != len(kept):
        errors.append(f"packed count {counts.get('packed')} != {len(kept)} docs written")
    scrubbed = {d[0]: d[2] for d in stage_input}
    wrong_text = [r["doc_id"] for r in kept
                  if r["doc_id"] in scrubbed and r["text"] != scrubbed[r["doc_id"]]]
    if wrong_text:
        i = wrong_text[0]
        errors.append(f"{len(wrong_text)} kept texts differ from the twin's scrubbed text, "
                      f"e.g. doc {i}: {next(r['text'] for r in kept if r['doc_id'] == i)[:80]!r}"
                      f" != {scrubbed[i][:80]!r}")
    texts = Counter(r["text"] for r in kept)
    dup = [t for t, n in texts.items() if n > 1]
    if dup:
        errors.append(f"{len(dup)} texts kept more than once, e.g. {dup[0][:60]!r}")
    leaks = [r["doc_id"] for r in kept if any(p.search(r["text"]) for p in PII_RES)]
    if leaks:
        errors.append(f"{len(leaks)} kept docs still hold PII, e.g. doc {leaks[0]}")
    wrong_tokens = [r["doc_id"] for r in kept if r["n_tokens"] != len(r["text"].split())]
    if wrong_tokens:
        errors.append(f"{len(wrong_tokens)} docs with a wrong token count")
    # a shard closes once its budget is crossed: the document that crosses
    # it stays, so a shard may exceed the budget by at most one document
    shards: dict[tuple, list[int]] = defaultdict(list)
    for r in kept:
        shards[(r["lang"], r["shard_id"])].append(r["n_tokens"])
    over = [k for k, toks in shards.items() if sum(toks) - max(toks) >= budget]
    if over:
        errors.append(f"{len(over)} shards over budget by more than one doc, e.g. {over[0]}")
    return errors
