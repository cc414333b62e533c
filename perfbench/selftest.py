"""Self-test of the output checks: each check must pass a correct result and
reject a corrupted one. Pure Python and DuckDB, no Spark.

    python3 perfbench/selftest.py

``run.py`` runs it at the start of every benchmark run.
"""

from __future__ import annotations

import copy
import os
import random
import sys
import tempfile

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen  # noqa: E402


def _expect(name: str, errors: list[str], ok: bool) -> None:
    if bool(errors) == ok:
        state = "rejected a correct" if ok else "accepted a corrupted"
        raise AssertionError(f"self-test: {name} {state} result: {errors}")


def _ingest(directory: str) -> None:
    stream = gen.UpsertStream(random.Random(7), directory, file_rows=40)
    files = [stream.next_file(120)] + [stream.next_file() for _ in range(3)]
    results = [(f.name, True, (f.inserts, f.updates, f.unchanged)) for f in files]
    _expect("counts", checks.check_counts(files, results), ok=True)
    bad = copy.deepcopy(results)
    name, ok, (i, u, n) = bad[2]
    bad[2] = (name, ok, (i + 1, u - 1, n))  # an update counted as an insert
    _expect("counts", checks.check_counts(files, bad), ok=False)

    table = [dict(r) for r in stream.expected_table().values()]
    _expect("table", checks.check_table(stream.expected_table(), table), ok=True)
    _expect("table", checks.check_table(stream.expected_table(), table[1:]), ok=False)
    changed = copy.deepcopy(table)
    changed[5]["city"] += "x"
    _expect("table", checks.check_table(stream.expected_table(), changed), ok=False)

    dlq = [
        {"source_filename": f.name, "file_row_number": n,
         "validation_errors": f'[{{"error_type": "{e}"}}]'}
        for f in files for n, e in f.invalid.items()
    ]
    _expect("dlq", checks.check_dlq(files, dlq), ok=True)
    _expect("dlq", checks.check_dlq(files, dlq[1:]), ok=False)
    shifted = copy.deepcopy(dlq)
    shifted[0]["file_row_number"] += 1
    _expect("dlq", checks.check_dlq(files, shifted), ok=False)

    log = [{"source_filename": f.name, "stage": s, "success": True}
           for f in files for s in checks.INGEST_STAGES]
    _expect("run log", checks.check_run_log(files, log), ok=True)
    _expect("run log", checks.check_run_log(files, log[:-1]), ok=False)


def _curation(directory: str) -> None:
    corpus = gen.write_corpus(
        random.Random(11), os.path.join(directory, "corpus.parquet"), gen.load_sample()[:80],
        exact_share=0.2, near_share=0.1, pii_share=0.2, junk_share=0.1,
    )
    docs = checks.curation_stage_input(corpus.docs, 0.5)
    if not corpus.junk or corpus.junk & {d[0] for d in docs}:
        raise AssertionError("self-test: the quality twin does not drop exactly the junk")
    if not any("[EMAIL]" in d[2] or "[SSN]" in d[2] or "[PHONE]" in d[2] for d in docs):
        raise AssertionError("self-test: the scrub twin redacted nothing")
    survivors = checks.near_dedup_twin(docs)
    if survivors != checks.near_dedup_twin_sql(docs):
        raise AssertionError("self-test: union-find twin differs from Q_NEAR_DEDUP_CORPUS_SQL")
    fractions, keep, budget = {"train": 0.9, "heldout": 0.1}, ("train",), 1000
    text = {d[0]: d[2] for d in docs}
    kept = [
        {"doc_id": i, "text": text[i], "n_tokens": len(text[i].split()),
         "lang": "en", "shard_id": str(n // 4)}
        for n, i in enumerate(sorted(
            i for i in survivors if checks.split_label(i, fractions) in keep))
    ]
    counts = {"quality_filter": len(docs), "near_dedup": len(survivors), "packed": len(kept)}

    def check(rows, c=counts):
        return checks.check_curation(docs, survivors, corpus.junk, c, rows,
                                     fractions, keep, budget)

    _expect("curation", check(kept), ok=True)
    # a second survivor of an exact-duplicate family
    family = next(f for f in corpus.exact_families
                  if any(r["doc_id"] in f for r in kept))
    extra = next(i for i in family if i not in {r["doc_id"] for r in kept})
    twin = dict(next(r for r in kept if r["doc_id"] in family), doc_id=extra)
    _expect("curation", check(kept + [twin], dict(counts, packed=len(kept) + 1)), ok=False)
    _expect("curation", check(kept[1:], dict(counts, packed=len(kept) - 1)), ok=False)
    # a junk document the quality floor should have dropped
    j = min(corpus.junk)
    junk = {"doc_id": j, "text": next(d[2] for d in corpus.docs if d[0] == j),
            "n_tokens": 1, "lang": "en", "shard_id": "0"}
    _expect("curation", check(kept + [junk], dict(counts, packed=len(kept) + 1)), ok=False)
    leak = copy.deepcopy(kept)
    leak[0]["text"] += " call 555-123-4567"
    leak[0]["n_tokens"] += 2
    _expect("curation", check(leak), ok=False)
    # over-redaction: a plain word replaced by a PII token
    over = copy.deepcopy(kept)
    words = over[0]["text"].split()
    words[0] = "[PHONE]"
    over[0]["text"] = " ".join(words)
    _expect("curation", check(over), ok=False)
    fat = copy.deepcopy(kept)
    for r in fat:
        r["shard_id"] = "0"
    _expect("curation", check(fat), ok=False)
    _expect("curation", check(kept, dict(counts, near_dedup=len(survivors) + 1)), ok=False)
    _expect("curation", check(kept, dict(counts, quality_filter=len(docs) + 1)), ok=False)


def run(directory: str) -> None:
    os.makedirs(directory)
    _ingest(directory)
    _curation(directory)


if __name__ == "__main__":
    with tempfile.TemporaryDirectory() as d:
        run(os.path.join(d, "selftest"))
    print("self-test passed")
