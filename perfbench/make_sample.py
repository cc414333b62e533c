"""Write the document sample the ``curate_corpus`` workload starts from.

    python3 perfbench/make_sample.py SRC [--docs N]

``SRC`` is a ``documents.parquet`` with ``doc_id``, ``text`` and ``lang``
columns; the committed ``perfbench/data/documents_sample.parquet`` holds
2,500 documents of the sf0.1 test data's ``documents.parquet`` (5,000
documents). The sample is drawn with a fixed seed, so the same source gives
the same file; a benchmark run only reads it and plants its own duplicates,
PII and junk into it (``gen.write_corpus``).
"""

from __future__ import annotations

import argparse
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_sample.parquet")
SAMPLE_SEED = 20260101


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("src")
    ap.add_argument("--docs", type=int, default=2500)
    args = ap.parse_args()
    src = pq.read_table(args.src, columns=["doc_id", "text", "lang"]).replace_schema_metadata(None)
    rows = random.Random(SAMPLE_SEED).sample(range(src.num_rows), args.docs)
    pq.write_table(src.take(pa.array(rows)), OUT)
    print(f"wrote {args.docs} documents to {OUT}")


if __name__ == "__main__":
    main()
