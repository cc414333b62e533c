"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python tools/check_correctness.py [--tol=REL] [sf_dir] [query ...]
Compares each suite query against its oracle: row count, sorted column
names, and order-insensitive value comparison (rows sorted by all columns).

``--tol=1e-12`` switches float comparison from exact repr equality to a
relative tolerance. Needed for scale runs (sf >= 1): decimal-staged sums
whose unscaled value exceeds 2^53 convert decimal->double with one rounding
in Spark (BigDecimal.doubleValue) but two in DuckDB (int64 -> double, then
/ 10^scale), so the engines can land on adjacent doubles — a representation
artifact, not a value divergence. The driver's gate runs at sf0.01 where
every such conversion is exact and comparison stays bit-for-bit.
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_file_loader_spark import suite  # noqa: E402
from etl_file_loader_spark.operators.cache import release_operator_caches  # noqa: E402
from etl_file_loader_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols, tol: float | None = None):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                # under --tol, quantize floats so values within the relative
                # tolerance normalize identically (adjacent-double artifacts
                # of big-decimal -> double conversion, see module docstring)
                if tol and v != 0.0:
                    from math import floor, log10

                    digits = max(0, 14 - int(floor(log10(abs(v)))) - 1)
                    v = repr(round(v, digits))
                else:
                    v = repr(v)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def coercion_hazards(ocols, orows, odtypes, scols, srows):
    """Flag integral columns whose pandas float-ness DIFFERS between the
    oracle materialized via .df() and the Spark result.

    Kind disagreement, not float64 per se, is the driver-mismatch class:
    DuckDB HUGEINT (sum over BIGINT) coerces to float64 under pandas so a
    Spark non-null int64 hashes "1099511627776" against the oracle's
    "1099511627776.0" (the CORRECTNESS_r10 bloom_filter_check red row),
    while a NULLABLE int column coerces to float64 on BOTH engines (NaN
    carrier) and stays green — asof_join's left-join column did for nine
    rounds. Only integral-valued columns are audited; true floats and
    decimals render float on both sides.
    """
    out = []
    for ci, cname in enumerate(ocols):
        ovals = [r[ci] for r in orows if r[ci] is not None]
        if not ovals or not all(
            isinstance(v, int) and not isinstance(v, bool) for v in ovals
        ):
            continue
        oracle_float = odtypes[ci].kind == "f"
        if cname not in scols:
            continue  # column-set mismatch is reported by the main compare
        si = scols.index(cname)
        svals = [r[si] for r in srows]
        spark_float = any(v is None for v in svals) or not all(
            isinstance(v, int) and not isinstance(v, bool) for v in svals
        )
        if oracle_float != spark_float:
            out.append(
                f"driver-coercion hazard: column '{cname}' renders "
                f"{'float' if oracle_float else 'int'} via the oracle's "
                f"pandas path but {'float' if spark_float else 'int'} on "
                f"the Spark side — CAST the oracle output to BIGINT "
                f"(or align nullability) so the driver's hash agrees"
            )
    return out


def main():
    args = sys.argv[1:]
    tol = None
    args = [a for a in args if not (a.startswith("--tol") and (tol := float(a.split("=", 1)[1])))]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    spark = get_spark("correctness-check")
    # capped so a heavy oracle spills to disk instead of growing the
    # process until the kernel kills the sweep (knn_join_lsh_auto_clustered
    # passed 10 GB uncapped at sf0.001)
    spill = str(Path(tempfile.gettempdir()) / "duckdb_oracle_spill")
    con = duckdb.connect(config={"memory_limit": "3GB", "temp_directory": spill})
    for t in TABLES:
        # driver testdata ships single-file parquet; tools/gen_scale_data.py
        # writes Spark directory-parquet — glob the parts in that case
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if Path(p).is_dir() else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    passed, failed = [], []
    for name, fn in suite.QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # workload-scoped caches (PassJoin/PPJoin/signature pins) are
            # released between queries, as in bench.run_one — a 176-query
            # sweep must not accumulate every pinned table
            release_operator_caches()
        except Exception as e:
            failed.append((name, f"SPARK ERROR: {type(e).__name__}: {str(e)[:300]}"))
            continue
        oracle = suite.ORACLES.get(name)
        if oracle is None:
            status = f"rows-only: {len(srows)} rows"
            passed.append((name, status, time.time() - t0))
            continue
        try:
            res = con.execute(oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failed.append((name, f"ORACLE ERROR: {str(e)[:300]}"))
            continue
        problems = []
        # Driver-parity coercion audit: the driver's hasher materializes
        # BOTH result sets via pandas/arrow. Under that path DuckDB HUGEINT
        # (sum over BIGINT) coerces to float64, and a nullable int64 column
        # coerces to float64 on BOTH engines (NaN carrier) — so the
        # mismatch class is a KIND DISAGREEMENT between the two sides, not
        # float64 per se: Spark non-null int64 renders "1099511627776"
        # while oracle HUGEINT->float64 renders "1099511627776.0"
        # (bloom_filter_check, CORRECTNESS_r10), but asof_join's nullable
        # join column was green for 9 rounds because both sides coerce.
        # Flag any integral column whose pandas float-ness differs between
        # the oracle (.df() dtype) and Spark (nullable-with-null => float).
        try:
            odf = con.execute(oracle).df()
            problems.extend(
                coercion_hazards(ocols, orows, list(odf.dtypes), scols, srows)
            )
        except Exception as e:  # audit must never mask the real comparison
            problems.append(f"coercion-audit error: {str(e)[:200]}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sn, on = normalize(srows, scols, tol), normalize(orows, ocols, tol)
            if sn != on:
                diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            failed.append((name, "; ".join(problems)[:500]))
        else:
            passed.append((name, f"{len(srows)} rows", time.time() - t0))

    for name, status, dt in passed:
        print(f"PASS  {name:28s} {status} ({dt:.1f}s)")
    for name, msg in failed:
        print(f"FAIL  {name:28s} {msg}")
    print(f"\n{len(passed)} passed, {len(failed)} failed")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
