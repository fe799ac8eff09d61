"""Local differential check: run each catalog query on Spark AND its DuckDB
oracle on the same parquet tables; compare row count, column names, and an
order-insensitive value comparison (sorted rows). Mimics the driver's gate so
failures surface before a round ends.

Usage: python scripts/verify_oracle.py [sf_dir] [query ...]
       python scripts/verify_oracle.py [sf_dir] --sample N [--seed S]

``--sample`` draws N catalog entries with a seeded RNG (default seed 7 —
the judge's round-7 convention) so an audit subset is reproducible.

Every entry must also leave the session conf as it found it: a key that
the entry adds, removes or changes (``spark.conf.getAll`` before the entry
vs after its rows are collected) fails the entry.
"""

from __future__ import annotations

import math
import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zio_analytics_spark import catalog  # noqa: E402
from zio_analytics_spark.session import get_spark  # noqa: E402
from zio_analytics_spark.sources.parquet import TABLES  # noqa: E402


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(normed, key=lambda row: tuple((x is None, str(x)) for x in row))


def conf_diff(before: dict[str, str], after: dict[str, str]) -> list[str]:
    """Keys added, removed or changed between two ``spark.conf.getAll``
    snapshots, each as ``key: old -> new`` (``None`` = unset)."""
    return [
        f"{k}: {before.get(k)} -> {after.get(k)}"
        for k in sorted(before.keys() | after.keys())
        if before.get(k) != after.get(k)
    ]


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and not args[0].startswith("--") else "/root/testdata/sf0.01"
    sample_n = seed = None
    rest = []
    it = iter(args)
    for a in it:
        if a == "--sample":
            sample_n = int(next(it))
        elif a == "--seed":
            seed = int(next(it))
        else:
            rest.append(a)
    only = set(rest)
    if sample_n is not None:
        import random

        names = sorted(n for n in catalog.CATALOG if not only or n in only)
        only = set(random.Random(7 if seed is None else seed).sample(
            names, min(sample_n, len(names))
        ))
        print(f"# sampled {len(only)} entries (seed={7 if seed is None else seed}): "
              + " ".join(sorted(only)))

    spark = get_spark("verify_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    attempted = 0
    for name, spec in catalog.CATALOG.items():
        if only and name not in only:
            continue
        attempted += 1
        conf_before = spark.conf.getAll
        try:
            sdf = spec.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            continue
        leaked = conf_diff(conf_before, spark.conf.getAll)
        if leaked:
            failures.append(name)
            print(f"FAIL  {name}: session conf leak: {'; '.join(leaked)}")
            continue
        if spec.oracle is None:
            print(f"ok?   {name}: rows-only ({len(s_rows)} rows, no oracle)")
            continue
        try:
            res = con.execute(spec.oracle)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            continue

        problems = []
        if len(s_rows) != len(o_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(o_rows)}")
        if sorted(s_cols) != sorted(o_cols):
            problems.append(f"columns spark={sorted(s_cols)} duckdb={sorted(o_cols)}")
        if not problems:
            sn, on = norm_rows(s_rows, s_cols), norm_rows(o_rows, o_cols)
            if sn != on:
                diffs = [(a, b) for a, b in zip(sn, on) if a != b][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"PASS  {name} ({len(s_rows)} rows)")

    print(f"\n{attempted - len(failures)}/{attempted} attempted entries passing")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
