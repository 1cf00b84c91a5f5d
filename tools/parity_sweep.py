"""Driver-style parity sweep: run every ``queries()`` entry on a BARE
SparkSession and compare against its DuckDB oracle, exactly as the
grading driver does — row count, sorted-column schema, and an
order-insensitive value hash.

Run it FROM A NEUTRAL CWD to catch executor-import bugs that pytest
from /root/repo masks (cloudpickle serializes importable module-level
functions by reference; executors don't have /root/repo on sys.path):

    cd /tmp && python /root/repo/tools/parity_sweep.py [sf_dir]

Exit code 0 iff every oracle-backed query hash-matches and every
rows-only query returns >= 0 rows with a stable schema.
"""

from __future__ import annotations

import hashlib
import importlib.util
import sys
import time

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _load_entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _value_hash(rows, columns) -> str:
    """Order-insensitive hash over values, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digests = sorted(
        hashlib.sha256(
            "\x1f".join(_norm(row[i]) for i in order).encode()
        ).hexdigest()
        for row in rows
    )
    return hashlib.sha256("\n".join(digests).encode()).hexdigest()


def _norm(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def sweep(entries: dict, sf_dir: str) -> int:
    """Driver-style compare loop: bare session, DuckDB views, per-entry
    rowcount/schema/value-hash.  ``entries`` maps name ->
    (fn, sql_or_None).  Returns the process exit code."""
    import duckdb
    from pyspark.sql import SparkSession

    # Bare session on purpose: no engine get_spark(), like the driver's.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("parity-sweep")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed: list[str] = []
    for name, (fn, sql) in entries.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            continue
        if sql is None:
            print(
                f"ok   {name}: rows-only, {len(rows)} rows "
                f"({time.perf_counter() - t0:.1f}s)"
            )
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rows {len(rows)} != {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)} != {sorted(ocols)}")
        elif _value_hash(rows, cols) != _value_hash(orows, ocols):
            problems.append("value-hash mismatch")
        if problems:
            failed.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(
                f"ok   {name}: {len(rows)} rows match "
                f"({time.perf_counter() - t0:.1f}s)"
            )

    print(
        f"\n{len(entries) - len(failed)}/{len(entries)} pass"
        + (f"; FAILED: {', '.join(failed)}" if failed else "")
    )
    spark.stop()
    return 1 if failed else 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])  # optional query-name filter for iteration

    mod = _load_entry_module()
    queries = mod.queries()
    oracles = mod.oracle_sql()
    if only:
        unknown = only - set(queries)
        if unknown:  # a typo must not read as "verified, nothing ran"
            print(f"unknown query names: {sorted(unknown)}")
            return 1
        queries = {n: f for n, f in queries.items() if n in only}

    return sweep(
        {n: (fn, oracles.get(n)) for n, fn in queries.items()}, sf_dir
    )


if __name__ == "__main__":
    raise SystemExit(main())
