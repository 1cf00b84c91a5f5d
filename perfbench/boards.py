"""The `isaac_board` query board and its output checks.

The board is a fixed list of registry entries.  One pass runs every entry
once, each to the `noop` sink with `clearCache` between queries; every
execution is one operation.  Outputs are checked apart from the timed
passes: each entry's result from the warm-up pass is compared with its
DuckDB oracle (row count, sorted column names, order-insensitive value
hash), as the registry's parity gate does.  An entry's family is the
`extensions` module its `QueryDef.fn` lives in, or None for the
relational entries.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

# relational entries of queries.REGISTRY: batch twins of the reference
# topology (per-type counts, daily role rollup, last seen) and the TPC-H
# Q5 six-way join.  All JVM-only.  Streaks and threshold crossings run
# as streams in isaac_stream.
RELATIONAL = [
    "event_type_counts",
    "daily_role_counts",
    "last_seen_map",
    "tpch_q5",
]

# one of the cheaper entries of each extensions family at this size: an
# iterative connected-components loop, SRP pair generation, a quantized
# k-NN scan, BPE pair counting, temperature-scaled mixture weights and a
# pure-Python JPEG decode in Arrow workers
LIBRARY = [
    "page_components",
    "dedup_embedding_srp",
    "knn_quantized",
    "bpe_pair_counts",
    "temperature_mixture",
    "media_jpeg_features",
]
ISAAC_BOARD = RELATIONAL + LIBRARY
FAMILIES = ("graph", "dedup", "similarity", "text", "sampling", "multimodal")

TABLES = (
    "region nation customer supplier orders lineitem events documents "
    "embeddings"
).split()


def family(fn) -> str | None:
    mod = fn.__module__.split(".")
    return mod[-1] if "extensions" in mod else None


def resolve(names: list[str]) -> dict:
    """name -> (fn, oracle sql, family) from the query registry."""
    from isaac_kafka_streaming_spark import queries

    reg = queries.all_queries()
    return {n: (reg[n].fn, reg[n].sql, family(reg[n].fn)) for n in names}


# ---- passes --------------------------------------------------------------


def warmup_pass(spark, entries: dict, data_dir: str, threads: int) -> dict:
    """Run every entry once, `threads` at a time, collecting its result for
    the checks.  Returns name -> (columns, rows) or name -> exception.

    Running entries side by side roughly halves the cold pass, which
    leaves room in a run for more timed passes; the cache is cleared once
    at the end, since clearing it between entries would drop the caches
    of entries still running."""
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext

    def one(item):
        name, (fn, _, _) = item
        sc.setJobDescription(f"perfbench:warmup:{name}")
        t0 = time.perf_counter()
        try:
            df = fn(spark, data_dir)
            result = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # noqa: BLE001 - a failure is a result
            result = e
        print(f"warm-up {name}={time.perf_counter() - t0:.2f}", file=sys.stderr)
        return name, result

    with ThreadPoolExecutor(threads) as pool:
        results = dict(pool.map(one, entries.items()))
    spark.catalog.clearCache()
    return results


def timed_pass(spark, entries: dict, data_dir: str, spans, failed: set) -> dict:
    """One pass to the noop sink.  Returns name -> seconds (None if the
    execution raised; the name is then added to `failed`).  An extensions
    entry's time also counts under `extensions.<family>.wall_s`."""
    times = {}
    sc = spark.sparkContext
    for name, (fn, _, fam) in entries.items():
        sc.setJobDescription(f"perfbench:pass:{name}")
        t0 = time.perf_counter()
        try:
            with spans.span(*([f"extensions.{fam}.wall_s"] if fam else [])):
                with spans.span("queries.build_s"):
                    df = fn(spark, data_dir)
                with spans.span("queries.exec_s"):
                    df.write.format("noop").mode("overwrite").save()
            times[name] = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - counted as a failed operation
            times[name] = None
            failed.add(name)
        spark.catalog.clearCache()
    sc.setJobDescription(None)
    return times


# ---- checks --------------------------------------------------------------


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


def value_hash(rows, columns) -> str:
    """Order-insensitive hash over row values, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digests = sorted(
        hashlib.sha256("\x1f".join(_norm(row[i]) for i in order).encode()).hexdigest()
        for row in rows
    )
    return hashlib.sha256("\n".join(digests).encode()).hexdigest()


def duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(entries: dict, results: dict, data_dir: str) -> dict:
    """name -> None if the output is right, else a one-line reason."""
    con = duckdb_views(data_dir)
    problems: dict = {}
    for name, (_, sql, _) in entries.items():
        got = results[name]
        if isinstance(got, Exception):
            problems[name] = f"raised {type(got).__name__}: {str(got)[:200]}"
            continue
        cols, rows = got
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001 - an unusable oracle fails the entry
            problems[name] = f"oracle raised {type(e).__name__}: {str(e)[:200]}"
            continue
        if len(rows) != len(orows):
            problems[name] = f"rows {len(rows)} != oracle {len(orows)}"
        elif sorted(cols) != sorted(ocols):
            problems[name] = f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        elif value_hash(rows, cols) != value_hash(orows, ocols):
            problems[name] = "value hash differs from oracle"
        else:
            problems[name] = None
    con.close()
    return problems
