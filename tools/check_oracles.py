"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column-name set, and order-insensitive values exactly."""

import hashlib
import os
import sys
import time
from itertools import islice

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from driftspark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:] if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if v != v:
            return "nan"
        return repr(round(v, 9))
    return repr(v)


def normalized(cols, rows):
    """Each row's normalized values, columns in name order."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    for r in rows:
        yield tuple(norm(r[i]) for i in idx)


def digest(nrow):
    return hashlib.blake2b(repr(nrow).encode(), digest_size=16).digest()


def arrow_rows(reader):
    for batch in reader:
        for r in batch.to_pylist():
            yield tuple(r.values())


# Spark simpleString dtype -> acceptable pyarrow type names on the DuckDB
# side.  The driver hashes raw values, so a DuckDB HUGEINT/DECIMAL where
# Spark emits BIGINT hash-mismatches even when every value is equal
# (VERDICT r01 "What's wrong" #1) — catch that locally.
_TYPE_COMPAT = {
    "bigint": {"int64"},
    "int": {"int32"},
    "smallint": {"int16"},
    "tinyint": {"int8"},
    "double": {"double", "float64"},
    "float": {"float", "float32"},
    "string": {"string", "large_string"},
    "boolean": {"bool"},
    "date": {"date32[day]"},
}


def type_mismatches(sdf, arrow_schema):
    """Pairs (col, spark_type, duck_arrow_type) whose physical types differ."""
    duck = {f.name: str(f.type) for f in arrow_schema}
    bad = []
    for col, styp in sdf.dtypes:
        if col not in duck:
            continue
        ok = duck[col] in _TYPE_COMPAT.get(styp, {styp})
        if not ok:
            bad.append((col, styp, duck[col]))
    return bad


#: DuckDB runs in this process beside the Spark driver JVM (8 GB heap by
#: default): the limit makes a large oracle spill to disk instead of
#: growing past the host's memory
DUCKDB_MEMORY_LIMIT = "3GB"
DUCKDB_TEMP_DIR = ".duckdb_tmp"


def main():
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    con = duckdb.connect(config={
        "memory_limit": DUCKDB_MEMORY_LIMIT,
        "temp_directory": os.path.abspath(DUCKDB_TEMP_DIR),
    })
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR)
        scols = sdf.columns
        srows = sdf.collect()
        took = time.time() - t0
        if name not in oq:
            print(f"[rows-only] {name}: {len(srows)} rows, {took:.1f}s")
            continue
        res = con.sql(oq[name])
        dcols = [d[0] for d in res.description]
        reader = res.fetch_arrow_reader()
        bad_types = type_mismatches(sdf, reader.schema)
        # sorted 16-byte digests of the normalized rows: equal lists mean
        # equal order-insensitive row multisets (up to a 2^-128 collision)
        # without holding the rows of both engines — sf0.1 jaccard_pairs
        # returns 11M rows from each
        sdig = sorted(map(digest, normalized(scols, srows)))
        del srows
        ddig = sorted(map(digest, normalized(dcols, arrow_rows(reader))))
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(sdig) == len(ddig)
        ok_vals = sdig == ddig
        status = "OK" if (ok_cols and ok_count and ok_vals and not bad_types) else "FAIL"
        print(
            f"[{status}] {name}: spark={len(sdig)} duck={len(ddig)} "
            f"cols={'ok' if ok_cols else (scols, dcols)} vals={'ok' if ok_vals else 'MISMATCH'} "
            f"types={'ok' if not bad_types else bad_types} {took:.1f}s"
        )
        if status == "FAIL":
            fails.append(name)
            onlys, onlyd = set(sdig) - set(ddig), set(ddig) - set(sdig)
            srows = sdf.toLocalIterator()
            drows = arrow_rows(con.sql(oq[name]).fetch_arrow_reader())
            print(
                "   only-spark:",
                list(islice((r for r in normalized(scols, srows) if digest(r) in onlys), 2)),
                "only-duck:",
                list(islice((r for r in normalized(dcols, drows) if digest(r) in onlyd), 2)),
            )
    print("FAILURES:", fails if fails else "none")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
