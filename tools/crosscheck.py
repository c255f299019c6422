"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at a given sf dir,
compare row count, sorted-column schema, and order-insensitive value
hash.  Usage: python tools/crosscheck.py [sf_dir] [name ...]"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import duckdb  # noqa: E402


def norm_cell(v):
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def arrow_type_class(t) -> str:
    """Canonical value-type class as the driver's canonicalizer sees it.
    DuckDB integer sum() yields HUGEINT (int128 -> arrow decimal), which
    hashes differently from Spark's BIGINT — the class must match."""
    import pyarrow as pa

    if pa.types.is_decimal(t):
        return "dec"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "ts"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    return str(t)


def spark_type_class(dt) -> str:
    from pyspark.sql import types as ST

    if isinstance(dt, ST.DecimalType):
        return "dec"
    if isinstance(dt, (ST.ByteType, ST.ShortType, ST.IntegerType, ST.LongType)):
        return "int"
    if isinstance(dt, (ST.FloatType, ST.DoubleType)):
        return "float"
    if isinstance(dt, ST.BooleanType):
        return "bool"
    if isinstance(dt, (ST.TimestampType, ST.DateType)):
        return "ts"
    if isinstance(dt, ST.StringType):
        return "str"
    return dt.simpleString()


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    import hashlib

    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from page_segmentation_spark.queries import ORACLE_SQL, QUERIES
    from page_segmentation_spark.session import get_spark

    spark = get_spark(app="crosscheck", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    _TABLES = [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]

    def fresh_con():
        # bounded memory + a spill directory: heavy oracle CTEs spill to
        # disk instead of dying with "Out of Memory Error: Failed to
        # allocate block" when the box is memory-pressured (observed
        # intermittently when the Spark driver JVM has grown over a full
        # 84-query session)
        c = duckdb.connect()
        c.sql("SET memory_limit='24GB'")
        c.sql("SET temp_directory='/tmp/pss_crosscheck_spill'")
        for t in _TABLES:
            c.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return c

    con = fresh_con()

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        sql = ORACLE_SQL.get(name)
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        if sql is None:
            print(f"ok   {name}: rows-only check, {len(srows)} rows")
            if len(srows) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            try:
                tbl = con.sql(sql).fetch_arrow_table()
            except Exception:  # noqa: BLE001 — transient OOM: one retry
                con.close()
                con = fresh_con()
                tbl = con.sql(sql).fetch_arrow_table()
            dcols = [c.lower() for c in tbl.column_names]
            drows = [
                tuple(rec[c] for c in tbl.column_names)
                for rec in tbl.to_pylist()
            ]
            dtypes = {
                c.lower(): arrow_type_class(f.type)
                for c, f in zip(tbl.column_names, tbl.schema)
            }
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(ex).splitlines()[0]}")
            failures.append(name)
            continue
        scols_l = [c.lower() for c in scols]
        stypes = {
            f.name.lower(): spark_type_class(f.dataType) for f in sdf.schema
        }
        problems = []
        if sorted(scols_l) != sorted(dcols):
            problems.append(f"schema {sorted(scols_l)} vs {sorted(dcols)}")
        else:
            badtypes = [
                f"{c}: spark {stypes[c]} vs duckdb {dtypes[c]}"
                for c in sorted(stypes)
                if stypes[c] != dtypes.get(c)
            ]
            if badtypes:
                problems.append("type-class mismatch " + "; ".join(badtypes))
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        sh = table_hash(scols_l, [tuple(r) for r in srows])
        dh = table_hash(dcols, drows)
        if sh != dh:
            problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in problems and len(srows) == len(drows):
                order = sorted(range(len(scols_l)), key=lambda i: scols_l[i])
                sset = sorted(
                    tuple(norm_cell(r[i]) for i in order) for r in srows
                )
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                dset = sorted(
                    tuple(norm_cell(r[i]) for i in dorder) for r in drows
                )
                for a, b in zip(sset, dset):
                    if a != b:
                        print(f"   spark : {a}\n   duckdb: {b}")
                        break
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match")
    print(
        f"\n{len(failures)} failures"
        + (f": {failures}" if failures else " — all match")
    )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
