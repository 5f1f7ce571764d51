"""Side-by-side check of __spark_entry__.queries() vs oracle_sql() via DuckDB.

Mimics the driver's CORRECTNESS gate: row count + schema (column names) +
order-insensitive value comparison (columns sorted by name, rows sorted).
Each compared query also prints its seconds: ``spark=`` builds and collects
the query, ``duck=`` runs its oracle once. The run ends with the totals
(oracle_sql() generation, both sides, grand) and the ten slowest queries:
the full contract pass, timed.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

# the repo root replaces this script's directory at the head of sys.path:
# tools/profile.py would shadow the standard library module pyspark imports
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from biocurator_mapper_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _duck_type_classes(tb):
    """Normalized per-column type class from a DuckDB result's arrow schema.

    Catches representation mismatches the stringified-value compare can't —
    e.g. DuckDB sum() over integers is HUGEINT (arrow decimal128(38,0)) while
    Spark's is BIGINT (int64); the driver's value hash is type-sensitive.
    """
    import pyarrow as pa

    def cls(t):
        if pa.types.is_integer(t):
            return "int"
        if pa.types.is_floating(t):
            return "float"
        if pa.types.is_decimal(t):
            return "decimal"
        if pa.types.is_boolean(t):
            return "bool"
        if pa.types.is_timestamp(t) or pa.types.is_date(t):
            return "timestamp"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return "list"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "binary"
        return "str"

    return {f.name: cls(f.type) for f in tb.schema}


def _spark_type_classes(df):
    from pyspark.sql import types as T

    def cls(t):
        if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return "int"
        if isinstance(t, (T.FloatType, T.DoubleType)):
            return "float"
        if isinstance(t, T.DecimalType):
            return "decimal"
        if isinstance(t, T.BooleanType):
            return "bool"
        if isinstance(t, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            return "timestamp"
        if isinstance(t, T.ArrayType):
            return "list"
        if isinstance(t, T.BinaryType):
            return "binary"
        return "str"

    return {f.name: cls(f.dataType) for f in df.schema.fields}


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # data-dependent oracles (IVF centroids) must see the same corpus
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    t0 = time.monotonic()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    prep = time.monotonic() - t0
    failures = []
    secs = {}  # name -> (spark s, duck s)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            sp_cols = df.columns
            sp_rows = [tuple(r) for r in df.collect()]
            secs[name] = (time.monotonic() - t0, 0.0)
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sp_rows)} rows")
            continue
        try:
            t0 = time.monotonic()
            tb = con.execute(oracles[name]).fetch_arrow_table()
            dk_rows = list(zip(*(c.to_pylist() for c in tb.columns)))
            secs[name] = (secs[name][0], time.monotonic() - t0)
            dk_types, dk_cols = _duck_type_classes(tb), tb.column_names
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duck ] {name}: {str(e)[:200]}")
            continue
        problems = []
        # driver-parity guard: the driver's pandas canonicalizer
        # sort_values() raises "unhashable type: 'list'" on array columns
        # (r6: text_bpe_ids / pack_materialize_ids) — fail locally too.
        sp_types = _spark_type_classes(df)
        listy = [c for c, t in sp_types.items() if t == "list"]
        if listy:
            problems.append(
                f"driver-uncanonicalizable array columns {listy} "
                "(scalarize: array_join / posexplode)"
            )
        if sorted(sp_cols) != sorted(dk_cols):
            problems.append(f"schema {sorted(sp_cols)} != {sorted(dk_cols)}")
        else:
            tmis = {
                c: (sp_types[c], dk_types[c])
                for c in sp_cols
                if sp_types[c] != dk_types.get(c)
            }
            if tmis:
                problems.append(f"type-class mismatch {tmis}")
        if len(sp_rows) != len(dk_rows):
            problems.append(f"rowcount {len(sp_rows)} != {len(dk_rows)}")
        if not problems:
            a = normalize(sp_rows, sp_cols)
            b = normalize(dk_rows, dk_cols)
            if a != b:
                diff = [x for x, y in zip(a, b) if x != y][:3]
                diffb = [y for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, e.g. spark={diff} duck={diffb}")
        took = "spark={:.2f}s duck={:.2f}s".format(*secs[name])
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"[FAIL      ] {name}: {took} {'; '.join(problems)[:400]}")
        else:
            print(f"[OK        ] {name}: {len(sp_rows)} rows {took}")
    tot_s = sum(s for s, _ in secs.values())
    tot_d = sum(d for _, d in secs.values())
    print(
        f"\nprep(oracle_sql gen)={prep:.2f}s  spark_total={tot_s:.1f}s  "
        f"duck_total={tot_d:.1f}s  grand={prep + tot_s + tot_d:.1f}s"
    )
    print("top10 by combined:")
    for name, (ts, td) in sorted(secs.items(), key=lambda kv: -sum(kv[1]))[:10]:
        print(f"  {name:32s} {ts + td:7.2f}s")
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
