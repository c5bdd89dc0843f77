"""Local replica of the driver's correctness gate: run every declared query
through Spark AND its DuckDB oracle, compare row count, column names, and
order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyarrow.types as pat

from apache_cassandra_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def nonscalar_spark_cols(schema) -> list[str]:
    """Columns the driver's pandas canonicalizer cannot hash: its
    ``sort_values`` factorizes each column and crashes on list/dict
    cells (``TypeError: unhashable type: 'list'`` — round-5's
    embedding_pq_encode red row). Array/struct/map output must be a
    hard failure here, like the decimal128 guard, not stringified past."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def nonscalar_arrow_cols(schema) -> list[str]:
    return [
        f.name
        for f in schema
        if pat.is_list(f.type)
        or pat.is_large_list(f.type)
        or pat.is_fixed_size_list(f.type)
        or pat.is_struct(f.type)
        or pat.is_map(f.type)
    ]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from __spark_entry__ import oracle_sql, queries

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = queries(), oracle_sql()
    # one line to compare across commits: the ordered names and the
    # name-to-SQL mapping (key-sorted, so the merge order of the family
    # modules' dicts does not matter)
    names = hashlib.sha256(json.dumps(list(qs)).encode()).hexdigest()
    oracles = hashlib.sha256(json.dumps(os_, sort_keys=True).encode()).hexdigest()
    print(f"registry: {len(qs)} queries, names sha256 {names}, oracles sha256 {oracles}")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # per-query isolation (same as bench.py): queries that cache
        # intermediates (tf-idf vocab, LM counts, dedup postings) must not
        # accumulate executor storage across a 50-entry gate session.
        # At loop TOP, not on the PASS path — FAIL/continue branches must
        # not skip it (ADVICE r6)
        spark.catalog.clearCache()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        bad_spark = nonscalar_spark_cols(sdf.schema)
        if bad_spark:
            failures.append(name)
            print(
                f"FAIL {name}: spark emits array/struct/map columns {bad_spark} "
                f"(driver pandas canonicalizer crashes on list cells — emit scalars)"
            )
            continue
        if name not in os_:
            print(f"ok?  {name}: rows={len(s_rows)} (no oracle, rows-only check)")
            continue
        try:
            # Fetch through Arrow: the driver's value hash serializes DuckDB
            # output via Arrow, so an uncast integer sum() surfaces here as
            # decimal128 (HUGEINT) and must be a hard failure even though the
            # stringified values would compare equal (VERDICT r3 "what's wrong").
            tbl = con.execute(os_[name]).arrow()
            d_cols = list(tbl.column_names)
            d_rows = list(zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns)))) if tbl.num_columns else []
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        bad_decimal = [f.name for f in tbl.schema if pat.is_decimal(f.type)]
        if bad_decimal:
            failures.append(name)
            print(
                f"FAIL {name}: oracle emits decimal128/256 columns {bad_decimal} "
                f"(uncast hugeint sum? driver value-hash will mismatch — cast to bigint/double)"
            )
            continue
        bad_arrow = nonscalar_arrow_cols(tbl.schema)
        if bad_arrow:
            failures.append(name)
            print(
                f"FAIL {name}: oracle emits array/struct/map columns {bad_arrow} "
                f"(driver pandas canonicalizer crashes on list cells — emit scalars)"
            )
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(s_cols)} != {sorted(d_cols)}")
            continue
        # dtype audit: warn on Spark/DuckDB Arrow type-family disagreements
        # (int vs float changes the stringified value, e.g. "3" vs "3.0").
        spark_types = dict(sdf.dtypes)
        duck_arrow = {f.name: f.type for f in tbl.schema}
        int_spark = {"bigint", "int", "smallint", "tinyint"}
        float_spark = {"double", "float"}
        for col in s_cols:
            st_, at_ = spark_types[col], duck_arrow[col]
            if st_ in int_spark and not pat.is_integer(at_):
                print(f"  ~ {name}.{col}: spark={st_} duckdb-arrow={at_}")
            elif st_ in float_spark and not pat.is_floating(at_):
                print(f"  ~ {name}.{col}: spark={st_} duckdb-arrow={at_}")
        if len(s_rows) != len(d_rows):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(s_rows)} != {len(d_rows)}")
            continue
        sn, dn = norm_rows(s_cols, s_rows), norm_rows(d_cols, d_rows)
        if sn != dn:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
            continue
        print(f"PASS {name}: rows={len(s_rows)}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match the oracle")


if __name__ == "__main__":
    main()
