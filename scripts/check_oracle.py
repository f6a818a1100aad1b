"""Local simulation of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 on Spark AND its
oracle_sql() on DuckDB, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from geo_inference_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        tuple(str(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def main(sf_dir: str = "/root/testdata/sf0.01", only: str = "") -> int:
    """only: comma-separated query names to restrict the gate to."""
    import os

    # sf-dependent oracles (IVF centroid training) follow the gate's sf
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    # cores follow $SPARK_GRAFT_CPUS (get_spark's default); the
    # shuffle width stays fixed so results do not depend on the host
    spark = get_spark("oracle-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    if only:
        want = set(only.split(","))
        missing = want - set(qs)
        assert not missing, f"unknown queries: {missing}"
        qs = {k: v for k, v in qs.items() if k in want}
    oracles = entrymod.oracle_sql()
    failures = 0
    e = entrymod.entry(spark)
    n = e.count()
    print(f"entry(): {n} rows, schema={e.schema.simpleString()}")
    import time as _t

    for name, fn in qs.items():
        _t0 = _t.perf_counter()
        sdf = fn(spark, sf_dir).toPandas()
        _t1 = _t.perf_counter()
        if name not in oracles:
            print(f"{name}: rows-only check, {len(sdf)} rows")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = value_hash(sdf) == value_hash(odf) if ok_cols else False
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(
                f"{name}: {status} rows {len(sdf)}/{len(odf)} "
                f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            )
            if ok_cols and ok_rows:
                merged = sdf[sorted(sdf.columns)].reset_index(drop=True)
                om = odf[sorted(odf.columns)].reset_index(drop=True)
                ms = merged.sort_values(list(merged.columns)).reset_index(drop=True)
                os_ = om.sort_values(list(om.columns)).reset_index(drop=True)
                diff = (ms.astype(str) != os_.astype(str)).any(axis=1)
                print("  first diffs:")
                print(ms[diff].head(3))
                print(os_[diff].head(3))
        else:
            _t2 = _t.perf_counter()
            print(
                f"{name}: OK ({len(sdf)} rows) "
                f"spark {_t1 - _t0:.1f}s oracle {_t2 - _t1:.1f}s",
                flush=True,
            )
    return failures


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
