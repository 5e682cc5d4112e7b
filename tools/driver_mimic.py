"""Hash-exact stand-in for the driver's CORRECTNESS gate.

`tools/oracle_check.py` compares values with a float tolerance; the driver
does NOT — it canonicalizes both results through pandas (sort columns by
name, lexsort rows, then hash the cell values), so a bigint-vs-float64
dtype difference (e.g. an unwrapped DuckDB HUGEINT SUM) or an unhashable
array cell fails even when values are equal. This tool reproduces that
sensitivity locally:

- Spark result via ``toPandas()``, oracle via DuckDB ``.df()``;
- columns sorted by name, rows lexsorted (the step that crashed on
  ``array<...>`` cells in CORRECTNESS_r02 — so list cells fail here too);
- every cell rendered dtype-sensitively (``123`` != ``123.0``; floats at
  full ``repr`` precision; timestamps at microsecond ISO) and sha256'd.

Two results "driver-match" iff row count, sorted column names, and the
value hash all agree. Usage:

    python tools/driver_mimic.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from projet_etl_a_rien_spark.catalog import TABLES
from projet_etl_a_rien_spark.session import get_spark


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, then lexsort rows — the driver's _canon.

    Raises TypeError on unhashable (list/array) cells exactly like the
    driver's pandas sort does; that IS the signal we want locally.
    """
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _cell(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return "\x00NULL"
    if isinstance(v, pd.Timestamp):
        return v.isoformat(timespec="microseconds")
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return repr(v)
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update("\x1f".join(_cell(v) for v in row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare(sdf_pd: pd.DataFrame, odf_pd: pd.DataFrame):
    s, o = canon(sdf_pd), canon(odf_pd)
    rows = len(s) == len(o)
    schema = list(s.columns) == list(o.columns)
    hashes = value_hash(s) == value_hash(o) if rows and schema else False
    return rows, schema, hashes, s, o


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("driver-mimic")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures, skipped = [], []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark.catalog.clearCache()  # caching operators: caller owns cleanup
        n_run += 1
        if name not in oracles:
            n = fn(spark, sf_dir).count()
            skipped.append(name)
            print(f"  ~ {name}: rows-only ({n} rows)")
            continue
        try:
            spd = fn(spark, sf_dir).toPandas()
            opd = con.sql(oracles[name]).df()
            rows, schema, hashes, s, o = compare(spd, opd)
        except Exception as e:
            failures.append(name)
            print(f"  ✗ {name}: ERROR: {type(e).__name__}: {e}")
            continue
        if rows and schema and hashes:
            print(f"  ✓ {name}: {len(s)} rows hash-exact")
            continue
        failures.append(name)
        if not schema:
            print(f"  ✗ {name}: columns spark={list(s.columns)} oracle={list(o.columns)}")
        elif not rows:
            print(f"  ✗ {name}: rows spark={len(s)} oracle={len(o)}")
        else:
            diff_cols = [
                c
                for c in s.columns
                if [_cell(v) for v in s[c]] != [_cell(v) for v in o[c]]
            ]
            c0 = diff_cols[0]
            for i, (sv, ov) in enumerate(zip(s[c0], o[c0])):
                if _cell(sv) != _cell(ov):
                    print(
                        f"  ✗ {name}: hash mismatch cols={diff_cols} "
                        f"first at row {i} col {c0}: "
                        f"spark={sv!r} ({s[c0].dtype}) oracle={ov!r} ({o[c0].dtype})"
                    )
                    break

    print(
        f"\n{n_run - len(failures) - len(skipped)} hash-exact, "
        f"{len(skipped)} rows-only, {len(failures)} failed"
        + (f" (subset: {n_run} of {len(qs)})" if only else "")
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
