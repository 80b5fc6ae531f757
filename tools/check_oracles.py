"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf dir, runs the
matching oracle_sql() in DuckDB over the same parquet tables, and compares
row count + column names + an order-insensitive value hash (columns sorted
by name, rows sorted, values stringified with floats rounded to 6dp).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = []
    for row in rows:
        parts = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = f"{v:.6f}"
            parts.append(str(v))
        lines.append("\x1f".join(parts))
    lines.sort()
    return hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E
    from dpo_ocr_spark.session import get_spark

    spark = get_spark("check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failed = []
    counts = dict.fromkeys(("OK", "rows-only", "FAIL", "TYPE-FAIL"), 0)

    # Typed-output audit (r4 postmortem): the driver gate renders DuckDB
    # HUGEINT/DECIMAL output columns differently from BIGINT — all 11 r4
    # driver hash-FAILs (and only those) had one.  local fetchall()+str()
    # masks the divergence, so ban the types structurally.
    from dpo_ocr_spark.queries_canary import DELIBERATE_TYPE_CANARIES

    for name, sql in oracles.items():
        if only and name not in only:
            continue
        if name in DELIBERATE_TYPE_CANARIES:
            continue  # gate canaries that probe the banned types on purpose
        try:
            desc = con.execute(
                f"DESCRIBE SELECT * FROM ({sql})"
            ).fetchall()
        except Exception:
            continue  # runtime errors surface in the value check below
        bad = [
            f"{r[0]}:{r[1]}"
            for r in desc
            if r[1].startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
        ]
        if bad:
            print(f"{name:28s} TYPE-FAIL  oracle output {bad} "
                  "(HUGEINT/DECIMAL banned — CAST to BIGINT)")
            failed.append(name)
            counts["TYPE-FAIL"] += 1

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name in oracles:
                ores = con.execute(oracles[name])
                ocols = [d[0] for d in ores.description]
                orows = ores.fetchall()
        except Exception as e:
            # one raising query is counted, not allowed to end the sweep
            traceback.print_exc()
            first = (str(e).strip().splitlines() or [""])[0]
            print(f"{name:28s} FAIL {type(e).__name__}: {first}")
            counts["FAIL"] += 1
            failed.append(name)
            continue
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            counts["rows-only"] += 1
            if len(srows) == 0:
                failed.append(name)
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        sh = value_hash(scols, srows)
        oh = value_hash(ocols, orows)
        ok_hash = sh == oh
        status = "OK" if (ok_cols and ok_count and ok_hash) else "FAIL"
        counts[status] += 1
        print(
            f"{name:28s} {status}  rows {len(srows)}/{len(orows)} "
            f"cols={'=' if ok_cols else scols} hash "
            f"{'=' if ok_hash else f'{sh}!={oh}'} ({time.time()-t0:.1f}s)"
        )
        if status == "FAIL":
            failed.append(name)
            if not ok_cols:
                print(f"  spark cols: {scols}\n  oracle cols: {ocols}")
            if not ok_hash and ok_count and ok_cols:
                # show first differing row for debugging
                skey = sorted(
                    "\x1f".join(str(v) for v in r) for r in srows
                )
                okey = sorted(
                    "\x1f".join(str(v) for v in r) for r in orows
                )
                for a, b in zip(skey, okey):
                    if a != b:
                        print(f"  spark : {a[:300]}\n  oracle: {b[:300]}")
                        break
    print("  ".join(f"{k} {v}" for k, v in counts.items()))
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
