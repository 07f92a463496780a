#!/usr/bin/env python3
"""Driver-contract verification (the /verify surface).

Fresh-imports __spark_entry__.py, smoke-runs entry(), then runs every
queries() entry on Spark at sf0.01 and its oracle_sql() on DuckDB over
the same parquet tables, comparing row count, schema width, and a
value hash with columns sorted by name and rows sorted — the same
shape as the driver's CORRECTNESS check.

Usage: python scripts/verify_contract.py [query ...]   # default: all
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\x02".join(canon).encode()).hexdigest()[:16]


def _git(*args: str, env: dict | None = None) -> str:
    import subprocess

    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, env=env
    ).stdout.strip()


def _package_tree() -> str:
    """Git tree id of ``searchengine_spark/`` in the working tree, built
    in a throwaway index (the repository's own index is not touched)."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        env = {**os.environ, "GIT_INDEX_FILE": os.path.join(d, "index")}
        _git("add", "-A", "searchengine_spark", env=env)
        return _git("write-tree", "--prefix=searchengine_spark/", env=env)


def main() -> None:
    import duckdb

    spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from searchengine_spark.session import get_spark

    spark = get_spark("verify", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    ent = mod.entry(spark)
    ent_rows = ent.collect()
    print(f"entry(): {len(ent_rows)} rows, schema [{', '.join(ent.columns)}]")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = mod.queries(), mod.oracle_sql()
    only = set(sys.argv[1:])
    n_pass = n_fail = n_noor = 0
    per_query: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            n_fail += 1
            continue
        dt = time.perf_counter() - t0
        if name not in oracles:
            print(f"  -- {name}: {len(rows)} rows (no oracle, rows-only) [{dt:.1f}s]")
            per_query[name] = {"pass": True, "rows": len(rows), "seconds": round(dt, 1), "rows_only": True}
            n_noor += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        ok_rows = len(rows) == len(orows)
        ok_schema = sorted(cols) == sorted(ocols)
        ok_hash = value_hash(cols, rows) == value_hash(ocols, orows)
        ok = ok_rows and ok_schema and ok_hash
        per_query[name] = {"pass": ok, "rows": len(rows), "seconds": round(dt, 1)}
        if ok:
            print(f"  ok {name}: {len(rows)} rows [{dt:.1f}s]")
            n_pass += 1
        else:
            print(
                f"FAIL {name}: rows {len(rows)}/{len(orows)} match={ok_rows} "
                f"schema={ok_schema} ({cols} vs {ocols}) hash={ok_hash}"
            )
            n_fail += 1
    print(json.dumps({"pass": n_pass, "fail": n_fail, "rows_only": n_noor}))
    out = os.environ.get("SENG_SELFCHECK_OUT")
    if out and not only:
        import datetime
        artifact = {
            "what": (
                "builder self-check: scripts/verify_contract.py over ALL "
                "queries()/oracle_sql() pairs at sf0.01 (row count + schema + "
                "sorted value hash vs DuckDB) - the same three checks as the "
                "driver's CORRECTNESS artifact"
            ),
            "git": _git("rev-parse", "HEAD"),
            # the checked package as it sat in the working tree: equals
            # `git rev-parse <commit>:searchengine_spark` of the commit
            # that lands it, so a check run before that commit exists is
            # still tied to it
            "package_tree": _package_tree(),
            "date": datetime.date.today().isoformat(),
            "sf": float(os.path.basename(SF_DIR).removeprefix("sf") or 0.01),
            "summary": {"pass": n_pass, "fail": n_fail, "rows_only": n_noor},
            "queries": per_query,
        }
        with open(out, "w") as f:
            json.dump(artifact, f, indent=1)
        print(f"wrote {out}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
