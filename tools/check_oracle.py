#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables, compare row count, schema (sorted col
names), and a value hash against the Spark-side parquet dump from Verify.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--only a,b]

Verify always dumps every oracle SQL. With a subset (`--only`, else the
SPARK_GRAFT_ONLY environment variable, the one Verify's own filter reads),
only the named queries are checked, and a named query without Spark output
or oracle SQL fails. Without one, every oracle query is checked.
"""
import argparse, sys, os, json, hashlib
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(oracle if only is None else only)
    results = {}
    for name in names:
        spark_dir = os.path.join(out_dir, name)
        entry = {}
        if name not in oracle:
            results[name] = {"error": "no oracle SQL in oracle_sql.json"}
            continue
        sql = oracle[name]
        try:
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            sq = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            scols = [d[0] for d in sq.description]
            srows = sq.fetchall()
            entry["rows"] = (len(srows), len(orows), len(srows) == len(orows))
            entry["schema"] = (sorted(scols) == sorted(ocols)) or (sorted(scols), sorted(ocols))
            oh, sh = table_hash(ocols, orows), table_hash(scols, srows)
            entry["hash"] = (sh == oh) or (sh, oh)
        except Exception as e:
            entry["error"] = str(e).split("\n")[0][:200]
        results[name] = entry
    ok = [n for n, e in results.items()
          if e.get("hash") is True and e.get("rows", (0, 0, False))[2]]
    bad = {n: e for n, e in results.items() if n not in ok}
    print(f"PASS {len(ok)}/{len(results)}: {' '.join(ok)}")
    for n, e in sorted(bad.items()):
        print(f"FAIL {n}: {e}")
    # queries with Spark output but no oracle → rows-only check
    dirs = {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))
            and (only is None or d in only)}
    no_oracle = sorted(dirs - set(oracle))
    if no_oracle:
        print(f"rows-only (no oracle): {' '.join(no_oracle)}")
    return 0 if not bad else 1


def subset(arg):
    """The requested query names, or None for every oracle query."""
    spec = arg if arg is not None else os.environ.get("SPARK_GRAFT_ONLY")
    if spec is None:
        return None
    names = {n.strip() for n in spec.split(",") if n.strip()}
    if not names:
        raise SystemExit("check_oracle: an empty subset names no query")
    return names


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--only", help="comma-separated query names to check")
    args = ap.parse_args()
    sys.exit(main(args.sf_dir, args.out_dir, subset(args.only)))
