#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL
in DuckDB against the same parquet tables, compare to the Spark result
parquet (columns sorted by name, exact value compare).

Usage: compare_oracle.py [sf_dir] [out_dir] [key1,key2,...]
The optional third argument compares only the named keys. A filter key
with no result or oracle counts as a failure, and so does a run that
compares no key at all.

DuckDB gets half of the host's MemTotal as its memory_limit and spills
to a temp directory under out_dir, so a heavy oracle spills instead of
growing until the machine runs out of memory."""
import sys, json, glob, math
import duckdb


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"
keys = set(sys.argv[3].split(",")) - {""} if len(sys.argv) > 3 else None

con = duckdb.connect()
con.execute(f"SET memory_limit = '{mem_total_mb() // 2}MB'")
# a dot-named dir: the rows-only scan below skips it
con.execute(f"SET temp_directory = '{out_dir}/.duckdb_tmp'")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
if keys is not None:
    oracle = {k: v for k, v in oracle.items() if k in keys}
fails = 0
for name, sql in sorted(oracle.items()):
    try:
        exp = con.sql(sql).df()
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}")
            fails += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            fails += 1
            continue
        ok = True
        for c in exp.columns:
            ev, gv = exp[c].tolist(), got[c].tolist()
            for i, (a, b) in enumerate(zip(ev, gv)):
                same = (a == b) or (a is None and b is None)
                try:
                    if not same and isinstance(a, float) and isinstance(b, float):
                        same = (math.isnan(a) and math.isnan(b)) or a == b
                except TypeError:
                    pass
                # pandas NaN for SQL NULL
                if not same:
                    try:
                        same = (a != a) and (b != b)  # both NaN/NaT
                    except Exception:
                        pass
                if not same:
                    print(f"FAIL {name}: col {c} row {i}: spark={gv[i]!r} oracle={ev[i]!r}")
                    ok = False
                    break
            if not ok:
                break
        if ok:
            print(f"OK   {name} ({len(exp)} rows)")
        else:
            fails += 1
    except Exception as e:
        print(f"ERR  {name}: {e}")
        fails += 1

# rows-only queries
all_dirs = {d.split("/")[-1] for d in glob.glob(f"{out_dir}/*") if not d.endswith(".json")}
if keys is not None:
    all_dirs &= keys
for name in sorted(all_dirs - set(oracle)):
    n = con.sql(f"SELECT count(*) FROM '{out_dir}/{name}/*.parquet'").fetchone()[0]
    print(f"{'ROWS' if n > 0 else 'FAIL'} {name} ({n} rows)")
    if n == 0:
        fails += 1
compared = set(oracle) | all_dirs
for name in sorted((keys or set()) - compared):
    print(f"MISS {name}: in the filter, but no result or oracle")
    fails += 1
print(f"\n{fails} failures / {len(oracle)} oracle + {len(all_dirs - set(oracle))} rows-only")
print(f"{len(compared)} keys compared")
if not compared:
    print("FAIL no key compared")
sys.exit(1 if fails or not compared else 0)
