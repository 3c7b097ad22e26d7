"""DuckDB oracle compare for the benchmark's verify-round dumps.

The rules are those of the repo's local correctness gate: same column
names, no HUGEINT/UHUGEINT column on either side, and equal row multisets
after sorting columns by name and rounding floats to 6 dp with -0.0
folded to +0.0. Oracle results depend only on the SQL and the fixture,
so their canonical digest is cached between runs.
"""
import hashlib
import json
import os

import duckdb

FATAL_TYPES = {"HUGEINT", "UHUGEINT"}
VIEWS = ("region nation customer supplier part orders lineitem "
         "events documents embeddings").split()


def canon_digest(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if type(v).__name__ == "Decimal":
                v = float(v)
            if isinstance(v, float):
                v = round(v, 6) + 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    h = hashlib.sha256("\n".join(out).encode()).hexdigest()
    return f"{h}:{len(out)}"


def _oracle_side(con, sql, fx_dir, cache_dir):
    key = hashlib.sha256((sql + "\0" + fx_dir).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    rel = con.sql(sql)
    cols, types = rel.columns, [str(t) for t in rel.types]
    got = {"cols": cols, "types": types, "digest": canon_digest(rel.fetchall(), cols)}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(got, fh)
    os.replace(path + ".tmp", path)
    return got


def check(oracles_path, fx_dir, cache_dir, spill_dir):
    """[(step, ok, message)] for every dumped result that has an oracle."""
    with open(oracles_path) as fh:
        entries = [json.loads(l) for l in fh if l.strip()]
    # DuckDB defaults to 80% of RAM; the host is shared with the JVM
    con = duckdb.connect(config={"temp_directory": spill_dir, "memory_limit": "2GB"})
    for t in VIEWS:
        p = os.path.join(fx_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = []
    for e in entries:
        step, sql = e["step"], e["sql"]
        if sql is None:
            out.append((step, False, f"no oracle SQL registered for {e['name']}"))
            continue
        try:
            o = _oracle_side(con, sql, fx_dir, cache_dir)
        except duckdb.Error as ex:
            out.append((step, False, f"oracle error: {ex}"))
            continue
        srel = con.sql(f"SELECT * FROM read_parquet('{e['dump']}/*.parquet')")
        scols, stypes = srel.columns, [str(t) for t in srel.types]
        if sorted(scols) != sorted(o["cols"]):
            out.append((step, False, f"schema mismatch spark={sorted(scols)} "
                                     f"oracle={sorted(o['cols'])}"))
            continue
        omap, smap = dict(zip(o["cols"], o["types"])), dict(zip(scols, stypes))
        fatal = [c for c in omap if FATAL_TYPES & {omap[c], smap[c]}]
        if fatal:
            out.append((step, False, "type mismatch: " + "; ".join(
                f"{c}: oracle={omap[c]} spark={smap[c]}" for c in fatal)))
            continue
        sd = canon_digest(srel.fetchall(), scols)
        if sd != o["digest"]:
            out.append((step, False, f"result mismatch vs oracle {e['name']} "
                                     f"(rows spark={sd.split(':')[1]} "
                                     f"oracle={o['digest'].split(':')[1]})"))
            continue
        out.append((step, True, f"matches oracle {e['name']} ({sd.split(':')[1]} rows)"))
    return out
