#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compare Verify output
parquet against DuckDB oracle results on the same tables.

Usage: python3 tools/check.py [--strict] <sfDir> <verifyOutDir>
       python3 tools/check.py --against <baseVerifyOutDir> <verifyOutDir>

--strict mirrors the DRIVER's precision-sensitive hash gate: decimals are
compared by their unnormalized string rendering (so DECIMAL(28,2) "1.50"
vs DECIMAL(38,2) "1.50" still matches, but a scale difference like "1.5"
vs "1.50" does NOT), and per-column dtypes must agree between the Spark
output and the oracle result. The default (lax) mode normalizes decimal
scale — r6's q_gap_fill passed lax locally and failed the driver's hash,
so the pre-commit gate should always run strict.

--against compares every query's output with the same query's output in
another Verify run (typically the parent commit's) instead of the oracle,
always in strict mode: same columns, same engine types, same sorted rows.
It covers the ROWS_ONLY queries the oracle cannot check, reports a query
present on only one side, compares the two runs' oracle_sql.json maps
(missing keys, extra keys, SQL strings that differ), and never writes
CHECK_local.json (that artifact records the oracle check).
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

STRICT = False

# Decimal-surface lint (round-8 rule): two rounds of precision-pinning
# produced value- AND engine-type-identical DECIMAL outputs that the
# driver's opaque hash still rejected, so gated comparison surfaces must
# not contain DECIMAL at all — emit integer minor units (cents) or render
# cast("string"). A query may carry an explicit waiver here with a reason.
DECIMAL_WAIVERS = {
    # name: reason
}

def norm(v):
    import decimal
    if isinstance(v, decimal.Decimal):
        # strict: exact rendering including scale (the driver hashes the
        # engine's own string form, so (28,2) vs (38,2) values agree but a
        # scale mismatch does not); lax: scale-insensitive
        return str(v) if STRICT else str(v.normalize())
    if isinstance(v, float):
        return repr(v)
    return str(v)

# fresh connection per query batch: one connection across 200+ oracles
# (several with recursive CTEs / large sorts) accumulates allocator state
# until DuckDB fails tiny allocations ("block of 16384 bytes") on queries
# that pass in isolation — a spurious-red hazard for the gate. Recycling
# every RECYCLE_EVERY queries resets the allocator; a failed statement
# additionally gets ONE retry on a brand-new connection before it counts.
RECYCLE_EVERY = 20

class Session:
    def __init__(self, sf_dir):
        self.sf_dir = sf_dir
        self.con = self.fresh()
        self.since_recycle = 0

    def fresh(self):
        c = duckdb.connect()
        if self.sf_dir:
            for t in TABLES:
                p = f"{self.sf_dir}/{t}.parquet"
                if os.path.exists(p):
                    c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return c

    def recycle(self):
        self.con.close()
        self.con = self.fresh()
        self.since_recycle = 0

    def tick(self):
        self.since_recycle += 1
        if self.since_recycle >= RECYCLE_EVERY:
            self.recycle()

    def run(self, sql):
        try:
            return self.con.execute(sql)
        except Exception:
            self.recycle()
            return self.con.execute(sql)

def compare(ses, name, got_sql, got, exp_sql, exp):
    """Schema, (strict) engine-type and sorted-row comparison of one
    query's output against its expected relation; returns the verdict."""
    g_cols, e_cols = sorted(got.columns), sorted(exp.columns)
    if g_cols != e_cols:
        return f"SCHEMA_MISMATCH got={g_cols} exp={e_cols}"
    if STRICT:
        # ENGINE-level type parity per column (DESCRIBE, not pandas
        # dtype — both sides of a decimal render as object in pandas,
        # but DECIMAL(28,2) vs DECIMAL(38,2) is exactly the mismatch
        # that failed r6's q_gap_fill driver hash). The DESCRIBE pair runs
        # the expected query's planner again and is just as exposed to the
        # long-session allocator exhaustion as the fetch (r9 saw the fetch
        # path fail this way; r10 saw DESCRIBE), hence Session.run's retry.
        def types_of(sql):
            return {r[0]: r[1] for r in ses.run(f"DESCRIBE {sql}").fetchall()}
        tg = types_of(got_sql)
        te = types_of(f"({exp_sql})")
        tmis = [(c, tg.get(c), te.get(c)) for c in g_cols
                if tg.get(c) != te.get(c)]
        if tmis:
            return f"TYPE_MISMATCH {tmis}"
        dec = [c for c, t in tg.items() if "DECIMAL" in str(t).upper()]
        if dec and name not in DECIMAL_WAIVERS:
            return (f"DECIMAL_SURFACE {dec} — gated outputs must be "
                    "integer/string (see DECIMAL_WAIVERS)")
    g = sorted(tuple(norm(v) for v in row) for row in got[g_cols].itertuples(index=False))
    e = sorted(tuple(norm(v) for v in row) for row in exp[e_cols].itertuples(index=False))
    if len(g) != len(e):
        return f"ROWCOUNT got={len(g)} exp={len(e)}"
    if g == e:
        return f"MATCH({len(g)})"
    diffs = [(a, b) for a, b in zip(g, e) if a != b][:3]
    return f"VALUE_MISMATCH n={sum(1 for a,b in zip(g,e) if a!=b)}/{len(g)} sample={diffs}"

def outputs(out_dir):
    """query name -> its Verify output directory, or None when that
    directory holds no parquet."""
    res = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if os.path.isdir(d):
            res[name] = d if glob.glob(f"{d}/*.parquet") else None
    return res

def oracle_diff(base_dir, out_dir):
    """Differences between two runs' oracle_sql.json maps, one line each."""
    base = json.load(open(f"{base_dir}/oracle_sql.json"))
    got = json.load(open(f"{out_dir}/oracle_sql.json"))
    return ([f"missing oracle: {k}" for k in sorted(set(base) - set(got))] +
            [f"extra oracle: {k}" for k in sorted(set(got) - set(base))] +
            [f"oracle SQL differs: {k}" for k in sorted(set(base) & set(got))
             if base[k] != got[k]])

def main():
    global STRICT
    argv = sys.argv[1:]
    against = None
    if "--against" in argv:
        k = argv.index("--against")
        against = argv[k + 1]
        argv = argv[:k] + argv[k + 2:]
    args = [a for a in argv if a != "--strict"]
    STRICT = "--strict" in argv or against is not None
    if against is not None:
        sf_dir, out_dir = None, args[0]
        base = outputs(against)
        oracle = {}
    else:
        sf_dir, out_dir = args[0], args[1]
        oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ses = Session(sf_dir)
    results = {}
    got_dirs = outputs(out_dir)
    if against is not None:
        for name in sorted(set(base) - set(got_dirs)):
            results[name] = "NO_OUTPUT (base has it)"
    for name, d in got_dirs.items():
        if d is None:
            results[name] = "NO_OUTPUT"
            continue
        ses.tick()
        got_sql = f"SELECT * FROM '{d}/*.parquet'"
        got = ses.run(got_sql).fetchdf()
        if against is not None:
            if base.get(name) is None:
                results[name] = "NO_BASE_OUTPUT"
                continue
            exp_sql = f"SELECT * FROM '{base[name]}/*.parquet'"
        elif name not in oracle:
            results[name] = f"ROWS_ONLY({len(got)})" + ("" if len(got) > 0 else " !!EMPTY")
            continue
        else:
            exp_sql = oracle[name]
        try:
            exp = ses.run(exp_sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        results[name] = compare(ses, name, got_sql, got, exp_sql, exp)
    ok = sum(1 for v in results.values() if v.startswith("MATCH") or v.startswith("ROWS_ONLY("))
    for k, v in results.items():
        flag = "  " if (v.startswith("MATCH") or (v.startswith("ROWS_ONLY") and "EMPTY" not in v)) else "XX"
        print(f"{flag} {k}: {v}")
    if against is not None:
        print(f"\n{ok}/{len(results)} identical to {against} (strict)")
        diffs = oracle_diff(against, out_dir)
        for d in diffs:
            print(f"XX {d}")
        print("oracle_sql.json: " + (f"{len(diffs)} difference(s)" if diffs else "identical"))
        return
    mode = "strict" if STRICT else "lax"
    print(f"\n{ok}/{len(results)} ok ({mode})")
    # machine-readable artifact for tools/headline.py (NOTES numbers must
    # come from committed artifacts, not prose — the r6-r8 drift rule).
    # Written ONLY when the check covered the FULL oracle map: a
    # single-query debug check must not clobber the committed full-sweep
    # artifact (it did, twice, in round 11 — this guard is the fix).
    if len(results) >= len(oracle):
        with open("CHECK_local.json", "w") as f:
            json.dump({"ok": ok, "total": len(results), "mode": mode,
                       "sf_dir": sf_dir, "results": results}, f, indent=0)
    else:
        print(f"[check] partial run ({len(results)}/{len(oracle)}) — "
              "CHECK_local.json left untouched")

if __name__ == "__main__":
    main()
