#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads each SparkEntry query result (parquet written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB over the same
testdata tables, sorts columns by name, and compares row-by-row. Each
query listed in the dump's failures.json (a query that threw) counts as a
failure.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir>
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


# Scale-path oracle for llm_fuzzy_join (folded in from tools/fuzzy_check.py
# so one command covers the whole board at any SF): the committed oracle is
# the DELIBERATELY naive O(n^2) cross join + levenshtein — at the sf0.01
# gate it doubles as a recall proof of the Spark side's SymSpell del-1
# blocking. Past the gate the naive replay is quadratic (hours at sf1), so
# GRAFT_CHECK_BANDED=llm_fuzzy_join swaps in the SAME del-1 blocking
# rebuilt independently in DuckDB; `python3 tools/check.py prove <sf_dir>`
# asserts banded == naive where the naive form is still feasible (the
# blocking is data-independent, so the proof carries across SFs).
BANDED_ORACLES = {
    "llm_fuzzy_join": """
WITH names AS (SELECT c_name AS name FROM customer),
keyed AS (
  SELECT name, unnest(list_distinct(list_append(
    list_transform(range(1, len(name) + 1),
      i -> substr(name, 1, i - 1) || substr(name, i + 1)), name))) AS k
  FROM names)
SELECT DISTINCT a.name AS name_a, b.name AS name_b
FROM keyed a JOIN keyed b ON a.k = b.k
WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 1
ORDER BY name_a, name_b
"""
}

NAIVE_FUZZY = """
SELECT a.c_name AS name_a, b.c_name AS name_b
FROM customer a, customer b
WHERE a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
ORDER BY name_a, name_b
"""


def connect(sf_dir):
    import os
    con = duckdb.connect()
    # GRAFT_CHECK_THREADS: cap DuckDB's parallelism so a check can share
    # the machine with a running bench without drowning it
    threads = os.environ.get("GRAFT_CHECK_THREADS")
    if threads:
        con.sql(f"SET threads={int(threads)}")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver testdata is a single file; Spark-written (ScaleGen) tables
        # are directories of part files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def main(out_dir, sf_dir):
    con = connect(sf_dir)
    import os
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    ok, bad, noracle, skipped = [], [], [], []
    import time
    # graft.Verify lists each query that threw in failures.json: such a
    # query leaves no result dir (or a stale one), so count it here as a
    # failure instead of letting it vanish from the summary. A dump
    # without the file is checked as before.
    failures = []
    if os.path.exists(f"{out_dir}/failures.json"):
        with open(f"{out_dir}/failures.json") as f:
            failures = json.load(f)
    threw = {e["query"] for e in failures}
    bad += [(e["query"], f"threw {e['exception']}: {e['message']}")
            for e in failures]
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)) and d not in threw)
    # GRAFT_CHECK_SKIP=a,b,c — leave out oracles that are prohibitively
    # expensive at a given SF; recorded distinctly (err: skipped_by_env)
    # so a skipped check can never masquerade as a query that genuinely
    # has no oracle
    skip = set(filter(None, os.environ.get("GRAFT_CHECK_SKIP", "").split(",")))
    # GRAFT_CHECK_BANDED=a,b,c — swap in the banded scale-path oracle for
    # the named queries (must be keys of BANDED_ORACLES); the artifact
    # records the substitution as provenance
    banded = set(filter(None, os.environ.get("GRAFT_CHECK_BANDED", "").split(",")))
    unknown_banded = banded - set(BANDED_ORACLES)
    if unknown_banded:
        raise SystemExit(f"GRAFT_CHECK_BANDED names without a banded oracle: "
                         f"{sorted(unknown_banded)}")
    oracles = {**oracles, **{k: BANDED_ORACLES[k] for k in banded}}
    for i, name in enumerate(names):
        # per-query progress to stderr, unbuffered: at sf1 a single
        # oracle replay can run minutes — a silent 30-minute process is
        # indistinguishable from a hung one without this
        t0 = time.time()
        print(f"[{i+1}/{len(names)}] {name} ...", file=sys.stderr, flush=True)
        spark_rel = con.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        if name in skip:
            n = len(spark_rel.fetchall())
            skipped.append((name, n))
            continue
        if name not in oracles:
            n = len(spark_rel.fetchall())
            noracle.append((name, n))
            continue
        try:
            duck_rel = con.sql(oracles[name])
            scols = sorted(spark_rel.columns)
            dcols = sorted(duck_rel.columns)
            if [c.lower() for c in scols] != [c.lower() for c in dcols]:
                bad.append((name, f"schema mismatch: spark={scols} duck={dcols}"))
                continue
            srows = [tuple(norm(v) for v in r) for r in con.sql(
                "SELECT " + ",".join(f'"{c}"' for c in scols) +
                f" FROM '{out_dir}/{name}/*.parquet'").fetchall()]
            drows = [tuple(norm(v) for v in r) for r in duck_rel.select(
                ",".join(f'"{c}"' for c in dcols)).fetchall()]
            if len(srows) != len(drows):
                bad.append((name, f"rowcount spark={len(srows)} duck={len(drows)}"))
                continue
            mism = [(i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
            if mism:
                i, a, b = mism[0]
                bad.append((name, f"{len(mism)}/{len(srows)} rows differ; first@{i}:\n  spark={a}\n  duck ={b}\n  cols ={scols}"))
            else:
                ok.append((name, len(srows)))
        except Exception as e:
            bad.append((name, f"oracle error: {e}"))
        print(f"[{i+1}/{len(names)}] {name} done in {time.time()-t0:.1f}s",
              file=sys.stderr, flush=True)

    for name, n in ok:
        prov = " [banded oracle]" if name in banded else ""
        print(f"PASS {name} ({n} rows){prov}")
    for name, n in noracle:
        print(f"NOORACLE {name} ({n} rows)")
    for name, n in skipped:
        print(f"SKIPPED {name} ({n} rows, GRAFT_CHECK_SKIP)")
    for name, msg in bad:
        print(f"FAIL {name}: {msg}")
    print(f"\n{len(ok)} pass, {len(bad)} fail, {len(noracle)} rows-only, "
          f"{len(skipped)} skipped")
    if len(sys.argv) > 3:
        # optional 3rd arg: write a CORRECTNESS_rN-shaped JSON artifact
        art = {}
        # provenance for targeted sweeps (tools/verify_touched.sh): a
        # partial board must never read as a full one — compare dumped
        # dirs against the FULL declared query universe (Verify writes
        # query_names.json), not just oracle keys, so a sweep that omits
        # only rows-only queries still stamps partial; fall back to
        # oracle keys for pre-universe dumps
        universe_path = os.path.join(out_dir, "query_names.json")
        if os.path.exists(universe_path):
            with open(universe_path) as f:
                universe = set(json.load(f))
        else:
            universe = set(oracles)
        missing = sorted(universe - set(names) - threw)
        # _meta is stamped on EVERY board, full or partial (r15 verdict
        # task 4): git sha + tree state + UTC make a byte-identical
        # replay still change the file and self-certify which code it
        # verified — full boards used to carry no provenance at all.
        import subprocess
        import datetime

        def _git(*args):
            try:
                r = subprocess.run(["git", *args], capture_output=True,
                                   text=True, timeout=10)
                return r.stdout.strip() if r.returncode == 0 else None
            except Exception:
                return None
        st = _git("status", "--porcelain")
        art["_meta"] = {
            "git_sha": _git("rev-parse", "--short", "HEAD") or "unknown",
            "tree": "unknown" if st is None else ("dirty" if st else "clean"),
            "utc": datetime.datetime.now(datetime.timezone.utc)
                   .isoformat(timespec="seconds"),
            "sf": sf_dir,
        }
        if banded:
            art["_meta"]["banded_oracles"] = sorted(banded)
        if missing:
            art["_meta"].update({"partial": True, "checked": len(names),
                                 "not_checked": len(missing),
                                 "queries": sorted(names)})
        for name, n in ok:
            art[name] = {"rows_match": True, "schema_match": True,
                         "hash_match": True, "spark_rows": n,
                         "oracle_rows": n, "err": None}
            if name in banded:
                art[name]["oracle"] = "banded_del1"
        for name, n in noracle:
            art[name] = {"rows_match": None, "schema_match": None,
                         "hash_match": None, "spark_rows": n,
                         "oracle_rows": None, "err": "no_oracle"}
        for name, n in skipped:
            art[name] = {"rows_match": None, "schema_match": None,
                         "hash_match": None, "spark_rows": n,
                         "oracle_rows": None, "err": "skipped_by_env"}
        for name, msg in bad:
            art[name] = {"rows_match": False, "schema_match": None,
                         "hash_match": False, "spark_rows": None,
                         "oracle_rows": None, "err": msg[:500]}
        with open(sys.argv[3], "w") as f:
            json.dump(dict(sorted(art.items())), f, indent=2)
        print(f"wrote {sys.argv[3]}")
    return 1 if bad else 0


def prove(sf_dir):
    """Assert banded == naive for llm_fuzzy_join where naive is feasible."""
    con = connect(sf_dir)
    b = con.sql(BANDED_ORACLES["llm_fuzzy_join"]).fetchall()
    n = con.sql(NAIVE_FUZZY).fetchall()
    assert b == n, f"banded diverges from naive: {len(b)} vs {len(n)} rows"
    print(f"PROVED banded == naive at {sf_dir} ({len(n)} pairs)")
    return 0


USAGE = ("usage: check.py <verify_out_dir> <sf_dir> [artifact.json]\n"
         "       check.py prove <sf_dir>")

if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(USAGE)
    if sys.argv[1] == "prove":
        sys.exit(prove(sys.argv[2]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
