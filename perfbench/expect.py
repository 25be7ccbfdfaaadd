"""Write perfbench/expectations.json: each gate op's expected output
fingerprint, recorded ONLY after the Spark output equals the op's DuckDB
oracle on the benchmark's generated tables (same normalisation as
tools/check_oracles.py). An op whose output disagrees with its oracle gets no
expectation, so the benchmark counts every call of it as failed; nothing is
ever re-baselined from the code's own output.

images_resume needs no stored fingerprint: its expectation is the fixture's
seeded violation classes plus the manifest row totals, derived at run time
(workloads.check_image_sweep). ``--images-seeds`` runs full checkpointed
sweeps for those seeds as a check that the expectation holds.

    python3 perfbench/expect.py [--images-seeds 0,1,42]

It always rewrites the whole file, for the benchmark's scale factors and the
tests' (workloads.TEST_SF).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import workloads  # noqa: E402


def normalize(df):
    """tools/check_oracles.py's normalisation (imported from there)."""
    sys.path.insert(0, os.path.join(harness.ROOT, "tools"))
    from check_oracles import normalize as norm

    return norm(df)


def check_gate(spark, group, work: str) -> dict:
    import duckdb

    import gen
    from ndto_spark.queries import ORACLE_SQL, QUERIES

    sf = group.sf
    data_dir = os.path.join(work, f"data-{workloads.sf_key(sf)}")
    gen.write_tables(data_dir, sf, group.tables)
    con = duckdb.connect()
    for t in group.tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for op in list(group.ops) + list(group.untimed):
        t0 = time.time()
        sdf = QUERIES[op](spark, data_dir)
        n, fp = harness.fingerprint(sdf)
        spark_rows = QUERIES[op](spark, data_dir).toPandas()
        spark.catalog.clearCache()
        if op not in ORACLE_SQL:
            print(f"SKIP {op}: no oracle SQL")
            continue
        try:
            odf = con.sql(ORACLE_SQL[op]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {op}: duckdb error {type(e).__name__}: {e}")
            continue
        scols, srows = normalize(spark_rows)
        ocols, orows = normalize(odf)
        if (scols, srows) != (ocols, orows):
            print(f"FAIL {op}: spark {len(srows)} rows {scols} != oracle {len(orows)} rows {ocols}")
            continue
        if n != len(srows):
            print(f"FAIL {op}: fingerprint saw {n} rows, collect saw {len(srows)}")
            continue
        out[op] = {"rows": n, "fingerprint": fp}
        print(f"OK {op} sf{sf:g}: {n} rows match the oracle ({time.time() - t0:.1f} s) {fp}")
    return out


def check_images(spark, seeds: list[int], work: str) -> bool:
    from run import run_calls

    good = True
    for seed in seeds:
        wl = workloads.make("images_resume")
        wl.setup(spark, os.path.join(work, f"images-{seed}"), seed)
        records = run_calls(wl, 0.0)
        bad = [r for r in records if not r["ok"]]
        print(f"{'OK' if not bad else 'FAIL'} images_resume seed {seed}: "
              f"{len(records)} calls, {len(bad)} failed {bad[:1]}")
        good &= not bad
        wl.teardown()
    return good


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images-seeds", default="0,1,42")
    args = ap.parse_args()
    groups = workloads.op_groups() + workloads.op_groups(workloads.TEST_SF)

    work = harness.prepare_process("expect")
    harness.redirect_fixture_caches(work)
    spark = harness.make_session(work)
    try:
        found: dict[str, dict] = {}
        for group in groups:
            found.setdefault(workloads.sf_key(group.sf), {}).update(
                check_gate(spark, group, work))
        images_ok = check_images(
            spark, [int(s) for s in args.images_seeds.split(",") if s], work
        )
    finally:
        spark.stop()
    doc = {
        "about": "Spark output fingerprints (perfbench/harness.py fingerprint) of gate "
                 "ops whose output equalled the DuckDB oracle on perfbench/gen.py "
                 "tables at each scale factor; written by perfbench/expect.py.",
        "expectations": {k: dict(sorted(v.items())) for k, v in sorted(found.items())},
    }
    with open(workloads.EXPECTATIONS, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=False)
        f.write("\n")
    missing = []
    for group in groups:
        got = found.get(workloads.sf_key(group.sf), {})
        want = set(group.ops) | set(group.untimed)
        missing += [f"{op}@{workloads.sf_key(group.sf)}" for op in sorted(want - set(got))]
    total = sum(len(v) for v in found.values())
    print(f"wrote {total} expectations; missing: {missing or 'none'}; "
          f"images check {'ok' if images_ok else 'FAILED'}")
    return 0 if not missing and images_ok else 1


if __name__ == "__main__":
    sys.exit(main())
