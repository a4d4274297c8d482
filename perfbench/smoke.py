"""The benchmark's own smoke test, on tiny inputs.

    python3 perfbench/smoke.py

Run from the root of a checkout. Checks that

1. every metric BENCHMARK.json names is emitted with its unit, by
   each workload the command runs, traced and untraced, with
   ``correct`` true, and no process left running after the run;
2. a deliberately wrong result fails the output check: one Postgres
   row deleted after a drain, one catalog value altered, one row
   dropped from a frame the last timed catalog pass built;
3. changing the seed changes the object split, the todo order and
   the query order, but not the expected outputs.

Prints one line per check and exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def metrics_emitted(spec: dict) -> None:
    from perfbench import harness
    from perfbench.run import WORKLOADS

    # a process a run leaves behind is re-parented here, where the
    # check below sees it
    harness.become_subreaper()

    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    check({w["name"] for w in spec["workloads"]} <= set(WORKLOADS),
          "every workload BENCHMARK.json names is one the command runs")
    for name in WORKLOADS:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", name,
                 "--seed", "1", "--seconds", "0", "--trace", str(trace),
                 "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            last = json.loads(out.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            check(out.returncode == 0 and last["correct"] and last["failed"] == 0,
                  f"{name} trace={trace}: correct")
            check(got == wanted[trace],
                  f"{name} trace={trace}: every metric with its unit")
            check(harness.children() == [],
                  f"{name} trace={trace}: no process left running after the run")


def wrong_results_fail() -> None:
    from perfbench import harness, run
    from perfbench.catalog_mix import QUERIES, _Collected, _OracleResults
    from tests.oracle_harness import compare

    from __spark_entry__ import oracle_sql, queries

    ctx, etl = run.open_run("etl_lineitem_copy", 1, False, "tiny")
    cat = None
    try:
        etl.setup()
        etl.reset()
        res = etl.run_pass("p0", traced=False)
        check(etl.check([res["rows"]]) == [], "etl: a correct drain passes the check")
        etl.psql("DELETE FROM lineitem_copy WHERE ctid IN "
                 "(SELECT ctid FROM lineitem_copy LIMIT 1)")
        check(etl.check([res["rows"]]) != [], "etl: one deleted row fails the check")

        cat_ctx, cat = run.open_run("catalog_eager", 1, False, "tiny")
        cat.setup()
        check(cat.warm_up()[0] == [], "catalog: the warm-up pass passes the check")
        cat.reset()
        cat.run_pass("p0", traced=False)
        check(cat.check([]) == [], "catalog: the last timed pass passes the check")
        q = next(q for q in cat.order if cat.last_frames[q].count() > 1)
        df = cat.last_frames[q]
        cat.last_frames[q] = df.limit(df.count() - 1)
        check(cat.check([]) != [], f"catalog: {q} short of one row fails the check")

        oracle = _OracleResults(cat.data_dir, cat_ctx.oracle_cache)
        q = QUERIES[-1]
        pdf = queries()[q](ctx.spark, cat.data_dir).toPandas()
        compare(_Collected(pdf), oracle, oracle_sql()[q], q)
        check(True, f"catalog: {q} passes the oracle check")
        col = next(c for c in pdf.columns if pdf[c].dtype.kind in "if")
        pdf.loc[pdf.index[0], col] = pdf[col].iloc[0] + 1
        try:
            compare(_Collected(pdf), oracle, oracle_sql()[q], q)
            failed = False
        except AssertionError:
            failed = True
        check(failed, f"catalog: {q} with one value altered fails the check")
    finally:
        if ctx.spark is not None:
            harness.stop_spark(ctx.spark)
        etl.teardown()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
        if cat is not None:
            shutil.rmtree(cat_ctx.run_dir, ignore_errors=True)


def seeds_change_inputs_not_outputs() -> None:
    import duckdb

    from perfbench import datagen
    from perfbench.catalog_mix import CatalogWorkload
    from perfbench.etl import split_objects
    from perfbench.run import RunContext

    (a, todo_a), (b, todo_b) = split_objects(2400, 1), split_objects(2400, 2)
    check(a != b, "etl: the seed changes the object split")
    check(todo_a != todo_b, "etl: the seed changes the todo order")
    con = duckdb.connect()

    def totals(objects: dict[str, bytes]):
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pa.concat_tables(pq.read_table(io.BytesIO(v)) for v in objects.values())
        con.register("t", t)
        return con.execute("SELECT count(*), sum(l_orderkey), round(sum(l_extendedprice), 2), "
                           "count(l_tax), min(l_shipdate), max(l_shipdate) FROM t").fetchone()

    check(totals(a) == totals(b), "etl: the seed leaves the expected totals alone")
    orders = [CatalogWorkload(RunContext(s, False, ""), "catalog_eager", 0.001).order
              for s in (1, 2)]
    check(orders[0] != orders[1] and sorted(orders[0]) == sorted(orders[1]),
          "catalog: the seed permutes the query order")
    t1, t2 = datagen.catalog_tables(0.001), datagen.catalog_tables(0.001)
    check(all(t1[k].equals(t2[k]) for k in t1),
          "catalog: the inputs, hence the oracle answers, do not depend on the seed")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seeds_change_inputs_not_outputs()
    wrong_results_fail()
    metrics_emitted(spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
