"""Workloads ``catalog_scan`` and ``catalog_eager``: fixed mixes of
catalog queries, each query forced with the ``noop`` sink. The scan
mix (scans, joins, shuffles) spends most of its time executing; the
eager mix spends it in plan construction, plan-time eager checkpoint
builds and many short Spark jobs. The seed permutes the order the
queries run in.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys
import time

import numpy as np

from . import datagen
from .harness import Tracer, group_counts, set_job_group

MIXES = {
    "catalog_scan": (
        "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
        "tpch_q18_large_volume", "agg_pricing_summary", "join_range_bucketed",
        "window_topk_per_group", "text_tfidf", "corpus_curation_pipeline",
    ),
    "catalog_eager": (
        "graph_pagerank", "ml_logreg_train", "text_textrank",
        "dedup_minhash_lsh", "dedup_containment", "ml_naive_bayes",
    ),
}
QUERIES = MIXES["catalog_scan"] + MIXES["catalog_eager"]


class _Collected:
    """A result already collected into pandas, in the two shapes
    ``oracle_harness.compare`` reads: a Spark DataFrame's ``toPandas``
    and a DuckDB relation's ``df``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf

    df = toPandas


# Computes one oracle answer: argv = data dir, SQL, output pickle.
_ORACLE_CHILD = """
import pickle, sys
from tests.oracle_harness import duck_connection
data_dir, sql, out = sys.argv[1:]
con = duck_connection(data_dir)
pdf = con.sql(sql).df()
with open(out, "wb") as fh:
    pickle.dump(pdf, fh)
"""


class _OracleResults:
    """``duck_connection`` stand-in for ``oracle_harness.compare``:
    answers each oracle SQL from a cache keyed by the SQL text and the
    input files. On a miss DuckDB computes it in a child process, so
    the memory DuckDB keeps does not stay in this one and count in
    ``peak_rss_mb``. The inputs do not depend on the seed, so a
    checkout computes each answer once."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        h = hashlib.sha256()
        for name in sorted(os.listdir(data_dir)):
            with open(os.path.join(data_dir, name), "rb") as fh:
                h.update(name.encode() + fh.read())
        self.data_key = h.hexdigest()

    def sql(self, sql: str):
        key = hashlib.sha256((self.data_key + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if not os.path.exists(path):
            os.makedirs(self.cache_dir, exist_ok=True)
            subprocess.run([sys.executable, "-c", _ORACLE_CHILD, self.data_dir, sql,
                            path + ".tmp"], stdout=subprocess.DEVNULL, check=True,
                           timeout=600)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as fh:
            return _Collected(pickle.load(fh))


class CatalogWorkload:
    def __init__(self, ctx, name: str, sf: float):
        self.ctx = ctx
        self.name = name
        mix = MIXES[name]
        rng = np.random.default_rng(ctx.seed)
        self.order = [mix[i] for i in rng.permutation(len(mix))]
        self.sf = sf
        self.spark = None
        self.oracle = None
        self.result_rows = 0
        self.last_frames: dict = {}

    def setup(self) -> None:
        self.data_dir = os.path.join(self.ctx.run_dir, "data")
        datagen.write_tables(datagen.catalog_tables(self.sf), self.data_dir)
        self.spark = self.ctx.start_spark()

    def teardown(self) -> None:
        pass

    def reset(self) -> None:
        from s3_parquet_to_postgres_spark.operators.ranking import drain_pins

        drain_pins()

    def warm_up(self) -> tuple[list[str], float]:
        """One untimed pass that collects every query and compares it
        with its oracle. Returns the check's errors and the seconds
        spent comparing, which the caller keeps out of ``setup_s``."""
        from __spark_entry__ import queries

        qs = queries()
        # built lazily, so each query is built and collected in turn
        frames = ((q, qs[q](self.spark, self.data_dir)) for q in self.order)
        errors, check_s, self.result_rows = self._compare(frames, "warm-up")
        return errors, check_s

    def check(self, rows_per_pass: list[int]) -> list[str]:
        """After the timed passes, outside timing: collect the frames
        the last timed pass built and compare them with the oracles,
        so what earlier passes left behind (eager builds, checkpoints)
        is checked too. The ``noop`` sink itself keeps no output."""
        errors, _, rows = self._compare(self.last_frames.items(), "last timed pass")
        if rows != self.result_rows:
            errors.append(f"last timed pass: {rows} result rows, "
                          f"{self.result_rows} in the warm-up")
        return errors

    def _compare(self, frames, when: str) -> tuple[list[str], float, int]:
        """Collect each ``(query, frame)`` and compare it with its
        oracle. Returns the errors, the seconds spent comparing and
        the result rows."""
        from tests.oracle_harness import compare

        from __spark_entry__ import oracle_sql

        sqls = oracle_sql()
        errors: list[str] = []
        check_s = 0.0
        rows = 0
        for q, df in frames:
            pdf = df.toPandas()
            rows += len(pdf)
            t0 = time.perf_counter()
            if self.oracle is None:
                self.oracle = _OracleResults(self.data_dir, self.ctx.oracle_cache)
            try:
                compare(_Collected(pdf), self.oracle, sqls[q], q)
            except AssertionError as e:
                errors.append(f"{when}: {str(e)[:500]}")
            check_s += time.perf_counter() - t0
        return errors, check_s, rows

    def run_pass(self, pass_id: str, traced: bool) -> dict:
        from __spark_entry__ import queries

        qs = queries()
        tracer = Tracer()
        lat: list[float] = []
        groups: list[str] = []
        frames = {}
        with tracer.span("pass", unit=pass_id) as root:
            for q in self.order:
                unit = f"{pass_id}.{q}"
                with tracer.span("query", unit=unit) as qs_span:
                    if traced:
                        set_job_group(self.spark, unit + ".construct")
                    with tracer.span(f"{q}.construct"):
                        df = frames[q] = qs[q](self.spark, self.data_dir)
                    if traced:
                        set_job_group(self.spark, unit + ".execute")
                    with tracer.span(f"{q}.execute"):
                        df.write.format("noop").mode("overwrite").save()
                lat.append(qs_span.end - qs_span.start)
                groups += [unit + ".construct", unit + ".execute"]
        if traced:
            set_job_group(self.spark, None)
        self.last_frames = frames
        out = {"wall_s": sum(lat), "rows": self.result_rows, "units": len(lat),
               "unit_s": lat, "tracer": tracer}
        if traced:
            out["layers"] = self._layers(tracer, root, pass_id, groups)
        return out

    def _layers(self, tracer, root, pass_id, groups) -> dict[str, float]:
        construct = sum(tracer.total(f"{q}.construct") for q in self.order)
        execute = sum(tracer.total(f"{q}.execute") for q in self.order)
        layers = {"plans.construct_s": construct, "spark.execute_s": execute}
        for q in self.order:
            layers[f"{q}.construct_s"] = tracer.total(f"{q}.construct")
            layers[f"{q}.execute_s"] = tracer.total(f"{q}.execute")
            layers[f"{q}.jobs"] = sum(
                group_counts(self.spark, f"{pass_id}.{q}.{phase}")["jobs"]
                for phase in ("construct", "execute"))
        self.ctx.add_spark_layers(layers, groups, root,
                                  [g for g in groups if g.endswith(".construct")])
        return layers
