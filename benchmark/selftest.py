#!/usr/bin/env python3
"""Self-tests of the benchmark itself (no JVM needed).

    python3 benchmark/selftest.py     # from the repository root

* the same seed gives byte-identical inputs: the kaj_spj ``.det``/``.txt``/
  ``.stat`` files and dialect query text, and the registry parquet files;
  another seed gives different ones;
* every metric of the benchmark's design is emitted, and BENCHMARK.json declares
  exactly the metrics ``run.py`` prints, with the same units;
* the per-layer self times partition each traced query's wall time, and
  a traced run traces half of every window pass;
* the registry and dialect output checks reject a wrong result, and the
  registry check a query without oracle SQL.
"""
import json
import os
import shutil
import sys
import unittest

import duckdb
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.BUILD, "selftest")
ROWS = {"CUSTOMER": 50, "CART": 80, "CARTDETAILS": 120, "BILL": 120}

NAMED_END_TO_END = ["setup_s", "cold_pass_s", "queries_per_s", "query_p50_s",
                    "query_tail_s", "geomean_s", "rss_peak_mb"]
NAMED_PER_LAYER = [
    "dialect.parse_s", "dialect.translate_s", "sources.load_s", "sources.input_bytes",
    "queries.build_s", "queries.build_jobs", "queries.build_share",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.executions", "catalyst.aqe_updates", "codegen.compiles", "codegen.compile_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_deserialize_s",
    "scheduler.driver_only_s", "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.core_utilization", "shuffle.read_bytes", "shuffle.write_bytes",
    "shuffle.spill_bytes", "sink.deliver_s", "sink.rows", "trace.unattributed_s",
    "trace.overhead_frac"]


def files(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


A = "p001_q1"  # the traced query of the synthetic records


def synthetic_records() -> dict:
    """One query run traced and untraced; the traced run has jobs, a
    stage, spans and phases."""
    recs = {k: [] for k in ("setup", "query", "span", "job", "job_end", "stage",
                            "catalyst", "qe", "sql_start", "aqe")}
    recs["setup"] = [{"session_us": 1, "load_us": 5}]
    q = lambda i, s, e, traced: {"id": i, "phase": "window", "traced": traced, "pass": 1,
                                 "start_us": s, "end_us": e, "compiles": 2,
                                 "compile_ns": 3000}
    recs["query"] = [q(A, 0, 100, True), q("p002_q1", 200, 290, False)]
    recs["span"] = [{"qid": A, "span": "build", "start_us": 5, "end_us": 40},
                    {"qid": A, "span": "sink", "start_us": 40, "end_us": 99}]
    recs["job"] = [{"qid": A, "span": "build", "job": 0, "start_us": 20},
                   {"qid": A, "span": "sink", "job": 1, "start_us": 60}]
    recs["job_end"] = [{"job": 0, "end_us": 30}, {"job": 1, "end_us": 90}]
    recs["stage"] = [{"qid": A, "span": "sink", "tasks": 4, "run_ms": 1, "cpu_ns": 5,
                      "gc_ms": 0, "deser_ms": 1, "input_bytes": 10,
                      "shuffle_read_bytes": 7, "shuffle_write_bytes": 7,
                      "spill_bytes": 0}]
    recs["catalyst"] = [{"phase": "planning", "start_us": 42, "end_us": 62}]
    recs["qe"] = [{"at_us": 42}]
    recs["sql_start"] = [{"exec": 0, "at_us": 45}]
    recs["aqe"] = [{"exec": 0}]
    return recs


class Determinism(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_kaj_inputs(self):
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            datagen.kaj_tables(os.path.join(SCRATCH, name), seed, ROWS)
        a, b, c = (files(os.path.join(SCRATCH, n)) for n in "abc")
        self.assertEqual(sorted(a), sorted(f"{t}.{x}" for t in ROWS for x in ("det", "stat", "txt")))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        qa, qb, qc = (json.dumps(datagen.kaj_queries(s, ROWS, 3)) for s in (7, 7, 8))
        self.assertEqual(qa, qb)
        self.assertNotEqual(qa, qc)

    def test_registry_inputs(self):
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            datagen.registry_tables(os.path.join(SCRATCH, name), seed, 0.001)
        a, b, c = (files(os.path.join(SCRATCH, n)) for n in "abc")
        self.assertEqual(sorted(a), sorted(f"{t}.parquet" for t in check.oracle_gate().TABLES))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(datagen.pass_orders(7, run.RELATIONAL, 3),
                         datagen.pass_orders(7, run.RELATIONAL, 3))
        cold, *window = datagen.pass_orders(7, run.RELATIONAL, 3)
        self.assertEqual(cold, run.RELATIONAL)
        self.assertNotEqual(window[0], window[1])
        self.assertEqual(datagen.pass_orders(-7, run.RELATIONAL, 2)[0], run.RELATIONAL)


class Metrics(unittest.TestCase):
    def test_declared_metrics(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(e2e, dict(run.END_TO_END))
        self.assertEqual(layers, dict(run.PER_LAYER))
        self.assertLessEqual(set(NAMED_PER_LAYER), set(layers))

    def test_every_metric_emitted(self):
        recs = synthetic_records()
        recs["cold"] = [{"start_us": 0, "end_us": 10}]
        recs["window"] = [{"start_us": 0, "end_us": 290}]
        recs["rss"] = [{"peak_kb": 2048}]
        e2e, _ = run.end_to_end(recs)  # the run record's end-to-end figures
        self.assertLessEqual({n for n, _ in run.END_TO_END} | set(NAMED_END_TO_END), set(e2e))
        layers, _ = run.per_layer(recs, {A: 3})
        self.assertEqual(set(layers), {n for n, _ in run.PER_LAYER})

    def test_self_times_partition_wall(self):
        layers, info = run.per_layer(synthetic_records(), {})
        self.assertAlmostEqual(info["unattributed_share"], 0.06)
        self.assertAlmostEqual(layers["trace.overhead_frac"], 0.1)
        selfs = info["self_s_per_query"]
        # wall 100 us: jobs 10 + 30, planning 42-60 outside jobs 18,
        # build span 5-40 minus job 20-30 = 25, sink span self 40-42 and
        # 90-99 = 11, harness gaps 0-5 and 99-100 = 6
        expect = {"job": 40, "catalyst": 18, "build": 25, "sink": 11, "none": 6}
        for k, v in expect.items():
            self.assertAlmostEqual(selfs[k] * 1e6, v, places=6)
        self.assertAlmostEqual(layers["scheduler.driver_only_s"] * 1e6, 60, places=6)
        self.assertAlmostEqual(layers["queries.build_s"] * 1e6, 35, places=6)

    def test_traced_half_of_every_pass(self):
        keys = [f"q{i}" for i in range(10)]
        for p in (1, 2, 3):
            traced = [k for k in keys if run.traced_in_plan(p, k, keys)]
            self.assertEqual(len(traced), 5)
            self.assertNotEqual(traced, [k for k in keys if run.traced_in_plan(p + 1, k, keys)])
        self.assertFalse(any(run.traced_in_plan(0, k, keys) for k in keys))

    def test_tail_percentile(self):
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(12), 50)


class RegistryCheck(unittest.TestCase):
    def test_wrong_result_and_missing_oracle_are_rejected(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        data, results = os.path.join(SCRATCH, "data"), os.path.join(SCRATCH, "results")
        datagen.registry_tables(data, 3, 0.001)
        sql = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
        os.makedirs(results)
        with open(os.path.join(results, "oracle_sql.json"), "w") as f:
            json.dump({"qa": sql}, f)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                    f"read_parquet('{data}/nation.parquet')")

        def write(table):
            os.makedirs(os.path.join(results, "qa"), exist_ok=True)
            pq.write_table(table, os.path.join(results, "qa", "part-0.parquet"))
        right = con.execute(sql).arrow()
        write(right)
        self.assertEqual(check.check_registry(data, results, ["qa"]), [])
        self.assertEqual([n for n, _ in check.check_registry(data, results, ["qa", "qb"])],
                         ["qb"])
        write(right.slice(1))
        self.assertEqual([n for n, _ in check.check_registry(data, results, ["qa"])], ["qa"])


class DialectCheck(unittest.TestCase):
    def test_wrong_result_is_rejected(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        data, results = os.path.join(SCRATCH, "data"), os.path.join(SCRATCH, "results")
        datagen.kaj_tables(data, 3, ROWS)
        os.makedirs(results)
        q = next(x for x in datagen.kaj_queries(3, ROWS, 1) if x["shape"] == "q2_select")
        con = duckdb.connect()
        for stmt in datagen.kaj_duckdb_views(data):
            con.execute(stmt)
        cur = con.execute(q["duckdb"])
        rows = cur.fetchall()
        path = os.path.join(results, f"{q['id']}.out")

        def write(rs):
            with open(path, "w") as f:
                f.write("".join(d[0] + "  " for d in cur.description) + "\n")
                f.writelines("".join(f"{v}\t" for v in r) + "\n" for r in rs)
        write(rows)
        self.assertEqual(check.check_dialect(data, results, [q]), [])
        write(rows[:-1] + [(rows[-1][0], 1 - rows[-1][1], rows[-1][2])])
        self.assertEqual(len(check.check_dialect(data, results, [q])), 1)


if __name__ == "__main__":
    unittest.main()
