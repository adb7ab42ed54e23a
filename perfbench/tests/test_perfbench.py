"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a graft checkout. The normalizer-agreement test
builds the harness and starts one JVM (about a minute the first time);
the others are pure Python.
"""
import datetime
import decimal
import json
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import digest  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_enough_samples_gives_the_asked_percentile(self):
        xs = list(range(1, 201))  # 200 samples: p95 leaves exactly 10 above
        v, used, n = metrics.percentile(xs, 95)
        self.assertEqual((v, used, n), (190, 95.0, 200))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_few_samples_fall_back_to_the_highest_allowed(self):
        xs = list(range(1, 101))  # 100 samples: at most p90
        v, used, n = metrics.percentile(xs, 95)
        self.assertEqual((v, used, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_median_is_untouched_when_samples_suffice(self):
        v, used, _ = metrics.percentile([5, 1, 4, 2, 3] * 5, 50)
        self.assertEqual((v, used), (3, 50.0))

    def test_too_few_samples_report_nothing(self):
        self.assertEqual(metrics.percentile(list(range(10)), 50), (None, None, 10))

    def test_at_least_ten_beyond_for_any_size(self):
        for n in range(11, 400, 7):
            xs = [float(i) for i in range(n)]
            v, used, _ = metrics.percentile(xs, 95)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            self.assertLessEqual(used, 95.0)


def fixture_table():
    import pyarrow as pa
    return pa.table({
        "i64": pa.array([1, -2, None, 9007199254740993], pa.int64()),
        "i32": pa.array([7, 0, -3, 2], pa.int32()),
        "f64": pa.array([0.1, 1e-05, 123456789012.0, float("nan")], pa.float64()),
        "f32": pa.array([0.1, -2.5, 3e10, 1.0], pa.float32()),
        "s": pa.array(["plain", "it's", 'say "hi"', "tab\tnl\n é ✓ ​"], pa.string()),
        "dec": pa.array([decimal.Decimal("1.50"), decimal.Decimal("-0.01"),
                         decimal.Decimal("12345678.90"), None], pa.decimal128(18, 2)),
        "d": pa.array([datetime.date(1995, 3, 15), datetime.date(2024, 1, 1),
                       None, datetime.date(1970, 1, 1)], pa.date32()),
        "ts": pa.array([datetime.datetime(1998, 8, 2, 0, 0),
                        datetime.datetime(2024, 2, 29, 13, 5, 7, 250000),
                        datetime.datetime(2001, 1, 1, 0, 0, 0, 1), None],
                       pa.timestamp("us")),
        "b": pa.array([True, False, None, True], pa.bool_()),
        "lf": pa.array([[0.5, 0.1], [], None, [1e-07, 3.0]], pa.list_(pa.float32())),
        "li": pa.array([[1, 2], [3], [], None], pa.list_(pa.int64())),
    })


class DigestNormalizer(unittest.TestCase):
    def test_digest_ignores_row_order(self):
        tbl = fixture_table()
        self.assertEqual(digest.digest(tbl), digest.digest(tbl.take([3, 1, 0, 2])))

    @unittest.skipUnless(shutil.which("sbt") and shutil.which("java"), "needs sbt and java")
    def test_scala_normalizer_agrees_with_local_verify(self):
        import pyarrow.parquet as pq
        lv = digest.local_verify()
        tbl = fixture_table()
        os.makedirs(run.build_dir(), exist_ok=True)
        work = tempfile.mkdtemp(prefix="test-", dir=run.build_dir())
        try:
            path = os.path.join(work, "fixture.parquet")
            pq.write_table(tbl, path)
            cp = run.build(run.build_dir())
            args = type("A", (), {"workload": "curation", "seed": 1, "seconds": 0, "trace": 0})
            raw, log, err = run.run_harness(cp, args, work, time.time() + 300,
                                            mode="digest", data=path)
            self.assertIsNone(err, log)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        cols, rows = lv.table_key(tbl)
        self.assertEqual(raw["cols"], cols)
        self.assertEqual(sorted(tuple(r) for r in raw["rows"]), rows)
        self.assertEqual(raw["sha"], digest.digest(tbl)[0])


def batch_raw():
    q = {"name": "q_dedup_minhash", "family": "dedup", "memo_hits": 0, "memo_builds": 1,
         "construct_s": 0.2, "settle_s": 0.1, "action_s": 1.0, "rows": 3,
         "analysis_s": 0.05, "optimization_s": 0.02, "planning_s": 0.01, "ok": True}
    src = dict(q, name="q_arrow_roundtrip", family="sources", memo_builds=0)
    phases = [dict(name=n, wall_s=2.0, action_s=1.0, jobs=2, stages=3, tasks=8,
                   task_s=3.0, task_cpu_s=2.5, gc_s=0.1, input_mb=1.0,
                   shuffle_write_mb=0.5, shuffle_read_mb=0.5, spill_mb=0.0, skew=1.5)
              for n in ("cold0", "warm1")]
    return {"setup_s": 12.5, "attempted": 4, "failed": 0,
            "passes": [{"pass": 0, "kind": "cold", "wall_s": 3.0, "cached_mb": 1.0,
                        "queries": [q, src]},
                       {"pass": 1, "kind": "warm", "wall_s": 2.0, "cached_mb": 1.0,
                        "queries": [dict(q, memo_builds=0, memo_hits=1), src]}],
            "census": {"exchanges": 2, "reused_exchanges": 0, "scans": 2, "bnlj": 0,
                       "smj": 0, "bhj": 1},
            "phases": phases, "self_s": {"query": 0.1, "action": 1.0}}


def ingest_raw():
    return {"setup_s": 12.5, "attempted": 40, "failed": 0,
            "build_s": {"dedup": 5.0, "ann": 3.0, "bm25": 2.0},
            "rounds": [{"round": 0, "refresh_s": [4.0, 3.0], "loop_s": [1.0, 1.1, 0.9],
                        "hit_s": [0.06] * 30, "docs": 250, "batch_s": 10.0}],
            "progress": [{"rows_in": 250, "trigger_s": 9.0, "add_batch_s": 8.5,
                          "planning_s": 0.05, "commit_s": 0.2}],
            "stream_docs": 250, "rows_clean": 175, "server_hits": 30,
            "server_builds": 2, "index_files": 900, "index_mb": 1.0,
            "census": {}, "phases": [], "self_s": {}}


class MetricsEmitted(unittest.TestCase):
    def spec(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return json.load(fh)

    def test_every_named_metric_is_produced_with_its_unit(self):
        spec = self.spec()
        for raw in (batch_raw(), ingest_raw()):
            e2e = metrics.end_to_end(raw)
            layer = metrics.per_layer(raw, cores=4)
            for m in spec["end_to_end"]:
                self.assertIn(m["name"], e2e)
                self.assertGreater(e2e[m["name"]], 0, m["name"])
            for m in spec["per_layer"]:
                self.assertIn(m["name"], layer)
                self.assertIsInstance(layer[m["name"]], (int, float), m["name"])
            for kind in ("end_to_end", "per_layer"):
                units = run.unit_map(kind)
                self.assertEqual(set(units), {m["name"] for m in spec[kind]})
                self.assertTrue(all(units.values()))

    def test_spec_matches_the_contract_shape(self):
        spec = self.spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(spec["per_layer"]), 128)
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_setup_is_the_one_set_up_of_the_run(self):
        self.assertEqual(metrics.end_to_end(batch_raw())["setup_s"], 12.5)


if __name__ == "__main__":
    unittest.main()
