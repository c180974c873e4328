"""Self-tests for the benchmark.

    python3 perfbench/test_perfbench.py            # all, incl. the engine check
    python3 perfbench/test_perfbench.py -k Metrics # the fast ones only

The engine check builds the benchmark (first time only) and runs the
`selftest` workload: the expected-answer model must agree with the engine
on every operation over a tiny fixture.
"""

import json
import math
import os
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def fake_raw(trace):
    ops = [{"kind": k, "ms": 100.0 + i, "ok": True, "group": i}
           for i, k in enumerate(["gene_filter", "gene_pull", "id_pull", "region"] * 30)]
    raw = {"workload": "lookup", "seed": 1, "trace": trace, "setup_s": [9.0, 5.0, 6.0],
           "build_s": [8.0, 4.0, 4.5], "window_s": 10.0, "ops": ops,
           "store_bytes": 900, "input_bytes": 1000, "genes": 10, "max_gene": 40,
           "peak_rss_mb": 1500.0, "attempted": len(ops) + 3, "failed": 0,
           "failure_notes": []}
    if trace:
        layers = {"vcf.VcfReader.parse_s": [0.7], "vcf.VcfBuild.withVariantIds_s": [1.2],
                  "vcf.VcfTables.write.variant_info_s": [2.0, 2.2],
                  "vcf.VcfTables.write.variant_impact_s": [0.5],
                  "vcf.VcfTables.write.variant_geno_s": [1.0],
                  "vcf.VcfTables.write.output_bytes": [600000.0],
                  "vcf.VcfApi.buildGeneIndex_s": [0.8],
                  "vcf.VcfReader.readRange.partitions": [1.0, 2.0, 1.0]}
        trace_row = {"kind": "gene_filter", "wall_ms": 120.0, "plan_ms": 10.0,
                     "sched_wait_ms": 5.0, "exec_ms": 80.0, "tasks": 4.0,
                     "bytes_read": 1000.0, "records_read": 200.0, "rows_returned": 4,
                     "shuffle_write_bytes": 100.0, "spill_bytes": 0.0, "gc_ms": 1.0}
        build_row = dict(trace_row, kind="probe.build", shuffle_write_bytes=5e6)
        raw.update(traced_ops=ops[:50], traced_window_s=5.0, layers=layers,
                   op_traces=[trace_row, build_row], trace_file="t.jsonl")
    return raw


class PercentileTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([7]), 7)

    def test_matches_statistics_inclusive_quartiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertEqual([metrics.percentile(xs, p) for p in (25, 50, 75)], q)

    def test_p90_interpolates(self):
        self.assertAlmostEqual(metrics.percentile(range(1, 12), 90), 10.0)
        self.assertAlmostEqual(metrics.percentile([0, 10], 90), 9.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(99), 50)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        for n in range(1, 3000, 37):
            p = metrics.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(n * (100 - p) / 100.0, 10)

    def test_failed_op_reads_as_missing_the_limit(self):
        ops = [{"ms": 5.0, "ok": True}, {"ms": 7.0, "ok": False}]
        self.assertEqual(metrics.latencies(ops, window_s=2.0), [5.0, 2000.0])


class MetricsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def check_names(self, trace, listed):
        res = metrics.result(fake_raw(trace), trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in listed}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, want)
        for name, v in res["metrics"].items():
            self.assertTrue(isinstance(v["value"], float) and math.isfinite(v["value"]), name)
        json.loads(json.dumps(res, allow_nan=False))

    def test_untraced_output_names_every_end_to_end_metric(self):
        self.check_names(False, self.bench["end_to_end"])

    def test_traced_output_names_every_per_layer_metric(self):
        self.check_names(True, self.bench["per_layer"])

    def test_benchmark_json_lists_the_workloads_run_py_accepts(self):
        import run
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertTrue(set(names) <= set(run.WORKLOADS))
        self.assertEqual(self.bench["command"], ["python3", "perfbench/run.py"])

    def test_end_to_end_values(self):
        e = metrics.end_to_end(fake_raw(False))
        self.assertEqual(e["setup_s"], 6.0)
        self.assertEqual(e["build_s"], 4.5)
        # per-kind medians 158, 159, 160, 161
        self.assertEqual(e["kind_p50_sum_ms"], 638.0)
        self.assertEqual(e["store_bytes_per_input_byte"], 0.9)

    def test_an_operation_is_its_group(self):
        ops = [{"ms": 1.0, "ok": True, "group": 1}, {"ms": 2.0, "ok": True, "group": 1},
               {"ms": 5.0, "ok": False, "group": 2}]
        ms, ok = metrics.operations(ops, window_s=0.001)
        self.assertEqual(sorted(ms), [3.0, 5.0])
        self.assertEqual(ok, 1)

    def test_kind_p50_sum_adds_each_kinds_median(self):
        ops = [{"kind": "a", "ms": m, "ok": True} for m in (1.0, 2.0, 9.0)] + \
              [{"kind": "b", "ms": 10.0, "ok": True}, {"kind": "b", "ms": 1.0, "ok": False}]
        self.assertEqual(metrics.kind_p50_sum(ops, window_s=1.0), 2.0 + 505.0)

    def test_failures_make_the_run_incorrect(self):
        raw = fake_raw(False)
        raw["failed"] = 2
        res = metrics.result(raw, False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 2)


class EngineTest(unittest.TestCase):
    def test_model_agrees_with_engine_on_tiny_fixture(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", "selftest", "--seed", "3", "--seconds", "1"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=1200)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(res["failed"], 0, res.get("failure_notes"))
        self.assertGreater(res["attempted"], 50)
        self.assertEqual(p.returncode, 0)


if __name__ == "__main__":
    unittest.main()
