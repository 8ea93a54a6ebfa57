"""The benchmark's own tests (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import json
import os
import shutil
import tempfile
import unittest

import check
import gen
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scratch():
    d = os.path.join(ROOT, ".bench_work")
    os.makedirs(d, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=d)


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = _scratch()

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _tree(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            a, b = os.path.join(self.tmp, w, "a"), os.path.join(self.tmp, w, "b")
            gen.generate(w, 5, a)
            gen.generate(w, 5, b)
            files = self._tree(a)
            self.assertEqual(files, self._tree(b), w)
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_other_bytes_same_shape(self):
        for w in ("etl_batch", "cdc_upsert"):
            a, b = os.path.join(self.tmp, w, "a"), os.path.join(self.tmp, w, "b")
            gen.generate(w, 5, a)
            gen.generate(w, 6, b)
            files = self._tree(a)
            self.assertEqual(files, self._tree(b), w)
            _, mismatch, _ = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertTrue(mismatch, w)

    def test_taxi_injected_counts_are_exact(self):
        out = os.path.join(self.tmp, "taxi")
        gen.generate("etl_batch", 9, out)
        truth = json.load(open(os.path.join(out, "truth.json")))
        inj = truth["injected"]
        n = sum(gen.TAXI_ROWS.values()) * len(gen.TAXI_MONTHS)
        self.assertEqual(inj["raw_rows"], n + inj["duplicated_rows"])
        self.assertEqual(truth["expected_violations"]["between_extra"],
                         inj["extra_out_of_range"])
        self.assertGreater(inj["null_rows"], 0)

    def test_cdc_redelivers_one_batch(self):
        out = os.path.join(self.tmp, "cdc")
        gen.generate("cdc_upsert", 9, out)
        with open(os.path.join(out, "deliveries.tsv")) as f:
            ids = [line.split("\t")[0] for line in f]
        self.assertEqual(len(ids), gen.CDC_BATCHES + 1)
        self.assertEqual(ids.count(str(gen.CDC_REDELIVERED)), 2)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for k in ("end_to_end", "per_layer"):
            for m in self.bench[k]:
                self.assertTrue(stats.valid_unit(m["unit"]), m)
        self.assertFalse(stats.valid_name("bad name"))
        self.assertFalse(stats.valid_name(".leading"))
        self.assertFalse(stats.valid_name("x" * 65))

    def test_end_to_end_metrics_match_the_runner(self):
        result = {"ops": [{"ms": 10.0, "ok": True}], "session_s": 1.0, "cold_op_s": 1.0,
                  "setup_reps_s": [1.0], "heap_peak_mb": 100.0}
        metrics, _, _ = stats.end_to_end(result, [True])
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in metrics.items()}, declared)
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


class FailureCounting(unittest.TestCase):
    def _result(self, oks):
        return {"ops": [{"ms": 10.0 + i, "ok": ok} for i, ok in enumerate(oks)],
                "session_s": 2.0, "cold_op_s": 3.0, "setup_reps_s": [1.0, 4.0, 2.0],
                "heap_peak_mb": 50.0}

    def test_exceptions_and_wrong_results_both_fail(self):
        r = self._result([True, False, True, True])
        attempted, failed = stats.count_failures(r["ops"], [True, True, False, True])
        self.assertEqual((attempted, failed), (4, 2))

    def test_ok_frac_and_latency_use_passing_ops(self):
        r = self._result([True, True, False, True])
        metrics, attempted, failed = stats.end_to_end(r, [True, True, True, False])
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(metrics["ok_frac"][0], 0.5)
        self.assertEqual(metrics["op_p50_ms"][0], 10.5)
        self.assertEqual(metrics["setup_s"][0], 2.0 + 3.0 + 2.0)

    def test_corpus_check_flags_a_kept_copy(self):
        tmp = _scratch()
        try:
            with open(os.path.join(tmp, "truth.json"), "w") as f:
                json.dump({"kinds": ["original", "original", "exact_dup", "near_dup", "short"]}, f)
            good = [0, 1]
            ops = [{"check": {"ids_md5": check.ids_md5(good)}}]
            ok, _ = check.check_corpus(tmp, {"ops": ops, "finish": {"kept_ids": good}})
            self.assertEqual(ok, [True])
            bad = [0, 1, 2]
            ops = [{"check": {"ids_md5": check.ids_md5(bad)}}]
            ok, _ = check.check_corpus(tmp, {"ops": ops, "finish": {"kept_ids": bad}})
            self.assertEqual(ok, [False])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
