"""Tests of the benchmark itself: python3 -m unittest discover -s perfbench/tests -v

The harness tests start the benchmark JVM on a few queries (under a minute).
"""
import statistics
import sys
import time
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import rollup  # noqa: E402
import run as bench  # noqa: E402

# Read-only SQL, an LLM kernel, a catalog lifecycle, and q217, the known failure.
PROBES = ["q01_pricing_summary", "q53_scalar_subquery", "q34_minhash_lsh",
          "q241_catalog_write", "q217_feature_assembly"]
# Listener job times have millisecond grain, so each job's two edges can be
# off by 1 ms each: no part of the split may be negative by more than that.
SPLIT_TOLERANCE_S = 0.002


class OrderTest(unittest.TestCase):
    def test_seeded_order_is_deterministic(self):
        for w, qs in bench.load_workloads().items():
            a = bench.timed_order(w, qs, 7, 30)
            self.assertEqual(a, bench.timed_order(w, qs, 7, 30))
            self.assertEqual(len(a), len(set(a)))
            self.assertNotEqual(a, bench.timed_order(w, qs, 7 + bench.shard_count(qs, 30), 30))

    def test_shards_cover_each_workload_once(self):
        for w, qs in bench.load_workloads().items():
            k = bench.shard_count(qs, 30)
            shards = bench.shards(qs, k)
            names = [q for s in shards for q, _ in s]
            self.assertEqual(sorted(names), sorted(q for q, _ in qs))
            self.assertLessEqual(max(map(len, shards)) - min(map(len, shards)), 1)

    def test_shards_agree_in_total_and_median(self):
        for w, qs in bench.load_workloads().items():
            shards = bench.shards(qs, bench.shard_count(qs, 30))
            totals = [sum(c for _, c in s) for s in shards]
            medians = [statistics.median(c for _, c in s) for s in shards]
            self.assertLess(max(totals) / min(totals), 1.05, w)
            self.assertLess(max(medians) / min(medians), 1.05, w)

    def test_median_latency_follows_latency_not_shard(self):
        qs = bench.load_workloads()["lake-lifecycle"]
        ref = dict(qs)
        for shard in bench.shards(qs, bench.shard_count(qs, 30)):
            # every query 30% slower than its reference cost
            timed = [{"name": q, "start": 0, "end": int(1.3 * c * 1e9)} for q, c in shard]
            self.assertAlmostEqual(rollup.median_latency(timed, ref),
                                   1.3 * statistics.median(ref.values()), places=6)

    def test_every_expected_digest_has_a_workload(self):
        listed = {q for qs in bench.load_workloads().values() for q, _ in qs}
        self.assertEqual(listed, set(bench.load_expected()))


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = build.build()
        cls.runs = build.build_dir() / "tests"
        cls.runs.mkdir(parents=True, exist_ok=True)
        workloads = bench.load_workloads()
        cls.all = cls.runs / "workloads.tsv"
        cls.all.write_text("".join(f"{q}\t{w}\n" for w, qs in workloads.items() for q, _ in qs))
        (cls.runs / "empty.txt").write_text("")
        (cls.runs / "order.txt").write_text("\n".join(PROBES + PROBES) + "\n")
        cls.out = cls.harness("probe", cls.all, trace=1)
        cls.queries = rollup.read_queries(cls.out)

    @classmethod
    def harness(cls, tag, workloads, trace):
        return bench.launch(cls.classes, cls.runs / tag, {
            "sf": bench.SF_DIR, "cpus": bench.CPUS, "warmup": cls.runs / "empty.txt",
            "prewarm": 0, "workloads": workloads, "trace": trace, "seconds": 600,
            "order": cls.runs / "order.txt",
        }, bench.DELAY_US, time.monotonic() + 600)

    def test_digest_is_identical_across_two_runs(self):
        expected = bench.load_expected()
        runs = {}
        for q in self.queries:
            runs.setdefault(q["name"], []).append(q["digest"] or q["error"].split(":")[0])
            self.assertIn(rollup.check(q, expected), ("ok", "known"), q["name"])
        for name in PROBES:
            first, second = runs[name]
            self.assertEqual(first, second, name)

    def test_traced_split_adds_up(self):
        layers = rollup.per_query_layers(self.out, self.queries)
        for q in self.queries:
            m = layers[q["seq"]]
            wall = (q["end"] - q["start"]) / 1e9
            parts = [m["catalyst.plan_s"], m["exec.job_busy_s"], m["driver.gap_s"]]
            self.assertAlmostEqual(sum(parts), wall, delta=1e-9)
            jobs = m["exec.jobs"]
            for p in parts:
                self.assertGreaterEqual(p, -SPLIT_TOLERANCE_S * max(1, jobs), q["name"])
            self.assertGreater(jobs, 0, q["name"])

    def test_rgw_model_is_the_file_system_in_use(self):
        self.assertEqual(rollup.read_summary(self.out)["fs_class"],
                         "perfbench.RgwModelFileSystem")
        layers = rollup.per_layer(self.out, self.queries)
        self.assertGreater(layers["fs.open.calls"], 0)
        lake = [q for q in self.queries if q["name"] == "q241_catalog_write"]
        per_query = rollup.per_query_layers(self.out, lake)
        self.assertTrue(all(m["fs.create.calls"] > 0 for m in per_query.values()))

    def test_harness_refuses_a_bad_workload_list(self):
        lines = self.all.read_text().splitlines()
        for tag, bad in (("missing", lines[1:]), ("twice", lines + lines[:1])):
            path = self.runs / f"{tag}.tsv"
            path.write_text("\n".join(bad) + "\n")
            with self.assertRaises(SystemExit):
                self.harness(tag, path, trace=0)


if __name__ == "__main__":
    unittest.main()
