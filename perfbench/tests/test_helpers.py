"""Self-tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import feedgen  # noqa: E402
import metrics  # noqa: E402
import tpchgen  # noqa: E402

# Call site of a harmonize-phase write, as Spark records it (innermost first).
HARMONIZE_WRITE = """\
graft.storage.VersionedTable.commit(VersionedTable.scala:1122)
graft.storage.VersionedTable.overwritePartitions(VersionedTable.scala:640)
graft.operators.MergeInto$.apply(MergeInto.scala:210)
graft.co2.Co2Pipeline.$anonfun$harmonize$1(Co2Pipeline.scala:120)
graft.co2.Co2Pipeline.withScaledResources(Co2Pipeline.scala:66)
graft.co2.Co2Pipeline.harmonize(Co2Pipeline.scala:116)
graft.co2.Co2Pipeline.runPipeline(Co2Pipeline.scala:222)
perfbench.Co2Ops.timedRun(Harness.scala:228)"""

# An analytics merge runs on a Future thread: no runPipeline frame.
ANALYTICS_FUTURE = """\
graft.operators.MergeInto$.apply(MergeInto.scala:190)
graft.co2.Co2Pipeline.$anonfun$analytics$4(Co2Pipeline.scala:196)
graft.co2.Co2Pipeline.withScaledResources(Co2Pipeline.scala:66)
graft.co2.Co2Pipeline.$anonfun$analytics$3(Co2Pipeline.scala:196)
scala.concurrent.Future$.$anonfun$apply$1(Future.scala:687)
java.base/java.util.concurrent.ForkJoinWorkerThread.run(ForkJoinWorkerThread.java:165)"""

LOAD_PUBLISH = """\
app//graft.storage.VersionedTable.append(VersionedTable.scala:597)
app//graft.changefeed.ChangeFeed.publish(ChangeFeed.scala:90)
app//graft.co2.Co2Pipeline.ingest(Co2Pipeline.scala:84)
app//graft.co2.Co2Pipeline.load(Co2Pipeline.scala:40)
app//graft.co2.Co2Pipeline.runPipeline(Co2Pipeline.scala:217)"""

RUN_LOG = """\
graft.storage.VersionedTable.append(VersionedTable.scala:597)
graft.co2.Co2Pipeline.runPipeline(Co2Pipeline.scala:229)
perfbench.Co2Ops.timedRun(Harness.scala:228)"""

CATALOG = """\
graft.operators.OrderedLag$.byDate(OrderedLag.scala:40)
graft.Queries$.q10EventLag(Queries.scala:150)
perfbench.Catalog.query(Catalog.scala:27)"""


class PercentileRule(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_needs_ten_beyond(self):
        # 20 samples: p50 is rank 10, leaving exactly 10 beyond it
        self.assertEqual(metrics.tail_percentile(list(range(1, 21))), (50, 10))
        # 40 samples: p75 is rank 30 with 10 beyond; p80 would leave 8
        self.assertEqual(metrics.tail_percentile(list(range(1, 41))), (75, 30))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_every_reported_percentile_keeps_ten_beyond(self):
        for n in range(1, 300, 7):
            got = metrics.tail_percentile(list(range(n)))
            if got is not None:
                p, v = got
                self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)


class CallSiteLayers(unittest.TestCase):
    def test_phase(self):
        self.assertEqual(metrics.phase_of(HARMONIZE_WRITE), "harmonize")
        self.assertEqual(metrics.phase_of(ANALYTICS_FUTURE), "analytics")
        self.assertEqual(metrics.phase_of(LOAD_PUBLISH), "load")
        self.assertEqual(metrics.phase_of(RUN_LOG), "runlog")
        self.assertIsNone(metrics.phase_of(CATALOG))
        self.assertIsNone(metrics.phase_of(""))

    def test_modules(self):
        self.assertEqual(metrics.modules_of(HARMONIZE_WRITE), {"storage", "operators", "co2"})
        self.assertEqual(metrics.modules_of(LOAD_PUBLISH), {"storage", "changefeed", "co2"})
        self.assertEqual(metrics.modules_of(CATALOG), {"operators", "catalog"})

    def test_frames(self):
        self.assertTrue(metrics.has_frame(ANALYTICS_FUTURE, "graft.operators.MergeInto"))
        self.assertFalse(metrics.has_frame(RUN_LOG, "graft.operators.MergeInto"))
        self.assertEqual(metrics.frames(LOAD_PUBLISH)[0], "graft.storage.VersionedTable.append")

    def test_read_p50_is_median_of_kind_medians(self):
        reads = [{"name": n, "s": v} for n, vs in
                 (("a", [1.0, 1.1, 9.0]), ("b", [2.0, 2.2]), ("c", [3.0, 3.3, 3.1])) for v in vs]
        self.assertEqual(metrics.read_p50(reads), 2.1)

    def test_covered(self):
        self.assertEqual(metrics.covered_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(metrics.covered_ms([]), 0)


def _job(i, t0, t1, site, **kw):
    j = {"type": "job", "id": i, "submit_ms": t0, "end_ms": t1, "stages": 1, "tasks": 4, "run_ms": 100, "cpu_ns": 5e7, "gc_ms": 1,
         "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0, "output_b": 0,
         "max_task_ms": 30, "site": site}
    j.update(kw)
    return j


# one traced cdc day: a run over [0, 1000] ms with one job per phase, then a read
DAY = [
    {"type": "setup", "setup_s": 30.0, "setup_codegen_compiles": 10, "setup_codegen_compile_s": 1.0},
    {"type": "op", "kind": "cdc_run", "unit": 1, "t0_ms": 0, "t1_ms": 1000,
     "s": 1.0, "loaded": 1, "consumed": 1, "storage": {"commits": 7, "files": 9, "bytes": 2**20}},
    _job(1, 10, 200, LOAD_PUBLISH, output_b=10),
    _job(2, 300, 600, HARMONIZE_WRITE, output_b=10),
    _job(3, 650, 900, ANALYTICS_FUTURE),
    _job(4, 950, 990, RUN_LOG, output_b=10),
    {"type": "read", "name": "stream", "unit": 1, "t0_ms": 1010, "t1_ms": 1100,
     "plan_s": 0.01, "exec_s": 0.08, "s": 0.09},
    _job(5, 1020, 1090, "perfbench.Co2Ops.reads(Harness.scala:200)"),
    {"type": "end", "heap_peak_mb": 500.0, "codegen_compiles": 30, "codegen_compile_s": 2.0},
]


class LayerMetrics(unittest.TestCase):
    def test_phase_split(self):
        m = metrics.per_layer([dict(r) for r in DAY], cores=4)
        self.assertEqual([m[f"co2.{p}_s"][0] for p in ("load", "harmonize", "analytics")], [0.2, 0.4, 0.3])
        self.assertEqual([m[f"co2.{p}_jobs"][0] for p in metrics.PHASES], [1, 1, 1, 1])
        self.assertAlmostEqual(m["co2.driver_s"][0], 0.22)  # 10 + 100 + 50 + 60 ms
        self.assertEqual(m["co2.unattributed_jobs"][0], 0)
        self.assertEqual(m["storage.jobs"][0], 3)
        self.assertEqual(m["operators.merge_jobs"][0], 2)
        self.assertEqual(m["sql.jobs_per_read"][0], 1)
        self.assertEqual(m["spark.jobs"][0], 5)  # the day's run and its read
        self.assertEqual(m["spark.codegen_compiles"][0], 20)
        self.assertAlmostEqual(m["spark.slot_util"][0], 0.5 / (1.09 * 4))

    def test_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        layer = metrics.per_layer([dict(r) for r in DAY], cores=4)
        self.assertEqual({k: u for k, (_, u) in layer.items()},
                         {m["name"]: m["unit"] for m in spec["per_layer"]})
        e2e, _ = metrics.end_to_end([dict(r) for r in DAY])
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in spec["end_to_end"]})


class Generators(unittest.TestCase):
    def test_feed_is_deterministic(self):
        a = feedgen.feed_text(feedgen.feed_rows(7))
        self.assertEqual(a, feedgen.feed_text(feedgen.feed_rows(7)))
        self.assertNotEqual(a, feedgen.feed_text(feedgen.feed_rows(8)))

    def test_feed_shape(self):
        rows = feedgen.feed_rows(3, last=datetime.date(1975, 12, 31))
        days = 730
        self.assertLess(len(rows), days)  # gap days have no line
        self.assertGreater(len(rows), days * 0.75)
        dates = [d for d, _ in rows]
        self.assertEqual(dates, sorted(set(dates)))
        f = rows[0][1].split()
        self.assertEqual(len(f), 5)
        self.assertEqual((int(f[0]), int(f[1]), int(f[2])), (dates[0].year, dates[0].month, dates[0].day))

    def test_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            tpchgen.write(5, a)
            tpchgen.write(5, b)
            for name in sorted(os.listdir(a)):
                with open(os.path.join(a, name), "rb") as x, open(os.path.join(b, name), "rb") as y:
                    self.assertEqual(x.read(), y.read(), name)


if __name__ == "__main__":
    unittest.main()
