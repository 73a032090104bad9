"""Tests of tools/jfr_driver.py on synthetic `jfr print --json` dumps.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import unittest

import jfr_driver


def sample(t, frames, thread="main"):
    return {"type": "jdk.ExecutionSample", "values": {
        "startTime": t,
        "sampledThread": {"javaName": thread, "osName": thread},
        "stackTrace": {"truncated": False, "frames": [
            {"method": {"type": {"name": cls.replace(".", "/")}, "name": m}}
            for cls, m in frames]}}}


CRAWL = ("graft.streaming.CrawlTopology$", "crawlOnce")
EXPLAIN = ("org.apache.spark.sql.execution.QueryExecution", "explainString")
LOOKUP = ("org.apache.spark.sql.execution.CacheManager", "lookupCachedData")
ANALYZE = ("org.apache.spark.sql.catalyst.analysis.Analyzer", "execute")
LIST = ("org.apache.spark.sql.execution.datasources.InMemoryFileIndex", "refresh0")


def doc(*events):
    return {"recording": {"events": list(events)}}


class AttributeTest(unittest.TestCase):
    def test_first_matching_category_wins_and_the_rest_is_other(self):
        d = doc(
            sample("2026-01-01T00:00:01.000000001Z", [EXPLAIN, LOOKUP, CRAWL]),
            sample("2026-01-01T00:00:02Z", [LOOKUP, ANALYZE, CRAWL]),
            sample("2026-01-01T00:00:03Z", [LIST, ANALYZE, CRAWL]),
            sample("2026-01-01T00:00:04Z", [ANALYZE, CRAWL]),
            sample("2026-01-01T00:00:05Z", [("java.lang.Object", "wait"), CRAWL]),
            {"type": "jdk.GCPhasePause", "values": {}})
        c = jfr_driver.attribute(d)
        self.assertEqual(
            [c["plan strings"], c["cache lookup"], c["file listing"],
             c["analysis"], c["other"]], [1, 1, 1, 1, 1])

    def test_thread_window_and_under_filters(self):
        d = doc(
            sample("2026-01-01T00:00:01Z", [EXPLAIN, CRAWL]),
            sample("2026-01-01T00:00:02Z", [EXPLAIN, CRAWL], thread="worker"),
            sample("2026-01-01T00:00:09Z", [EXPLAIN, CRAWL]),
            sample("2026-01-01T00:00:03Z", [EXPLAIN]))
        t = jfr_driver.parse_time
        self.assertEqual(sum(jfr_driver.attribute(d).values()), 3)
        self.assertEqual(sum(jfr_driver.attribute(
            d, start=t("2026-01-01T00:00:00Z"), end=t("2026-01-01T00:00:05Z")).values()), 2)
        self.assertEqual(sum(jfr_driver.attribute(d, under="crawlOnce").values()), 2)


if __name__ == "__main__":
    unittest.main()
