"""Unit tests of tools/jfr_perfbench.py's sample selection.

Run from the repository root: python3 -m unittest tools/test_jfr_perfbench.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import jfr_perfbench as jp  # noqa: E402


def sample(start, stack=(), thread="Executor task launch worker for task 12.0 in stage 3.0"):
    return {"values": {"startTime": start, "sampledThread": {"javaName": thread},
                       "stackTrace": {"frames": [{"method": {"type": {"name": t}, "name": m}}
                                                 for t, m in stack]}}}


def alloc(start, weight, stack=()):
    ev = sample(start, stack)
    ev["values"]["weight"] = weight
    return ev


class WindowTest(unittest.TestCase):
    def test_epoch_ms_reads_nanoseconds_and_zones(self):
        self.assertAlmostEqual(jp.epoch_ms("1970-01-01T00:00:01.500000001Z"), 1500.000001, places=5)
        self.assertEqual(jp.epoch_ms("1970-01-01T01:00:02+01:00"), 2000.0)
        with self.assertRaises(ValueError):
            jp.epoch_ms("yesterday")

    def test_window_keeps_only_samples_between_start_and_stop(self):
        starts = ["1970-01-01T00:00:00.999Z", "1970-01-01T00:00:01Z", "1970-01-01T00:00:01.5Z",
                  "1970-01-01T00:00:02.000Z", "1970-01-01T00:00:02.001Z"]
        kept = jp.in_window([sample(s) for s in starts], 1000, 2000)
        self.assertEqual([e["values"]["startTime"] for e in kept], starts[1:4])

    def test_inclusive_counts_a_frame_anywhere_on_the_stack_once(self):
        parse = ("org/apache/spark/sql/catalyst/expressions/JsonToStructs", "eval")
        samples = [sample("1970-01-01T00:00:01Z", [("java/util/zip/ZipFile", "read")]),
                   sample("1970-01-01T00:00:01Z", [("com/fasterxml/jackson/Parser", "next"), parse]),
                   sample("1970-01-01T00:00:01Z", [parse, parse])]
        counts = jp.inclusive(samples, ["JsonToStructs", "ZipFile", "Nowhere"])
        self.assertEqual(counts, {"JsonToStructs": 2, "ZipFile": 1, "Nowhere": 0})

    def test_thread_kind_folds_sampled_thread_numbers(self):
        self.assertEqual(jp.thread_kind(sample("1970-01-01T00:00:01Z")),
                         "Executor task launch worker for task N.N in stage N.N")



class AllocTest(unittest.TestCase):
    def test_alloc_weight_sums_by_top_frame_and_by_frame_on_the_stack(self):
        copy = ("java/util/Arrays", "copyOf")
        parse = ("org/apache/spark/sql/catalyst/expressions/JsonToStructs", "eval")
        write = ("org/apache/spark/sql/execution/datasources/FileFormatWriter", "write")
        t = "1970-01-01T00:00:01Z"
        samples = [alloc(t, 100, [copy, parse]), alloc(t, 40, [copy, write]),
                   alloc(t, 7, [parse, parse]), alloc(t, 3, []), alloc(t, None, [copy])]
        total, by_top, by_pattern = jp.alloc_weight(samples, ["JsonToStructs", "Writer", "Nowhere"])
        self.assertEqual(total, 150)
        self.assertEqual(by_top, {"java.util.Arrays.copyOf": 140,
                                  "org.apache.spark.sql.catalyst.expressions.JsonToStructs.eval": 7,
                                  "?": 3})
        self.assertEqual(by_pattern, {"JsonToStructs": 107, "Writer": 40, "Nowhere": 0})


class WaitsTest(unittest.TestCase):
    def test_task_waits_sum_task_threads_by_event_and_first_spark_frame(self):
        lock = [("java/lang/Object", "wait"), ("org/apache/spark/util/KeyLock", "acquireLock"),
                ("org/apache/spark/sql/catalyst/expressions/codegen/CodeGenerator$", "compile")]
        park = [("jdk/internal/misc/Unsafe", "park"),
                ("org/apache/spark/storage/ShuffleBlockFetcherIterator", "next")]

        def wait(kind, duration, stack, thread="Executor task launch worker for task 3.0 in stage 7.0"):
            ev = sample("1970-01-01T00:00:01Z", stack, thread)
            ev["type"], ev["values"]["duration"] = kind, duration
            ev["values"]["eventThread"] = ev["values"].pop("sampledThread")
            return ev

        events = [wait("jdk.JavaMonitorWait", "PT0.025S", lock),
                  wait("jdk.JavaMonitorWait", "PT0.0105S", lock),
                  wait("jdk.ThreadPark", "PT0.5S", park),
                  wait("jdk.ThreadPark", "PT0.012S", [("java/lang/Thread", "sleep")]),
                  wait("jdk.JavaMonitorWait", "PT3S", lock, thread="stream execution thread for q")]
        waits = jp.task_waits(events)
        self.assertEqual(set(waits), {"JavaMonitorWait org.apache.spark.util.KeyLock.acquireLock",
                                      "ThreadPark org.apache.spark.storage.ShuffleBlockFetcherIterator.next",
                                      "ThreadPark ?"})
        self.assertAlmostEqual(waits["JavaMonitorWait org.apache.spark.util.KeyLock.acquireLock"], 35.5)
        self.assertAlmostEqual(
            waits["ThreadPark org.apache.spark.storage.ShuffleBlockFetcherIterator.next"], 500.0)
        self.assertAlmostEqual(waits["ThreadPark ?"], 12.0)


if __name__ == "__main__":
    unittest.main()
