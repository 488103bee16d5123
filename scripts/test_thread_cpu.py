"""Unit tests for thread_cpu.py on canned /proc/<pid>/task/<tid>/stat lines."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import thread_cpu  # noqa: E402


def stat(tid, name, utime, stime):
    """A stat line as the kernel writes it; utime and stime are fields 14, 15."""
    rest = ["S", "1", "1", "1", "0", "-1", "4194368", "10", "0", "0", "0",
            str(utime), str(stime), "0", "0", "20", "0", "40", "0", "12345"]
    return f"{tid} ({name}) " + " ".join(rest) + "\n"


def snap(*lines):
    """A sample as `thread_cpu.sample` returns it: {tid: (name, ticks)}."""
    return {tid: (name, ticks) for tid, name, ticks in map(thread_cpu.parse_stat, lines)}


class ParseStat(unittest.TestCase):
    def test_reads_tid_name_and_ticks(self):
        self.assertEqual(thread_cpu.parse_stat(stat(4242, "C2 CompilerThre", 700, 45)),
                         (4242, "C2 CompilerThre", 745))

    def test_name_with_spaces_and_parentheses(self):
        line = stat(7, "Executor task l", 1, 2).replace(
            "(Executor task l)", "(odd (name) x)")
        self.assertEqual(thread_cpu.parse_stat(line), (7, "odd (name) x", 3))


class Classify(unittest.TestCase):
    def test_jvm_and_spark_thread_names(self):
        cases = {
            "C1 CompilerThre": "jit", "C2 CompilerThre": "jit",
            "Executor task l": "executor",
            "main": "driver", "java": "driver",
            "pool-3-thread-1": "http", "HTTP-Dispatcher": "http",
            "GC Thread#0": "gc", "G1 Conc#0": "gc", "G1 Refine#0": "gc",
            "dag-scheduler-e": "scheduler", "task-result-get": "scheduler",
            "shuffle-boss-6-": "scheduler", "dispatcher-event": "scheduler",
            "spark-listener-": "scheduler",
            "VM Thread": "other", "Signal Dispatch": "other",
        }
        for name, cls in cases.items():
            self.assertEqual(thread_cpu.classify(name), cls, name)


class Aggregate(unittest.TestCase):
    def test_keeps_each_threads_last_count_and_sums_per_class(self):
        first = snap(stat(1, "C2 CompilerThre", 100, 0),
                     stat(2, "Executor task l", 50, 50), stat(3, "main", 10, 0))
        # thread 2 exited; thread 1 went on; thread 4 is new
        second = snap(stat(1, "C2 CompilerThre", 250, 50), stat(3, "main", 10, 0),
                      stat(4, "Executor task l", 20, 0))
        seen = thread_cpu.merge(thread_cpu.merge({}, first), second)
        totals = thread_cpu.by_class(seen, hz=100)
        self.assertEqual(totals["jit"], 3.0)
        self.assertEqual(totals["executor"], 1.2)
        self.assertEqual(totals["driver"], 0.1)
        self.assertEqual(set(totals), set(thread_cpu.CLASSES))
        self.assertIn("jit", thread_cpu.render(totals))


if __name__ == "__main__":
    unittest.main()
