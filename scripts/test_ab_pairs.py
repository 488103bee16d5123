"""Unit tests of ab_pairs' no-regression verdict and stamp parser.

  python3 -m unittest discover -s scripts
"""
import unittest

from ab_pairs import contention, verdict


class VerdictTest(unittest.TestCase):
    # a steady base: IQR/median 0.02, well inside a 0.2 bound
    BASE = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]

    def test_equal_runs_are_within_bound(self):
        self.assertEqual(verdict(self.BASE, list(self.BASE), 0.2, "lower"), "within bound")

    def test_worse_by_less_than_the_bound_is_within(self):
        change = [v * 1.15 for v in self.BASE]
        self.assertEqual(verdict(self.BASE, change, 0.2, "lower"), "within bound")

    def test_worse_by_more_than_the_bound_is_over(self):
        change = [v * 1.25 for v in self.BASE]
        self.assertEqual(verdict(self.BASE, change, 0.2, "lower"), "over bound")

    def test_direction_follows_better(self):
        # higher is better: a 25% drop is over, a 25% rise is within
        self.assertEqual(verdict(self.BASE, [v * 0.75 for v in self.BASE], 0.2, "higher"),
                         "over bound")
        self.assertEqual(verdict(self.BASE, [v * 1.25 for v in self.BASE], 0.2, "higher"),
                         "within bound")

    def test_noisy_base_is_unresolved(self):
        base = [6.0, 14.0, 8.0, 12.0, 10.0, 7.0, 13.0, 9.0, 11.0, 10.0]  # IQR/median 0.45
        self.assertEqual(verdict(base, list(base), 0.2, "lower"), "unresolved")
        # even a change far worse than the bound cannot be told apart
        self.assertEqual(verdict(base, [v * 1.5 for v in base], 0.2, "lower"), "unresolved")

    def test_noisy_base_resolves_when_every_change_run_wins(self):
        base = [6.0, 14.0, 8.0, 12.0, 10.0, 7.0, 13.0, 9.0, 11.0, 10.0]
        change = [5.0, 5.5, 4.0, 5.9, 4.5]
        self.assertEqual(verdict(base, change, 0.2, "lower"), "within bound")
        # one change run that ties a base run keeps it unresolved
        self.assertEqual(verdict(base, change + [6.0], 0.2, "lower"), "unresolved")

    def test_a_single_pair(self):
        self.assertEqual(verdict([10.0], [11.0], 0.2, "lower"), "within bound")
        self.assertEqual(verdict([10.0], [13.0], 0.2, "lower"), "over bound")


class ContentionTest(unittest.TestCase):
    def test_reads_the_stamp_line(self):
        out = ("== graft perfbench: dashboard, seed 7, 30 s\n"
               'run: {"git_sha": "abc", "loadavg_start": 1.25, "nproc": 4, '
               '"steal_share": 0.0123}\n'
               "output check: PASS (0 of 160 operations failed)\n"
               '{"correct": true, "metrics": {}}\n')
        self.assertEqual(contention(out), {"steal_share": 0.0123, "loadavg_start": 1.25})

    def test_missing_or_broken_stamp_reads_none(self):
        none = {"steal_share": None, "loadavg_start": None}
        self.assertEqual(contention(""), none)
        self.assertEqual(contention("run: {not json\n"), none)
        self.assertEqual(contention('run: {"nproc": 4}\n'), none)


if __name__ == "__main__":
    unittest.main()
