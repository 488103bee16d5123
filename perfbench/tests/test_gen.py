"""The seeded inputs: one seed, byte-identical files; another seed, other
files; and the shares the workloads promise.

  python3 -m unittest discover -s perfbench/tests
"""
import collections
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import gen  # noqa: E402


def digest(path):
    h = hashlib.sha256()
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def requests_bytes(seed):
    return json.dumps(gen.dashboard_requests(seed, 4, 3, 0.001),
                      sort_keys=True).encode()


class Determinism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, *p):
        return os.path.join(self.dir, *p)

    def test_csv_is_byte_identical_per_seed(self):
        a = gen.etl_csv(5, 3000, self.path("a.csv"))
        b = gen.etl_csv(5, 3000, self.path("b.csv"))
        c = gen.etl_csv(6, 3000, self.path("c.csv"))
        self.assertEqual(digest(self.path("a.csv")), digest(self.path("b.csv")))
        self.assertNotEqual(digest(self.path("a.csv")), digest(self.path("c.csv")))
        self.assertEqual(a, b)

    def test_tables_are_byte_identical_per_seed(self):
        gen.tables(5, 0.001, self.path("a"))
        gen.tables(5, 0.001, self.path("b"))
        gen.tables(6, 0.001, self.path("c"))
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_request_lists_are_identical_per_seed(self):
        self.assertEqual(requests_bytes(5), requests_bytes(5))
        self.assertNotEqual(requests_bytes(5), requests_bytes(6))


class Shares(unittest.TestCase):
    def test_csv_shares(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.etl_csv(9, 20000, os.path.join(d, "x.csv"))
            with open(os.path.join(d, "x.csv")) as f:
                lines = f.read().splitlines()
        self.assertEqual(info["rows"], 20000)
        self.assertEqual(len(lines), 20001)
        self.assertAlmostEqual(info["duplicate_share"], 0.1 / 1.1, delta=0.002)
        self.assertAlmostEqual(info["rows_with_empty_share"], 0.02, delta=0.005)
        body = lines[1:]
        dups = len(body) - len(set(body))
        self.assertAlmostEqual(dups / len(body), info["duplicate_share"], delta=0.005)

    def test_every_block_has_the_route_mix(self):
        reqs = gen.dashboard_requests(3, 4, 5, 0.001)
        want = dict(gen.BLOCK_MIX)
        for lst in reqs["clients"]:
            self.assertEqual(len(lst), 5 * gen.BLOCK_LEN)
            for b in range(5):
                block = lst[b * gen.BLOCK_LEN:(b + 1) * gen.BLOCK_LEN]
                self.assertEqual(collections.Counter(r["route"] for r in block), want)

    def test_about_half_the_requests_repeat(self):
        reqs = gen.dashboard_requests(3, 4, 10, 0.001)
        seen, repeats, n = set(), 0, 0
        for lst in reqs["clients"]:
            for r in lst:
                k = gen.request_key(r)
                repeats += k in seen
                seen.add(k)
                n += 1
        # half the slots draw a repeat; the dashboard route has only two
        # distinct requests, so its fresh draws repeat too
        self.assertGreater(repeats / n, 0.4)
        self.assertLess(repeats / n, 0.7)

    def test_drill_downs_page_through_one_filter(self):
        lst = gen.dashboard_requests(4, 1, 2, 0.001)["clients"][0]
        pages = [r for r in lst if r["route"] == "drill_down"]
        for i in range(0, len(pages), 3):
            offs = [p["body"]["offset"] for p in pages[i:i + 3]]
            self.assertEqual(offs, [0, 100, 200])
            specs = {json.dumps(dict(p["body"], offset=0), sort_keys=True)
                     for p in pages[i:i + 3]}
            self.assertEqual(len(specs), 1)


if __name__ == "__main__":
    unittest.main()
