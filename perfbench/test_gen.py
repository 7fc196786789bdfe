"""Tests of the perfbench input generators: same seed, byte-identical inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "src", "main", "resources", "ooh", "xml-compilation.xml")


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def twice(self, write):
        digests = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                write(d)
                digests.append(tree_digest(d))
        return digests

    def test_tables_same_seed_same_bytes(self):
        a, b = self.twice(lambda d: gen.write_tables(7, 0.001, d, 100))
        self.assertEqual(a, b)

    def test_tables_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            gen.write_tables(7, 0.001, d1, 100)
            gen.write_tables(8, 0.001, d2, 100)
            self.assertNotEqual(tree_digest(d1), tree_digest(d2))

    def test_corpus_same_seed_same_bytes(self):
        a, b = self.twice(lambda d: gen.write_corpus(7, 300, d))
        self.assertEqual(a, b)

    def test_trickle_same_seed_same_bytes(self):
        a, b = self.twice(lambda d: gen.trickle(7, 200, 4, 50, 2, 10, d))
        self.assertEqual(a, b)

    def test_trickle_deletes_are_distinct_and_ingested(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.trickle(7, 200, 4, 50, 2, 10, d)
        ids = [i for v in t["deletes"].values() for i in v]
        self.assertEqual(len(ids), len(set(ids)))
        for b, v in t["deletes"].items():
            self.assertTrue(all(i < 200 + (int(b) + 1) * 50 for i in v))
        self.assertEqual(t["survivors"][0].num_rows, 400 - len(ids))

    def test_ooh_same_seed_same_bytes_and_plan(self):
        templates = gen.ooh_templates(FIXTURE)
        self.assertEqual(len(templates), 8)
        x1, p1 = gen.ooh_compilation(7, 120, templates)
        x2, p2 = gen.ooh_compilation(7, 120, templates)
        self.assertEqual(x1.encode(), x2.encode())
        self.assertEqual(p1, p2)
        self.assertNotEqual(x1, gen.ooh_compilation(8, 120, templates)[0])

    def test_ooh_keeps_guard_and_planted_values(self):
        xml, plan = gen.ooh_compilation(3, 400, gen.ooh_templates(FIXTURE))
        self.assertEqual(xml.count("<occupation>"), 400)
        military = [p for p in plan if p["title"] == "Military Careers"]
        self.assertTrue(military)
        self.assertTrue(all(p["medianPayAnnual"] is None for p in military))
        self.assertTrue(any(p["in_report"] for p in plan))
        for p in plan:
            if p["pay"]:
                self.assertIn(f"<value>{int(p['medianPayAnnual'])}</value>", xml)


if __name__ == "__main__":
    unittest.main()
