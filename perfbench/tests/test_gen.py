"""Self-tests of the fixture generator: python3 -m unittest discover perfbench/tests"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

INFIXES = [(p[1], p[0], p[2], p[3]) for p in gen.PREDICATES]


def parse(text):
    """The engine's extraction rule, first-occurrence split."""
    for infix, pred, st, ot in INFIXES:
        if infix in text and text.endswith("."):
            s, o = text.split(infix, 1)
            return st, s, pred, ot, o[:-1]
    return None


class GenTest(unittest.TestCase):

    def test_same_seed_same_fixture(self):
        a = gen.build(7, 300, 50, increments=2)
        b = gen.build(7, 300, 50, increments=2)
        self.assertEqual(a[2], b[2])
        self.assertEqual(a[1], b[1])
        for name in a[0]:
            self.assertTrue(a[0][name].equals(b[0][name]), name)

    def test_other_seed_same_size_other_content(self):
        t1, _, m1 = gen.build(1, 300, 50)
        t2, _, m2 = gen.build(2, 300, 50)
        for k in ("turns", "fact_turns"):
            self.assertEqual(m1[k], m2[k])
        self.assertNotEqual(t1["transcripts"].column("text").to_pylist(),
                            t2["transcripts"].column("text").to_pylist())

    def test_golden_is_closed_form_truth(self):
        tables, (triples, mentions), meta = gen.build(3, 400, 40)
        labels = {(t, n): e for t, n, e in mentions}
        facts = [p for p in map(parse, tables["transcripts"].column("text").to_pylist()) if p]
        self.assertEqual(len(facts), meta["fact_turns"])
        self.assertEqual(len(triples), meta["golden_triples"])
        self.assertEqual(len(mentions), meta["golden_mentions"])
        for st, s, _pred, ot, o in facts:
            self.assertIn((st, gen.normalize(s)), labels)
            self.assertIn((ot, gen.normalize(o)), labels)

    def test_canonical_form_is_each_entitys_strict_majority(self):
        tables, (triples, mentions), _ = gen.build(4, 300, 200)
        labels = {(t, n): e for t, n, e in mentions}
        raws = {}
        for p in filter(None, map(parse, tables["transcripts"].column("text").to_pylist())):
            for typ, raw in ((p[0], p[1]), (p[3], p[4])):
                raws.setdefault(labels[(typ, gen.normalize(raw))], []).append(raw)
        canon = {s for s, _, _ in triples} | {o for _, _, o in triples}
        for forms in raws.values():
            counts = sorted(((forms.count(f), f) for f in set(forms)), reverse=True)
            self.assertIn(counts[0][1], canon)
            if len(counts) > 1:
                self.assertGreater(counts[0][0], counts[1][0])

    def test_increments_are_disjoint_and_cover_the_input(self):
        tables, _, meta = gen.build(5, 200, 0, increments=3)
        convs = [set(tables[f"inc_{k}"].column("conv_id").to_pylist()) for k in range(3)]
        self.assertEqual(sum(len(c) for c in convs), len(set().union(*convs)))
        self.assertEqual(sum(tables[f"inc_{k}"].num_rows for k in range(3)), meta["turns"])
        self.assertIn(meta["replay"], range(3))

    def test_write_caches_by_directory(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "fx")
            m1 = gen.write(out, 9, 100, 20)
            stamp = os.path.getmtime(os.path.join(out, "meta.json"))
            self.assertEqual(gen.write(out, 9, 100, 20), m1)
            self.assertEqual(os.path.getmtime(os.path.join(out, "meta.json")), stamp)


if __name__ == "__main__":
    unittest.main()
