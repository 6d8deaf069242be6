"""The kpi_ingest generator: deterministic per seed, and its expected
numbers agree with an independent parse of the files it wrote.

Run: python3 -m unittest discover -s perfbench/tests
"""

import csv
import gzip
import hashlib
import os
import shutil
import sys
import tempfile
import unittest
import xml.etree.ElementTree as ET

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(os.path.dirname(BENCH), ".bench_build", "tests")
sys.path.insert(0, BENCH)
import kpigen  # noqa: E402

NS = "{" + kpigen.NS + "}"


def read(path, mode="r"):
    with open(path, mode) as f:
        return f.read()


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            h.update(read(os.path.join(d, f), "rb"))
    return h.hexdigest()


def xml_numbers(text):
    """(rows, kpiValue sum) as the flatten defines them: one row per r,
    NIL/NULL/empty count as 0."""
    rows, total = 0, 0.0
    for r in ET.fromstring(text).iter(NS + "r"):
        rows += 1
        v = (r.text or "").strip()
        if v not in ("", "NIL", "NULL"):
            total += float(v)
    return rows, total


class GeneratorTest(unittest.TestCase):
    def generate(self, seed):
        os.makedirs(SCRATCH, exist_ok=True)
        d = tempfile.mkdtemp(dir=SCRATCH)
        self.addCleanup(shutil.rmtree, d, True)
        return d, kpigen.generate(seed, d)

    def test_same_seed_same_inputs(self):
        (a, ea), (b, eb) = self.generate(11), self.generate(11)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertEqual(ea, eb)

    def test_other_seed_other_inputs(self):
        (a, _), (b, _) = self.generate(11), self.generate(12)
        self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_expected_numbers_match_the_files(self):
        root, exp = self.generate(3)
        for b, batch in enumerate(exp["batches"]):
            for flow in ("gzip", "xml_fast", "hardware"):
                d = os.path.join(root, f"b{b}", flow)
                texts = []
                for f in sorted(os.listdir(d)):
                    raw = read(os.path.join(d, f), "rb")
                    texts.append(gzip.decompress(raw).decode() if f.endswith(".gz") else raw.decode())
                nums = [xml_numbers(t) for t in texts]
                want = batch[flow]
                self.assertEqual(want["files"], len(texts))
                self.assertEqual(want["distinct"], len(set(texts)))
                self.assertLess(want["distinct"], want["files"], "no duplicate content")
                self.assertEqual(want["rows"], sum(n for n, _ in nums))
                self.assertAlmostEqual(want["sum"], sum(s for _, s in nums), places=3)
            rows, lat = 0, 0.0
            d = os.path.join(root, f"b{b}", "csv")
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), newline="") as fh:
                    recs = list(csv.reader(fh))
                self.assertEqual(len(recs[0]), len(kpigen.CSV_COLUMNS))
                for rec in recs[1:]:
                    self.assertEqual(len(rec), len(kpigen.CSV_COLUMNS))
                    rows += 1
                    lat += float(rec[10]) if rec[10] else kpigen.LATITUDE_NULL
            self.assertEqual(batch["csv"]["rows"], rows)
            self.assertAlmostEqual(batch["csv"]["sum"], lat, places=6)

    def test_fixture_edge_cases_present(self):
        root, _ = self.generate(5)
        text = read(os.path.join(root, "b0", "xml_fast", "meas_000.xml"))
        for needle in (">NIL<", ">NULL<", "></r>", 'measObjLdn="NODE'):
            self.assertIn(needle, text)
        doc = ET.fromstring(text)
        self.assertGreater(len(doc.findall(f"{NS}measData/{NS}measInfo")), 1)
        for mi in doc.iter(NS + "measInfo"):
            typed = {t.get("p") for t in mi.iter(NS + "measType")}
            self.assertTrue({r.get("p") for r in mi.iter(NS + "r")} - typed, "p without measType")
        hw = [read(os.path.join(root, "b0", "hardware", f))
              for f in os.listdir(os.path.join(root, "b0", "hardware"))]
        self.assertTrue(any("managedElement" not in t for t in hw))
        gz = os.listdir(os.path.join(root, "b0", "gzip"))
        self.assertTrue(any(f.endswith(".xml.gz") for f in gz))
        self.assertTrue(any(not f.endswith(".xml.gz") for f in gz))


if __name__ == "__main__":
    unittest.main()
