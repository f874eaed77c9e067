import datetime
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import digest  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

COLS = ["k", "amount", "day", "tags"]
ROWS = [(1, 10.25, datetime.date(2024, 1, 2), ["a", "b"]),
        (2, 1 / 3, datetime.date(2024, 1, 3), []),
        (3, None, datetime.date(1969, 12, 31), ["c"])]


def op(name, d, error=None):
    return {"kind": "op", "name": name, "wall_s": 0.5, "digest": d, "error": error}


class DigestTest(unittest.TestCase):
    def test_order_insensitive(self):
        self.assertEqual(digest.of(COLS, ROWS), digest.of(COLS, list(reversed(ROWS))))
        cols = list(reversed(COLS))
        self.assertEqual(digest.of(COLS, ROWS),
                         digest.of(cols, [tuple(reversed(r)) for r in ROWS]))

    def test_date_is_its_midnight_timestamp(self):
        self.assertEqual(digest.value(datetime.date(1970, 1, 2)),
                         digest.value(datetime.datetime(1970, 1, 2)))
        self.assertEqual(digest.value(datetime.date(1969, 12, 31)), str(-86_400_000_000))

    def test_floats_rounded_to_nine_digits(self):
        self.assertEqual(digest.double(0.1 + 0.2), "0.3")
        self.assertEqual(digest.double(1234567890123.0), "1234567890000")
        self.assertEqual(digest.double(-2.5e-7), "-0.00000025")
        self.assertEqual(digest.double(-0.0), "0")

    def test_check_fails_on_an_altered_row(self):
        want = digest.of(COLS, ROWS)
        altered = list(ROWS)
        altered[1] = (2, 1 / 3 + 1e-6, altered[1][2], altered[1][3])
        got = digest.of(COLS, altered)
        self.assertNotEqual(got, want)
        expected = {"catalog_sf0.01": {"q1": want, "q2": want}}
        ops, failures = run.check("catalog_cold",
                                  [op("q1", want), op("q2", got)], expected)
        self.assertEqual([o["ok"] for o in ops], [True, False])
        self.assertEqual([f[0] for f in failures], ["q2"])

    def test_exception_fails_the_operation(self):
        expected = {"olap_sf0.1": {"q01_agg": "1:00"}}
        ops, failures = run.check("olap_warm", [op("q01_agg", None, "boom")], expected)
        self.assertFalse(ops[0]["ok"])
        self.assertEqual(failures, [("q01_agg", "boom")])


class IngestAccountingTest(unittest.TestCase):
    """A tiny synthetic ingest: one pass of two batches."""

    def recs(self, canonical):
        first = {"a": [100, 1], "b": [50, 1]}
        second = {"a": [100, 1], "b": [60, 2], "c": [40, 2]}   # b rewritten, c new
        return [
            {"kind": "op", "name": "ingest0.0", "wall_s": 1.0, "digest": None,
             "error": None, "pass": 0, "files": first},
            {"kind": "read", "name": "canonical0.0", "wall_s": 0.2, "digest": None,
             "error": None, "pass": 0, "last": False},
            {"kind": "op", "name": "ingest0.1", "wall_s": 1.0, "digest": None,
             "error": None, "pass": 0, "files": second},
            {"kind": "read", "name": "canonical0.1", "wall_s": 0.4, "digest": canonical,
             "error": None, "pass": 0, "last": True},
        ]

    def test_write_and_space_amplification(self):
        plan = {"ops": [("ingest", 0, 0, 0, 2), ("ingest", 0, 1, 2, 3)]}
        text = {(0, 2): 200, (2, 3): 100}
        c = run.corpus(self.recs("1:00"), plan, lambda lo, hi: text[(lo, hi)])
        self.assertAlmostEqual(c["write_amp"], (150 + 100) / 300)
        self.assertAlmostEqual(c["space_amp"], 200 / 300)
        self.assertAlmostEqual(c["read_p50_s"], 0.3)

    def test_written_bytes(self):
        self.assertEqual(metrics.written_bytes({}, {"x": [7, 1]}), 7)
        self.assertEqual(metrics.written_bytes({"x": [7, 1]}, {"x": [7, 1]}), 0)
        self.assertEqual(metrics.written_bytes({"x": [7, 1]}, {"x": [7, 3]}), 7)

    def test_final_canonical_digest_is_checked(self):
        expected = {"corpus_sf0.1": {"canonical": "1:00"}}
        ops, failures = run.check("corpus_ingest", self.recs("1:00"), expected)
        self.assertEqual((all(o["ok"] for o in ops), failures), (True, []))
        ops, failures = run.check("corpus_ingest", self.recs("1:ff"), expected)
        self.assertEqual([o["ok"] for o in ops], [True, False])


if __name__ == "__main__":
    unittest.main()
