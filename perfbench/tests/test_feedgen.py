import pathlib
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
import feedgen  # noqa: E402


class FeedgenTest(unittest.TestCase):
    def test_same_seed_same_feed(self):
        self.assertEqual(feedgen.render(feedgen.generate(7, 30)),
                         feedgen.render(feedgen.generate(7, 30)))

    def test_seed_changes_values_not_sizes(self):
        a, b = feedgen.generate(1, 30), feedgen.generate(2, 30)
        self.assertNotEqual(a, b)
        self.assertEqual([d for d, _ in a], [d for d, _ in b])
        self.assertEqual(sum(c is None for _, c in a), sum(c is None for _, c in b))
        ra, rb = feedgen.render(a).splitlines(), feedgen.render(b).splitlines()
        self.assertEqual([len(l.split()) for l in ra], [len(l.split()) for l in rb])

    def test_noaa_shape(self):
        days = feedgen.generate(3, 10)
        self.assertEqual(len(days), feedgen.history_days() + 10)
        self.assertEqual(days[0][0], feedgen.HISTORY_START)
        missing = sum(c is None for _, c in days)
        self.assertAlmostEqual(missing / len(days), feedgen.MISSING_SHARE, delta=0.001)
        lines = feedgen.render(days).splitlines()
        header = [l for l in lines if l.startswith("#")]
        rows = [l.split() for l in lines if not l.startswith("#")]
        self.assertEqual(lines[:len(header)], header)
        self.assertEqual(len(rows), len(days))
        self.assertEqual({len(r) for r in rows}, {5, 6})
        for r, (d, c) in zip(rows, days):
            self.assertEqual((int(r[0]), int(r[1]), int(r[2])), (d.year, d.month, d.day))
            self.assertEqual(len(r), 6 if d >= feedgen.SIX_COL_FROM else 5)
            self.assertEqual(r[4], "NaN" if c is None else "%.2f" % c)

    def test_values_follow_a_rising_trend(self):
        days = feedgen.generate(4, 0)
        first = [c for _, c in days[:365] if c is not None]
        last = [c for _, c in days[-365:] if c is not None]
        self.assertGreater(sum(last) / len(last), sum(first) / len(first) + 50)


if __name__ == "__main__":
    unittest.main()
