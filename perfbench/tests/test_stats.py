import pathlib
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(values)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for v in values if v > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))

    def test_eleven_samples_take_the_smallest(self):
        value, pct, n = stats.tail([float(v) for v in range(11, 0, -1)])
        self.assertEqual((value, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_ten_or_fewer_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([float(v) for v in range(10)]), (9.0, 100.0, 10))


if __name__ == "__main__":
    unittest.main()
