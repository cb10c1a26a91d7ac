"""Checks the counting file system passes data through unchanged and
counts each call under the right table and kind (compiles the harness)."""
import pathlib
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
import run  # noqa: E402


class CountingFsTest(unittest.TestCase):
    def test_pass_through_and_counts(self):
        cp = run.build()
        work = run.build_dir() / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            r = subprocess.run(
                ["java", "-XX:-UsePerfData", "-cp", ":".join(str(c) for c in cp),
                 "perfbench.SelfTest", str(work)],
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                timeout=120)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        self.assertIn("SelfTest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
