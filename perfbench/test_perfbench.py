"""Tests of the benchmark harness itself (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import csv
import io
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
WORK = os.path.join(HERE, ".work")

import owners_csv  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402


def work_dir():
    os.makedirs(WORK, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=WORK)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, sa = owners_csv.generate(42, 3000)
        b, sb = owners_csv.generate(42, 3000)
        self.assertEqual(a, b)
        self.assertEqual(sa, sb)
        c, _ = owners_csv.generate(43, 3000)
        self.assertNotEqual(a, c)

    def test_row_count_and_histogram(self):
        data, st = owners_csv.generate(7, 2500)
        self.assertEqual(data.count(b"\n") - 1, 2500)
        self.assertEqual(owners_csv.histogram_of(data), st["histogram"])
        self.assertEqual(sum(m * n for m, n in st["histogram"].items()), 2500)
        self.assertGreater(sum(n for m, n in st["histogram"].items() if m > 1), 0)

    def test_write_self_checks(self):
        with work_dir() as d:
            path = os.path.join(d, "o.csv")
            sha, st = owners_csv.write(5, 1000, path)
            with open(path, "rb") as f:
                self.assertEqual(f.read(), owners_csv.generate(5, 1000)[0])
            self.assertEqual(len(sha), 64)

    def test_covers_every_fixture_row_kind(self):
        data, st = owners_csv.generate(11, 5000)
        rows = list(csv.reader(io.StringIO(data.decode())))
        header, rows = rows[0], rows[1:]
        self.assertEqual(header, owners_csv.HEADER)
        na = set(owners_csv.NA_SENTINELS)
        cells = [v for r in rows for v in r[1:]]
        self.assertTrue(na <= set(cells), "every NA sentinel appears")
        self.assertTrue(any(v != v.strip() and v.strip() for v in cells), "padded")
        self.assertTrue(any(v.strip() and v != v.upper() for v in cells), "mixed case")
        corporate = [r for r in rows if r[6] not in na and all(x in na for x in r[2:6])]
        self.assertTrue(corporate, "corporate owners with no name parts")
        nameless = [r for r in rows if all(x in na for x in r[2:7])]
        self.assertEqual(len(nameless), st["nameless"])
        self.assertGreater(st["nameless"], 0)
        legal = " ".join(r[1].upper() for r in rows)
        for token in ("LLC", "INC", "CORP", "LTD"):
            self.assertIn(f" {token}", legal)
        self.assertTrue(any(any(ch.isdigit() for ch in r[1]) for r in rows), "digits")
        self.assertTrue(any("'" in r[4] or "-" in r[4] for r in rows), "special chars")
        with_mi = [r for r in rows if r[3] not in na]
        with_suffix = [r for r in rows if r[5] not in na]
        self.assertTrue(with_mi and with_suffix)


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(9))
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(49), 50)
        self.assertEqual(stats.tail_percentile(50), 80)
        self.assertEqual(stats.tail_percentile(99), 80)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_quantile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0, 5.0]
        self.assertEqual(stats.quantile(xs, 0.5), 3.0)
        self.assertAlmostEqual(stats.quantile(xs, 0.9), 4.6)
        self.assertEqual(stats.quantile([2.0], 0.9), 2.0)

    def test_kind_geomean_ignores_the_mix(self):
        def samples(n_fast):
            return ([{"kind": "fast", "wall_s": 0.2}] * n_fast +
                    [{"kind": "slow", "wall_s": 0.6}, {"kind": "slow", "wall_s": 1.0}])
        # sqrt(0.2 * 0.8), however many fast requests the mix sends
        self.assertAlmostEqual(stats.kind_p50_geomean(samples(1)), 0.4)
        self.assertAlmostEqual(stats.kind_p50_geomean(samples(30)), 0.4)
        self.assertEqual(stats.kind_p50_geomean([]), 0.0)


def span(i, parent, name, wall, jobs=0):
    return {"id": i, "parent": parent, "name": name, "wall_s": wall, "jobs": jobs,
            "exec_run_s": 0.0, "shuffle_bytes": 0, "bytes_written": 0}


class SpanArithmeticTest(unittest.TestCase):
    spans = [span(2, 1, "serve.a", 3.0, jobs=2), span(4, 3, "serve.b.inner", 1.5, jobs=1),
             span(3, 1, "serve.b", 5.0, jobs=4), span(1, None, "serve", 10.0)]

    def test_self_time_subtracts_direct_children(self):
        st = stats.self_times(self.spans)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[3], 3.5)
        self.assertAlmostEqual(st[4], 1.5)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_inclusive_adds_descendants(self):
        inc = stats.inclusive(self.spans, "jobs")
        self.assertEqual(inc[3], 5)
        self.assertEqual(inc[1], 7)

    def test_coverage(self):
        self.assertAlmostEqual(stats.coverage(self.spans, 1), 0.8)

    def test_jobs_repeat_check(self):
        rep2 = [dict(s, id=s["id"] + 10,
                     parent=None if s["parent"] is None else s["parent"] + 10)
                for s in self.spans]
        raw = {"workload": "serve", "spans": self.spans + rep2}
        checks = {c["name"]: c["ok"] for c in report.trace_checks(raw)}
        self.assertEqual(checks, {"serve.span_coverage": False, "serve.jobs_repeat": True})
        rep2[0]["jobs"] = 3
        checks = {c["name"]: c["ok"] for c in report.trace_checks(raw)}
        self.assertFalse(checks["serve.jobs_repeat"])


class HarnessTest(unittest.TestCase):
    def test_refuses_to_run_without_engine_sources(self):
        with work_dir() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
