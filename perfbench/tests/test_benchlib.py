"""Tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 99), 99)
        self.assertEqual(benchlib.percentile([7.0], 50), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: p90 has exactly 10 beyond it, p95 only 5
        self.assertEqual(benchlib.tail_percentile(list(range(1, 101))), (90, 90, 100))
        # 40 samples: p75 has 10 beyond, p90 only 4
        self.assertEqual(benchlib.tail_percentile(list(range(1, 41))), (75, 30, 40))
        # 1000 samples: p99 has 10 beyond
        self.assertEqual(benchlib.tail_percentile(list(range(1, 1001)))[0], 99)
        # 20 samples: only the median qualifies
        self.assertEqual(benchlib.tail_percentile(list(range(20))), (50, 9, 20))
        # 19 samples: not even the median has 10 beyond
        self.assertIsNone(benchlib.tail_percentile(list(range(19))))

    def test_order_of_input_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(benchlib.tail_percentile(xs), benchlib.tail_percentile(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(benchlib.self_time(0, 10, []), 10)

    def test_disjoint_children(self):
        self.assertEqual(benchlib.self_time(0, 10, [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # (1,5) and (3,8) cover 1..8 once: 7 of the 10
        self.assertEqual(benchlib.self_time(0, 10, [(1, 5), (3, 8)]), 3)
        # a child nested in another adds nothing
        self.assertEqual(benchlib.self_time(0, 10, [(1, 8), (2, 4)]), 3)

    def test_children_clipped_to_parent(self):
        self.assertEqual(benchlib.self_time(10, 20, [(5, 12), (18, 30)]), 6)
        self.assertEqual(benchlib.self_time(10, 20, [(0, 5)]), 10)

    def test_touching_children(self):
        self.assertEqual(benchlib.self_time(0, 10, [(0, 5), (5, 10)]), 0)


class QuerySample(unittest.TestCase):
    costs = {"q%02d" % i: float(i) for i in range(40)}

    def test_same_seed_same_order(self):
        self.assertEqual(benchlib.query_sample(self.costs, 7, 8),
                         benchlib.query_sample(self.costs, 7, 8))
        self.assertNotEqual(benchlib.query_sample(self.costs, 7, 8),
                            benchlib.query_sample(self.costs, 8, 8))

    def test_same_set_for_every_seed(self):
        self.assertEqual(sorted(benchlib.query_sample(self.costs, 3, 8)),
                         sorted(benchlib.query_sample(self.costs, 4, 8)))

    def test_one_query_per_cost_group(self):
        sample = benchlib.query_sample(self.costs, 11, 8)
        self.assertEqual(sorted(int(q[1:]) // 5 for q in sample), list(range(8)))
        self.assertEqual(len(set(sample)), 8)


def export_fixture():
    rpf = 10
    source = {"rows": 25, "digest": "600", "rows_per_file": rpf}
    names = benchlib.file_names("t", 25, rpf)
    files = {
        names[0]: {"rows": 10, "min_key": "a00", "max_key": "a09", "digest": "100"},
        names[1]: {"rows": 10, "min_key": "a10", "max_key": "a19", "digest": "200"},
        names[2]: {"rows": 5, "min_key": "a20", "max_key": "a24", "digest": "300"},
    }
    return source, files, list(names), ["t/" + n for n in names]


class ExportCheck(unittest.TestCase):
    def test_names(self):
        self.assertEqual(benchlib.file_names("code", 25, 10),
                         ["code_0_10_zstd.parquet", "code_10_20_zstd.parquet",
                          "code_20_30_zstd.parquet"])
        self.assertEqual(benchlib.file_names("code", 20, 10),
                         ["code_0_10_zstd.parquet", "code_10_20_zstd.parquet"])

    def test_good_export_passes(self):
        self.assertEqual(benchlib.check_table("t", *export_fixture()), [])

    def test_dropped_row_fails(self):
        source, files, listed, keys = export_fixture()
        files["t_20_30_zstd.parquet"].update(rows=4, digest="290")
        self.assertTrue(any("digest" in p for p in benchlib.check_table("t", source, files, listed, keys)))

    def test_dropped_row_in_full_file_fails(self):
        source, files, listed, keys = export_fixture()
        files["t_0_10_zstd.parquet"].update(rows=9, digest="90")
        problems = benchlib.check_table("t", source, files, listed, keys)
        self.assertTrue(any("holds 9 rows" in p for p in problems))

    def test_renamed_file_fails(self):
        source, files, listed, keys = export_fixture()
        files["t_20_40_zstd.parquet"] = files.pop("t_20_30_zstd.parquet")
        listed = sorted(files)
        problems = benchlib.check_table("t", source, files, listed, keys)
        self.assertTrue(any("files" in p for p in problems))

    def test_manifest_mismatch_fails(self):
        source, files, listed, keys = export_fixture()
        self.assertTrue(benchlib.check_table("t", source, files, listed, keys[:2]))
        self.assertTrue(benchlib.check_table("t", source, files, listed, None))

    def test_keys_out_of_order_fail(self):
        source, files, listed, keys = export_fixture()
        files["t_10_20_zstd.parquet"]["min_key"] = "a05"
        problems = benchlib.check_table("t", source, files, listed, keys)
        self.assertTrue(any("ascend" in p for p in problems))


class QueryCheck(unittest.TestCase):
    expected = {"q1": {"rows": 6, "schema": "struct<a:int>"}}

    def test_match_passes(self):
        r = {"name": "q1", "ok": True, "rows": 6, "schema": "struct<a:int>"}
        self.assertEqual(benchlib.check_query(r, self.expected), [])

    def test_wrong_row_count_fails(self):
        r = {"name": "q1", "ok": True, "rows": 5, "schema": "struct<a:int>"}
        self.assertTrue(benchlib.check_query(r, self.expected))

    def test_wrong_schema_fails(self):
        r = {"name": "q1", "ok": True, "rows": 6, "schema": "struct<a:bigint>"}
        self.assertTrue(benchlib.check_query(r, self.expected))

    def test_failed_query_fails(self):
        self.assertTrue(benchlib.check_query({"name": "q1", "ok": False}, self.expected))


if __name__ == "__main__":
    unittest.main()
