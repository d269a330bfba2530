"""Self-tests of the benchmark's own statistics, freshness mapping and
output checks. Run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 11))
        self.assertEqual(run.percentile(v, 0.5), 5)
        self.assertEqual(run.percentile(v, 0.9), 9)
        self.assertEqual(run.percentile(v, 1.0), 10)
        self.assertEqual(run.percentile([7], 0.9), 7)
        self.assertEqual(run.percentile([3, 1, 2], 0.5), 2)

    def test_weighted(self):
        self.assertEqual(run.weighted_percentile([(10, 1), (20, 1)], 0.5), 10)
        self.assertEqual(run.weighted_percentile([(10, 1), (20, 3)], 0.5), 20)
        self.assertEqual(run.weighted_percentile([(20, 3), (10, 1), (30, 0)], 1.0), 20)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            run.percentile([], 0.5)
        with self.assertRaises(ValueError):
            run.weighted_percentile([(1, 0)], 0.5)


def batch(batch_id, start, end, commit_ns, phase="measure"):
    return {"batch_id": batch_id, "start_offset": start, "end_offset": end, "rows": 0,
            "commit_ns": commit_ns, "phase": phase, "duration_ms": {"triggerExecution": 5}}


class Freshness(unittest.TestCase):
    # ticks: (offset, due_ns, late_ns, rows); the first batch has no start offset
    ticks = [[0, 0, 0, 10], [1, 100, 0, 10], [2, 200, 0, 10], [3, 300, 0, 10]]
    batches = [batch(0, -1, 1, 1000), batch(1, 1, 3, 2000)]

    def test_offsets_map_to_their_batch(self):
        got = [(t[0], b["batch_id"]) for t, b in
               run.map_ticks_to_batches(self.ticks, self.batches)]
        self.assertEqual(got, [(0, 0), (1, 0), (2, 1), (3, 1)])

    def test_uncommitted_offset_raises(self):
        with self.assertRaises(run.BenchError):
            run.map_ticks_to_batches(self.ticks + [[4, 400, 0, 10]], self.batches)

    def test_live_freshness_from_due_times_and_commits(self):
        live = {"window_ns": [100, 400], "ticks": self.ticks,
                "batches": [dict(b) for b in self.batches]}
        m, batches = run.live_metrics(live)
        # window ticks 1..3 wait 900, 1800 and 1700 ns: 10 rows each
        self.assertEqual(m["freshness_p50_ms"], 1700 / 1e6)
        self.assertEqual(m["stream.freshness_p90_ms"], 1800 / 1e6)
        self.assertEqual([b["rows"] for b in batches], [20, 20])
        self.assertEqual(m["gen.rows"], 30)
        # rows of the batches after the first, over the time between commits
        self.assertAlmostEqual(m["rows_per_s"], 20 / (1000 / 1e9))

    def test_committed_rate_needs_two_batches(self):
        with self.assertRaises(run.BenchError):
            run.committed_rate([batch(0, -1, 1, 1000)])


def write_state(path, rows):
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    pq.write_table(pa.table({
        "id": pa.array(cols[0], pa.int64()), "seq": pa.array(cols[1], pa.int64()),
        "name": pa.array(cols[2], pa.string()), "amount": pa.array(cols[3], pa.float64())}),
        path)


class CdcChecks(unittest.TestCase):
    state = [(1, 5, "a", 1.5), (2, 0, "init2", 0.02), (3, 9, "c", 3.25)]

    def test_state_mismatches(self):
        self.assertEqual(run.state_mismatches(self.state, list(reversed(self.state))), 0)
        wrong = [(1, 5, "a", 1.5), (2, 0, "init2", 0.03), (3, 9, "c", 3.25)]
        self.assertEqual(run.state_mismatches(self.state, wrong), 1)
        self.assertEqual(run.state_mismatches(self.state, self.state[:2]), 1)
        self.assertEqual(run.state_mismatches(self.state, self.state + [self.state[0]]), 1)
        self.assertEqual(run.state_mismatches(self.state[:1], self.state), 2)

    def test_dead_letter_classes(self):
        self.assertEqual(run.dead_letter_counts([None, 1, 9999, None, 1], 1),
                         {"transport": 2, "payload": 2, "unknown_schema": 1})

    def run_checks(self, expected, actual, dead_ids, planted):
        d = tempfile.mkdtemp()
        write_state(os.path.join(d, "expected.parquet"), expected)
        write_state(os.path.join(d, "actual.parquet"), actual)
        os.makedirs(os.path.join(d, "dead"))
        pq.write_table(pa.table({"schema_id": pa.array(dead_ids, pa.int32())}),
                       os.path.join(d, "dead", "part-0.parquet"))
        record = {"attempted": 7, "errors": [], "checks": {
            "expected_state": os.path.join(d, "expected.parquet"),
            "actual_state": os.path.join(d, "actual.parquet"),
            "dead_dir": os.path.join(d, "dead"), "schema_id": 1, "planted": planted}}
        checks = run.cdc_checks(record["checks"])
        return checks, run.tally(record, checks)

    def test_matching_run_passes(self):
        checks, (attempted, failed) = self.run_checks(
            self.state, self.state, [None, 1, 9999],
            {"transport": 1, "payload": 1, "unknown_schema": 1})
        self.assertTrue(all(ok for _, ok, _ in checks))
        self.assertEqual((attempted, failed), (9, 0))

    def test_wrong_expected_snapshot_row_fails_the_run(self):
        expected = [(1, 5, "a", 1.5), (2, 0, "init2", 0.02), (3, 9, "X", 3.25)]
        checks, (attempted, failed) = self.run_checks(
            expected, self.state, [None, 1, 9999],
            {"transport": 1, "payload": 1, "unknown_schema": 1})
        self.assertEqual([n for n, ok, _ in checks if not ok], ["snapshot"])
        self.assertEqual(failed, 1)

    def test_dead_lettered_clean_row_fails_the_run(self):
        checks, (_, failed) = self.run_checks(
            self.state, self.state, [None, 1, 1, 9999],
            {"transport": 1, "payload": 1, "unknown_schema": 1})
        self.assertEqual([n for n, ok, _ in checks if not ok], ["dead_letters"])
        self.assertEqual(failed, 1)


class CurateChecks(unittest.TestCase):
    def test_result_hash_ignores_row_and_column_order(self):
        a = run.result_hash(["x", "y"], [(1, 2.0), (3, 4.0)])
        b = run.result_hash(["y", "x"], [(4.0, 3), (2.0, 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.result_hash(["x", "y"], [(1, 2.0), (3, 4.5)]))
        self.assertEqual(run.result_hash(["v"], [(0.1 + 0.2,)]),
                         run.result_hash(["v"], [(0.3,)]))

    def test_clusters_take_the_smallest_id_of_each_component(self):
        self.assertEqual(sorted(run.clusters([(5, 7), (2, 7), (10, 11)])),
                         [(2, 2), (5, 2), (7, 2), (10, 10), (11, 10)])

    def make_corpus(self):
        d = tempfile.mkdtemp()
        for t, table in (("documents", pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()),
                                                 "text": ["a b", "c d", "a b"]})),
                         ("embeddings", pa.table({"vec_id": pa.array([1], pa.int64())}))):
            os.makedirs(os.path.join(d, "corpus", t + ".parquet"))
            pq.write_table(table, os.path.join(d, "corpus", t + ".parquet", "part-0.parquet"))
        out = os.path.join(d, "out")
        for q, table in (("d_minhash_lsh", pa.table({"d1": pa.array([1], pa.int64()),
                                                     "d2": pa.array([3], pa.int64())})),
                         ("d_dup_clusters", pa.table({"doc_id": pa.array([1, 3], pa.int64()),
                                                      "cluster_rep": pa.array([1, 1],
                                                                              pa.int64())}))):
            os.makedirs(os.path.join(out, q))
            pq.write_table(table, os.path.join(out, q, "part-0.parquet"))
        return {"queries": ["d_minhash_lsh", "d_dup_clusters"],
                "corpus_dir": os.path.join(d, "corpus"), "out_dir": out,
                "oracle_sql": {"d_minhash_lsh": "SELECT a.doc_id AS d1, b.doc_id AS d2 "
                               "FROM documents a JOIN documents b ON a.text = b.text "
                               "AND a.doc_id < b.doc_id"}}

    def test_results_equal_to_the_oracle_pass(self):
        checks = run.curate_checks(self.make_corpus())
        self.assertEqual([ok for _, ok, _ in checks], [True, True])

    def test_wrong_expected_hash_fails_the_run(self):
        curate = self.make_corpus()
        curate["oracle_sql"]["d_minhash_lsh"] = "SELECT 1::BIGINT AS d1, 2::BIGINT AS d2"
        checks = run.curate_checks(curate)
        self.assertEqual([n for n, ok, _ in checks if not ok],
                         ["curate.d_minhash_lsh", "curate.d_dup_clusters"])
        self.assertEqual(run.tally({"attempted": 6, "errors": []}, checks), (8, 2))


if __name__ == "__main__":
    unittest.main()
