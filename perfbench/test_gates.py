"""Each correctness gate passes on a right result and fails when that
result is perturbed. Runs without Spark, on small inputs.

Usage: python3 -m unittest perfbench/test_gates.py   (from the repo root)
"""
import base64
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gates  # noqa: E402


def scratch_dir(test):
    d = tempfile.mkdtemp()
    test.addCleanup(shutil.rmtree, d, True)
    return d


def envelope(shard, seq, p):
    return f"{shard}\t{seq}\t{p['user_id']}\t{base64.b64encode(json.dumps(p).encode()).decode()}"


class IngestGate(unittest.TestCase):
    def setUp(self):
        self.dir = scratch_dir(self)
        evs = [{"event_id": i, "ts_us": i, "user_id": i % 3, "event_type": "ab"[i % 2],
                "cents": 100 + i} for i in range(6)]
        lines = [envelope(f"shard-{e['user_id']}", 10 + i, e) for i, e in enumerate(evs)]
        lines.append(envelope("shard-1", 99, evs[1]))  # a producer retry
        with open(os.path.join(self.dir, "s-000000.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
        # a: ids 0, 2, 4 -> 300 + 6; b: ids 1, 3, 5 -> 300 + 9
        self.good = {"a": [3, 306, 3], "b": [3, 309, 3]}

    def gate(self, per_type):
        return gates.gate_ingest({"stream_dir": self.dir, "lake_per_type": per_type})

    def test_exact_result_passes(self):
        self.assertEqual(self.gate(self.good), [])

    def test_perturbed_results_fail(self):
        self.assertTrue(self.gate(dict(self.good, a=[4, 306, 3])))   # a retry kept
        self.assertTrue(self.gate(dict(self.good, b=[2, 209, 2])))   # an event lost
        self.assertTrue(self.gate(dict(self.good, a=[3, 307, 3])))   # cents changed
        self.assertTrue(self.gate({"a": self.good["a"]}))            # a type missing


class UpsertGate(unittest.TestCase):
    def setUp(self):
        self.dir = scratch_dir(self)
        ts = pa.array([0, 1_000_000, 2_000_000], pa.timestamp("us"))
        pq.write_table(pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()), "ts": ts,
            "user_id": pa.array([7, 8, 7], pa.int64()), "event_type": ["a", "b", "a"],
            "value": [1.5, 2.5, 3.5], "props": ["{}", "{}", "{}"]}),
            os.path.join(self.dir, "events.parquet"))
        self.log = os.path.join(self.dir, "writes.jsonl")
        with open(self.log, "w") as f:
            f.write(json.dumps({"op": "merge", "rows": [
                [2, 1_000_000, 8, "b", 9.25, "{\"k\": 1}"], [4, 3_000_000, 9, "c", 4.5, "{}"]]}) + "\n")
            f.write(json.dumps({"op": "delete", "cond": "user_id = 7"}) + "\n")
        self.want = [(2, 1_000_000, 8, "b", 9.25, "{\"k\": 1}"), (4, 3_000_000, 9, "c", 4.5, "{}")]

    def gate(self, rows):
        final = scratch_dir(self)
        cols = list(zip(*rows)) if rows else [[]] * 6
        pq.write_table(pa.table({
            "event_id": pa.array(cols[0], pa.int64()), "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()), "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()), "props": pa.array(cols[5], pa.string())}),
            os.path.join(final, "part-0.parquet"))
        return gates.gate_upsert({"log": self.log, "final": final}, self.dir)

    def test_exact_result_passes(self):
        self.assertEqual(self.gate(self.want), [])

    def test_perturbed_results_fail(self):
        self.assertTrue(self.gate(self.want[:1]))                                   # row lost
        self.assertTrue(self.gate(self.want + [(1, 0, 7, "a", 1.5, "{}")]))         # delete missed
        self.assertTrue(self.gate([self.want[0][:4] + (9.0, "{\"k\": 1}"), self.want[1]]))  # update lost


class MixGate(unittest.TestCase):
    def setUp(self):
        self.dir = scratch_dir(self)
        pq.write_table(pa.table({"event_id": pa.array([1, 2, 3], pa.int64())}),
                       os.path.join(self.dir, "events.parquet"))
        self.oracles = os.path.join(self.dir, "oracle_sql.json")
        with open(self.oracles, "w") as f:
            json.dump({"q_sum": "SELECT CAST(sum(event_id) AS BIGINT) AS s FROM events"}, f)

    def gate(self, s_value, counts):
        res = os.path.join(self.dir, "results")
        os.makedirs(os.path.join(res, "q_sum"), exist_ok=True)
        pq.write_table(pa.table({"s": pa.array([s_value], pa.int64())}),
                       os.path.join(res, "q_sum", "part-0.parquet"))
        return gates.gate_mix({"results_dir": res, "oracle_sql": self.oracles,
                               "queries": ["q_sum", "q_rows"],
                               "row_counts": {"q_sum": [1, 1], "q_rows": counts}}, self.dir)

    def test_exact_result_passes(self):
        self.assertEqual(self.gate(6, [5, 5]), [])

    def test_perturbed_results_fail(self):
        self.assertTrue(self.gate(7, [5, 5]))   # oracle digest differs
        self.assertTrue(self.gate(6, [5, 4]))   # row count changed between executions
        self.assertTrue(self.gate(6, [0, 0]))   # rows-only query returned nothing
        self.assertTrue(self.gate(6, []))       # never succeeded


if __name__ == "__main__":
    unittest.main()
