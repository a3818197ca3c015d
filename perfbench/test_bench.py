"""Tests of the benchmark's input generators and output checkers.

    python3 perfbench/test_bench.py
"""
import os
import random
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def tempdir(test):
    base = os.path.join(os.path.dirname(HERE), ".bench_build", "tests")
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(dir=base)
    test.addCleanup(shutil.rmtree, d, True)
    return d


def tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


class Inputs(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempdir(self)
        desc, expected = run.inputs(workload, seed, d)
        return desc, expected, tree_bytes(d)

    def test_same_seed_same_bytes(self):
        for workload in run.WORKLOADS:
            with self.subTest(workload=workload):
                a = self.generate(workload, 11)
                b = self.generate(workload, 11)
                self.assertEqual(a[0], b[0])
                self.assertEqual(a[2], b[2])

    def test_other_seed_other_bytes_same_shares(self):
        a_desc, _, a_files = self.generate("ingest", 1)
        b_desc, _, b_files = self.generate("ingest", 2)
        self.assertNotEqual(a_files, b_files)
        # the mix is fixed: every share but the row count repeats exactly
        for key in a_desc:
            if key != "rows":
                self.assertEqual(a_desc[key], b_desc[key], key)
        self.assertEqual(a_desc["objects"], len(gen.INGEST_MIX))
        self.assertGreater(a_desc["multi_table_share"], 0)
        for seed in (1, 2, 3):
            desc, _, files = self.generate("curate_batch", seed)
            self.assertEqual(desc["docs"], run.WORKLOADS["curate_batch"]["docs"])
            self.assertTrue(0.015 <= desc["exact_dup_share"] <= 0.05, desc)
            self.assertTrue(0.04 <= desc["near_dup_share"] <= 0.09, desc)
            self.assertTrue(0.015 <= desc["eval_overlap_share"] <= 0.05, desc)
            if seed == 1:
                first = files
            else:
                self.assertNotEqual(first, files)

    def test_arrivals_split_the_corpus_in_id_order(self):
        desc, _, _ = self.generate("curate_stream", 4)
        w = run.WORKLOADS["curate_stream"]
        self.assertEqual(desc["arrival_files"], w["files"])
        self.assertEqual(desc["arriving_docs"], w["docs"] - gen.N_EVAL)
        d = tempdir(self)
        run.inputs("curate_stream", 4, d)
        corpus = pq.read_table(os.path.join(d, "corpus", "documents.parquet"))
        parts = [pq.read_table(os.path.join(d, "arrivals", f))
                 for f in sorted(os.listdir(os.path.join(d, "arrivals")))]
        self.assertEqual(len(parts), w["files"])
        ids = [i for p in parts for i in p.column("doc_id").to_pylist()]
        self.assertEqual(ids, list(range(gen.N_EVAL, w["docs"])))
        texts = [x for p in parts for x in p.column("text").to_pylist()]
        self.assertEqual(texts, corpus.column("text").to_pylist()[gen.N_EVAL:])
        mtimes = [os.path.getmtime(os.path.join(d, "arrivals", f))
                  for f in sorted(os.listdir(os.path.join(d, "arrivals")))]
        self.assertEqual(mtimes, sorted(set(mtimes)))
        self.assertEqual(gen._injected(35, "a b"), "a b\ufffd\ufffd\ufffd\ufffd\x07\x01\x7f")
        self.assertEqual(gen._injected(1001, "a"), "a\ufffd\ufffd\x85\x96 ### ... 123")
        self.assertEqual(gen._injected(1, "a"), "a")

    def test_corpus_schema(self):
        path = os.path.join(tempdir(self), "documents.parquet")
        gen.corpus(random.Random(3), 300, path)
        t = pq.read_table(path)
        self.assertEqual(t.column_names, ["doc_id", "text", "lang", "source", "n_chars"])
        self.assertEqual(t.column("doc_id").to_pylist(), list(range(300)))


class Checks(unittest.TestCase):
    def setUp(self):
        self.dir = tempdir(self)

    def sink(self, name, table):
        os.makedirs(os.path.join(self.dir, name))
        pq.write_table(table, os.path.join(self.dir, name, "part-0.parquet"))

    def test_ingest_item(self):
        self.sink("obj_a", pa.table({"x_id": pa.array([1, 2, 3], pa.int64()),
                                     "x_amount": [0.5, 1.5, 2.25]}))
        expected = {"tables": ["obj_a"], "planted": [
            {"rows": 3, "types": {"x_id": "INTEGER", "x_amount": "FLOAT"}}]}
        item = {"object": "obj_a.csv", "dataset": self.dir, "errors": [],
                "loaded": [{"name": "obj_a", "rows": 3}]}
        self.assertEqual(check.ingest_item(item, expected), [])
        wrong_rows = dict(item, loaded=[{"name": "obj_a", "rows": 4}])
        self.assertEqual(len(check.ingest_item(wrong_rows, expected)), 1)
        wrong_type = {"tables": ["obj_a"], "planted": [
            {"rows": 3, "types": {"x_id": "INTEGER", "x_amount": "STRING"}}]}
        self.assertEqual(len(check.ingest_item(item, wrong_type)), 1)
        wrong_name = dict(expected, tables=["obj_b"])
        self.assertEqual(len(check.ingest_item(item, wrong_name)), 1)
        self.assertEqual(len(check.ingest_item(item, {"error": True})), 1)
        failed = {"object": "obj_a.csv", "dataset": self.dir, "failed": "ZipException"}
        self.assertEqual(check.ingest_item(failed, {"error": True}), [])
        self.assertEqual(len(check.ingest_item(failed, expected)), 1)

    def test_batch_report_against_oracle(self):
        path = os.path.join(self.dir, "documents.parquet")
        pq.write_table(pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()),
                                 "text": ["a b", "c", "d e f"]}), path)
        sql = """SELECT CAST(0 AS INTEGER) AS stage_idx, 'corpus' AS stage,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                 FROM documents"""
        [want] = check.oracle([sql], path, self.dir)
        self.assertEqual(want, [{"stage_idx": 0, "stage": "corpus", "n_docs": 3, "n_tokens": 6}])
        self.assertEqual(check.batch_report([dict(want[0])], want), [])
        self.assertEqual(len(check.batch_report([dict(want[0], n_tokens=7)], want)), 1)
        self.assertEqual(len(check.batch_report([], want)), 1)

    def test_stream_report(self):
        counters = check.PURE_COUNTERS + check.DEDUP_COUNTERS
        replayed = {c: 10 + k for k, c in enumerate(counters)}
        # 20 and 21 arrive in batch 0; 30 is near 20 (Jaccard 0.58) and
        # 31 is far from both (0.05), both in batch 1
        words = [f"w{i}" for i in range(20)]
        c6 = [{"doc_id": 20, "text": " ".join(words[:12]), "kept": True},
              {"doc_id": 21, "text": " ".join(words[10:20]), "kept": True},
              {"doc_id": 30, "text": " ".join(words[:9] + ["x", "y"]), "kept": False},
              {"doc_id": 31, "text": " ".join(words[:3] + [f"z{i}" for i in range(9)]),
               "kept": True}]
        batch_of = {20: 0, 21: 0, 30: 1, 31: 1}
        got = {"batches": 2, "report": dict(replayed)}

        def report(out=got, survivors=(20, 21, 31)):
            return check.stream_report(out, c6, replayed, batch_of,
                                       list(survivors), 2)

        self.assertEqual(report(), [])
        # the near pair crosses the batches: either verdict is allowed
        self.assertEqual(report(survivors=(20, 21, 30, 31)), [])
        # a far document must keep its one-shot verdict, as must any
        # document of the first batch
        self.assertEqual(len(report(survivors=(20, 21))), 1)
        self.assertEqual(len(report(survivors=(21, 31))), 1)
        self.assertEqual(len(report(survivors=(20, 21, 31, 99))), 1)
        for c in counters:
            perturbed = {"batches": 2, "report": dict(replayed, **{c: replayed[c] - 1})}
            self.assertEqual(len(report(perturbed)), 1, c)
        self.assertEqual(len(report(dict(got, batches=1))), 1)

    def test_stream_oracles_split_the_registered_oracle(self):
        sql = ("WITH c6 AS (SELECT doc_id, text FROM documents), "
               "cwrm AS (SELECT 2 AS doc_id), "
               "c7 AS (SELECT * FROM c6 WHERE doc_id NOT IN (SELECT doc_id FROM cwrm)) "
               "SELECT CAST(0 AS BIGINT) AS batch_id, "
               "(SELECT COUNT(*) FROM c7) AS c_whole_doc")
        path = os.path.join(tempdir(self), "documents.parquet")
        pq.write_table(pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), path)
        c6, replayed = check.stream_oracles(sql, path, tempdir(self), [1, 2, 2])
        self.assertEqual([(r["doc_id"], r["kept"]) for r in c6],
                         [(1, True), (2, False), (3, True)])
        self.assertEqual(replayed["c_whole_doc"], 2)
        with self.assertRaises(ValueError):
            check.stream_oracles(sql.replace("cwrm)", "cwrm2)"), path, tempdir(self), [])

    def test_attribution_self_check(self):
        ok = {"trace.other_job_share": 0.05, "trace.other_job_s_share": 0.0}
        self.assertEqual(run.attribution(ok), [])
        bad = dict(ok, **{"trace.other_job_s_share": 0.06})
        self.assertEqual(len(run.attribution(bad)), 1)

    def test_generated_objects_check_against_their_own_sinks(self):
        # a planted table written as its own sink passes; a mislabeled one fails
        exp = gen._write_csv(random.Random(5), os.path.join(self.dir, "o.csv"), "o", 1, "stack")
        planted = exp["planted"][0]
        arrow = {"INTEGER": pa.int64(), "FLOAT": pa.float64(), "TIMESTAMP": pa.timestamp("us"),
                 "BOOLEAN": pa.bool_(), "STRING": pa.string()}
        self.sink("o", pa.table({c: pa.nulls(planted["rows"], arrow[t])
                                 for c, t in planted["types"].items()}))
        item = {"object": "o.csv", "dataset": self.dir, "errors": [],
                "loaded": [{"name": "o", "rows": planted["rows"]}]}
        self.assertEqual(check.ingest_item(item, exp), [])
        item["loaded"][0]["name"] = "o__default__table_1"
        self.assertEqual(len(check.ingest_item(item, exp)), 1)


if __name__ == "__main__":
    unittest.main()
