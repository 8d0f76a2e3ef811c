#!/usr/bin/env python3
"""Self-tests of the benchmark's own pieces; no JVM needed.

    python3 perfbench/selftest.py

Checks that the generator is deterministic, that the checker reports a
failure when one destination file is corrupted or one expected DLQ row is
dropped, that the analytics comparison catches a wrong cell, and that
BENCHMARK.json lists exactly the per-layer metrics of layers.json. Scratch
files go under the build directory.
"""
import hashlib
import json
import os
import random
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.abspath(os.path.join(
    os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench", "selftest"))


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def fresh(name):
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def fake_pass(work, manifest, name="pass00"):
    """Write the outputs a correct drain of `manifest` would leave."""
    pdir = os.path.join(work, "out", name)
    results, dlq = [], []
    for j in manifest["jobs"]:
        src = os.path.join(work, "in", "src") + j["src"]
        if j["expect"] == "success":
            dst = os.path.join(pdir, "dst") + j["dst"]
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(src, dst)
            results.append((j["job_id"], "success", os.path.getsize(src)))
        elif j["expect"] == "parse":
            raw = f'{{"job_id":"{j["job_id"]}","source":'
            dlq.append((json.dumps({"raw": raw}), "parse"))
        else:
            results.append((j["job_id"], "dlq", 0))
            dlq.append((json.dumps({"job_id": j["job_id"]}), j["expect"]))
    for sub, cols, rows in (("results", ("job_id", "status", "bytes"), results),
                            ("dlq", ("original_message", "error_type"), dlq)):
        os.makedirs(os.path.join(pdir, sub))
        table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
        pq.write_table(table, os.path.join(pdir, sub, "part-0.parquet"))
    return {"dir": pdir, "temp_leftover": 0, "pool_created_max": 4}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            a, b = fresh("gen-a"), fresh("gen-b")
            ma, mb = gen.generate(w, 11, a), gen.generate(w, 11, b)
            self.assertEqual(ma, mb, w)
            self.assertEqual(tree_digest(a), tree_digest(b), w)

    def test_seed_changes_inputs(self):
        a, b = fresh("gen-a"), fresh("gen-b")
        self.assertNotEqual(gen.generate("stream-small-files", 11, a),
                            gen.generate("stream-small-files", 12, b))
        orders = {tuple(gen.generate("analytics-mix", s, a)["queries"]) for s in range(8)}
        self.assertGreater(len(orders), 1)

    def test_sizes_deterministic_and_bounded(self):
        s1 = gen.stratified_log_sizes(random.Random("x"), gen.STREAM_JOBS, *gen.STREAM_SIZE)
        s2 = gen.stratified_log_sizes(random.Random("x"), gen.STREAM_JOBS, *gen.STREAM_SIZE)
        self.assertEqual(s1, s2)
        self.assertTrue(all(gen.STREAM_SIZE[0] <= s <= gen.STREAM_SIZE[1] for s in s1))

    def test_fault_mix(self):
        work = fresh("gen-mix")
        m = gen.generate("stream-small-files", 3, work)
        kinds = {}
        for j in m["jobs"]:
            kinds[j["expect"]] = kinds.get(j["expect"], 0) + 1
        n = len(m["jobs"])
        self.assertEqual(kinds["io"], gen.STREAM_FLAKY_JOBS)
        self.assertTrue(0.03 * n < kinds["not_found"] < 0.07 * n)
        self.assertTrue(0 < kinds["parse"] < 0.02 * n and 0 < kinds["config"] < 0.02 * n)


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.work = fresh("check")
        cls.manifest = gen.generate("stream-small-files", 5, cls.work)
        cls.src = os.path.join(cls.work, "in", "src")

    def run_check(self, rec):
        return check.check_transfer_pass(rec, self.manifest, self.src, {})[0]

    def test_correct_outputs_pass(self):
        rec = fake_pass(self.work, self.manifest, "ok")
        self.assertEqual(self.run_check(rec), 0)

    def test_corrupted_destination_fails(self):
        rec = fake_pass(self.work, self.manifest, "corrupt")
        job = next(j for j in self.manifest["jobs"] if j["expect"] == "success")
        path = os.path.join(rec["dir"], "dst") + job["dst"]
        with open(path, "r+b") as f:
            first = f.read(1)
            f.seek(0)
            f.write(bytes([first[0] ^ 0xFF]))
        self.assertGreater(self.run_check(rec), 0)

    def test_dropped_dlq_row_fails(self):
        rec = fake_pass(self.work, self.manifest, "dropped")
        path = os.path.join(rec["dir"], "dlq", "part-0.parquet")
        table = pq.read_table(path)
        pq.write_table(table.slice(1), path)
        self.assertGreater(self.run_check(rec), 0)

    def test_duplicate_row_and_leaked_temp_fail(self):
        rec = fake_pass(self.work, self.manifest, "dup")
        path = os.path.join(rec["dir"], "results", "part-0.parquet")
        table = pq.read_table(path)
        pq.write_table(pa.concat_tables([table, table.slice(0, 1)]), path)
        self.assertGreater(self.run_check(rec), 0)
        clean = fake_pass(self.work, self.manifest, "leak")
        clean["temp_leftover"] = 1
        self.assertEqual(self.run_check(clean), 1)


class CompareTest(unittest.TestCase):
    def test_rules(self):
        t = pa.table({"b": [1.0, float("nan")], "a": ["x", "y"]})
        self.assertIsNone(check.compare(t, t))
        self.assertIsNone(check.compare(t, t.take([1, 0])))
        wrong = pa.table({"b": [1.0, 2.0], "a": ["x", "y"]})
        self.assertIsNotNone(check.compare(wrong, t))
        self.assertIsNotNone(check.compare(t.select(["a"]), t))


class SpecTest(unittest.TestCase):
    def test_per_layer_matches_layers_json(self):
        root = os.path.dirname(HERE)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)
        want = [(n, u, b) for layer in layers["layers"]
                for n, (u, b) in layer["metrics"].items()]
        got = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
        self.assertEqual(got, want)
        for layer in layers["layers"]:
            self.assertLessEqual(set(layer.get("from_copy", [])), set(layer["metrics"]))
        self.assertEqual(sorted(m["name"] for m in spec["end_to_end"]),
                         sorted(layers["end_to_end"]))


if __name__ == "__main__":
    try:
        unittest.main(verbosity=2)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
