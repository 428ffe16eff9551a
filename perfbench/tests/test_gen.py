import json
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402

# scratch space inside the checkout's (ignored) build directory
SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..",
                       ".bench_build", "perfbench")
os.makedirs(SCRATCH, exist_ok=True)


def snapshot(d):
    """Every file under d: relative path -> (bytes, mtime where the
    generator sets it)."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            rel = os.path.relpath(p, d)
            with open(p, "rb") as fh:
                mtime = int(os.stat(p).st_mtime) if rel.startswith("replay") else None
                out[rel] = (fh.read(), mtime)
    return out


class DeterminismTest(unittest.TestCase):
    def generate(self, workload, seed, seconds=2):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            gen.generate(workload, seed, d, seconds)
            return snapshot(d)

    def test_same_seed_same_bytes(self):
        for w in ("engine_replay", "eca_live", "gate_live"):
            with self.subTest(workload=w):
                a, b = self.generate(w, 5), self.generate(w, 5)
                self.assertTrue(a)
                self.assertEqual(a, b)

    def test_other_seed_other_bytes(self):
        for w in ("engine_replay", "eca_live", "gate_live"):
            with self.subTest(workload=w):
                self.assertNotEqual(self.generate(w, 5), self.generate(w, 6))


class ReplayInputTest(unittest.TestCase):
    def test_files_in_time_order(self):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            gen.write_replay(3, d)
            files = sorted(os.listdir(os.path.join(d, "replay")))
            self.assertEqual(len(files), gen.REPLAY_FILES)
            mtimes = [os.stat(os.path.join(d, "replay", f)).st_mtime for f in files]
            self.assertEqual(mtimes, sorted(set(mtimes)))
            last = None
            for f in files:
                with open(os.path.join(d, "replay", f)) as fh:
                    ts = [line.split("|")[8] for line in fh]
                self.assertEqual(len(ts), gen.REPLAY_FILE_EVENTS)
                if last is not None:
                    self.assertLessEqual(last, ts[0])
                last = ts[-1]


class GateInputTest(unittest.TestCase):
    def test_feed_has_no_pair_of_its_own(self):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            gen.write_gate_live(9, d, 4)

            def rows(name):
                with open(os.path.join(d, name)) as f:
                    return [json.loads(line) for line in f]
            feed, landed = rows("feed.jsonl"), rows("landed_docs.jsonl")
            ids = [r["doc_id"] for r in feed]
            self.assertEqual(len(ids), len(set(ids)))
            self.assertFalse(set(ids) & {r["doc_id"] for r in landed})
            texts = [r["text"] for r in feed]
            self.assertEqual(len(texts), len(set(texts)))
            v = np.array([r["embedding"] for r in feed])
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            cos = v @ v.T
            np.fill_diagonal(cos, 0)
            self.assertLess(cos.max(), 0.3)


if __name__ == "__main__":
    unittest.main()
