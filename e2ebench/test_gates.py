"""Tests that each correctness gate of the benchmark trips on corrupted truth.

Each case copies a seed's cached inputs, corrupts one piece of truth (or
one twin file), runs the workload for one second against the copy and
expects the run to report correct=false with the matching check message.

    python3 e2ebench/test_gates.py        (about two minutes)
"""
import json
import shutil
import struct
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

SEED = 7


def run_on(workload, inputs):
    """Runs the workload on `inputs`; returns (correct, errors)."""
    out = run.WORK / "result.json"
    rc = run.java(build.build(), ["run", "--workload", workload, "--inputs", inputs,
                                  "--work", run.WORK,
                                  "--seconds", 1, "--trace", 0, "--out", out],
                 run.HEAP, run.WORK / "run.log", 170)
    assert rc == 0, (run.WORK / "run.log").read_text()[-3000:]
    res = json.loads(out.read_text())
    return res["correct"], res["errors"]


class Gates(unittest.TestCase):
    def setUp(self):
        if run.WORK.exists():
            self.fail(f"residue at {run.WORK}")
        run.WORK.mkdir(parents=True)

    def tearDown(self):
        shutil.rmtree(run.WORK, ignore_errors=True)

    def copy(self, workload):
        dst = run.WORK / "inputs"
        shutil.copytree(run.inputs(build.build(), workload, SEED), dst)
        return dst

    def expect(self, workload, inputs, text):
        correct, errors = run_on(workload, inputs)
        self.assertFalse(correct)
        self.assertTrue(any(text in e for e in errors), errors)

    def test_analyze_operators_against_truth(self):
        import pyarrow.parquet as pq
        d = self.copy("analyze_traces")
        ops = ("trace_tree", "critical_path", "self_time", "red_metrics", "service_graph",
               "semantic_clusters")
        for q in ops:  # drop one truth row of every operator
            f = d / f"truth_{q}.parquet"
            pq.write_table(pq.read_table(f).slice(1), f)
        correct, errors = run_on("analyze_traces", d)
        self.assertFalse(correct)
        for q in ops:
            self.assertTrue(any(e.startswith(f"{q}: 0 truth rows missing, 1 unexpected")
                                for e in errors), (q, errors))

    def test_ingest_export_against_acked_truth(self):
        d = self.copy("ingest_http_pb")
        f = d / "bodies.bin"
        b = bytearray(f.read_bytes())
        # body 0: int count, then UTF family, then 6 row counts, 6 sums
        fam_len = struct.unpack(">H", b[4:6])[0]
        sum0 = 6 + fam_len + 6 * 8
        struct.pack_into(">q", b, sum0, struct.unpack(">q", b[sum0:sum0 + 8])[0] + 1)
        f.write_bytes(bytes(b))
        self.expect("ingest_http_pb", d, "export logs: read back")


if __name__ == "__main__":
    unittest.main(verbosity=2)
