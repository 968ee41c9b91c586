"""Tests for span_jobs.py over a small synthetic event log.

    python3 -m unittest tools/test_span_jobs.py
"""
import io
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import span_jobs  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."
DESC = "graft-corpus-builder-x\nid = q\nrunId = r1\nbatch = %d"


def start(xid, root, t, plan, desc=DESC % 3):
    return {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": xid,
            "rootExecutionId": root, "description": desc, "details": "",
            "physicalPlanDescription": "== Physical Plan ==\n" + plan, "time": t}


def end(xid, t):
    return {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": xid, "time": t}


def job(jid, xid, span, t):
    props = {"graft.span": span}
    if xid is not None:
        props["spark.sql.execution.id"] = str(xid)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Properties": props}


def log():
    """One trigger (root #10, 1000-2000 ms): a stage execution with two
    jobs, a gate execution with one, a commit execution on a pool thread
    that carries a stale root id, and one job outside any execution;
    plus an unrelated execution after the trigger."""
    events = [
        start(10, 10, 1000, "Scan json  (1)"),
        start(11, 10, 1100, "AdaptiveSparkPlan (4)\n+- Project (3)"),
        job(1, 11, "corpus/stage", 1110), job(2, 11, "corpus/stage", 1150),
        end(11, 1300),
        start(12, 10, 1300, "AdaptiveSparkPlan (9)\n+- BroadcastHashJoin LeftAnti BuildRight (8)"),
        job(3, 12, "corpus/gate", 1310),
        end(12, 1500),
        start(13, 4, 1500, "Execute InsertIntoHadoopFsRelationCommand (3)"),
        job(4, 13, "corpus/commit/docs", 1510),
        end(13, 1600),
        job(5, None, "corpus/commit/bloom", 1700),
        end(10, 2000),
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"runId": "r1", "batchId": 3, "durationMs": {"addBatch": 987}}},
        start(20, 20, 5000, "LocalTableScan (1)", desc="collect at Main.scala:1"),
        job(6, 20, "-", 5010), end(20, 5100),
    ]
    return [json.dumps(e) + "\n" for e in events]


class SpanJobsTest(unittest.TestCase):
    def test_triggers(self):
        trigs = span_jobs.triggers(*span_jobs.load(log()))
        self.assertEqual(len(trigs), 1)
        root, ms, batch, rows = trigs[0]
        self.assertEqual((root["id"], ms, batch), (10, 987, 3))
        self.assertEqual(rows, [
            (11, 200, 2, "corpus/stage", "Project"),
            (12, 200, 1, "corpus/gate", "BroadcastHashJoin LeftAnti BuildRight"),
            (13, 100, 1, "corpus/commit/docs", "Execute InsertIntoHadoopFsRelationCommand"),
            (None, 0, 1, "corpus/commit/bloom", "(no execution)")])

    def test_report(self):
        out = io.StringIO()
        span_jobs.report(span_jobs.triggers(*span_jobs.load(log())), out)
        text = out.getvalue()
        self.assertIn("batch 3  root #10  addBatch 0.987s  executions 3  jobs 5", text)
        self.assertIn("corpus/stage                       1 executions   2 jobs   0.200s", text)

    def test_stdin(self):
        tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "span_jobs.py")
        r = subprocess.run([sys.executable, tool, "-"], input="".join(log()),
                           capture_output=True, text=True, check=True)
        self.assertTrue(r.stdout.startswith("batch 3  root #10"))


if __name__ == "__main__":
    unittest.main()
