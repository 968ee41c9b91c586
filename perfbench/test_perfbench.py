"""Tests of the benchmark itself (no Spark): the generator is
deterministic, and every output check accepts a correct output and
rejects a deliberately corrupted one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import gzip
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def tmpdir(test):
    root = os.path.join(os.path.dirname(HERE), ".bench_build", "test-tmp")
    os.makedirs(root, exist_ok=True)
    d = tempfile.mkdtemp(dir=root)
    test.addCleanup(shutil.rmtree, d, True)
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


SMALL = {
    "backfill": lambda seed, out: gen.gen_backfill(seed, out, rounds=2, objects=3, records=40),
    "serve": gen.gen_serve,
    "corpus": lambda seed, out: gen.gen_corpus(seed, out, drains=2, per_file=8, tokens=40),
    "clusters": lambda seed, out: gen.gen_clusters(seed, out, cycles=1, per_file=6),
}


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        for workload, make in SMALL.items():
            with self.subTest(workload=workload):
                d = tmpdir(self)
                m1 = make(3, os.path.join(d, "a"))
                m2 = make(3, os.path.join(d, "b"))
                m3 = make(4, os.path.join(d, "c"))
                self.assertEqual(json.dumps(m1, sort_keys=True), json.dumps(m2, sort_keys=True))
                self.assertTrue(same_tree(os.path.join(d, "a"), os.path.join(d, "b")))
                self.assertFalse(same_tree(os.path.join(d, "a"), os.path.join(d, "c")))


# ---- synthetic program outputs: what a correct program leaves on disk

def _struct_of(paths):
    tree = {}
    for p in paths:
        node = tree
        parts = p.split(".")
        for part in parts[:-1]:
            node = node.setdefault(part, {})
        node[parts[-1]] = None

    def typ(node):
        return pa.struct([(k, typ(v) if isinstance(v, dict) else pa.string())
                          for k, v in sorted(node.items())])
    return typ(tree)


def write_table(warehouse, table, ids, fields):
    ds, tbl = table.split(".")
    data = os.path.join(warehouse, ds, tbl, "data", "__part=2024-06-10")
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(warehouse, ds, tbl, "schema.json"), "w") as f:
        json.dump({"version": 1}, f)
    st = _struct_of(fields)
    pq.write_table(pa.table({"id": pa.array(ids, pa.string()),
                             "data": pa.array([None] * len(ids), st)}),
                   os.path.join(data, "part-00000.parquet"))


def write_meta(warehouse, table, columns):
    d = os.path.join(warehouse, "_meta", table, "data", "__part=2024-06")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(d, "part-00000.parquet"))


def ingest_rows(paths):
    """Reference routing of the benchmark's rules (perfbench/rules.json):
    per-table ids and quarantine row count for the given objects."""
    ids = {}
    quarantine = 0
    for p in paths:
        audit = os.path.basename(p).startswith("audit-")
        with gzip.open(p, "rt") as f:
            records = [json.loads(line) for line in f]
        for r in records:
            for it in r["items"]:
                ids.setdefault("logs.items", []).append(it["iid"])
            if "ts" in r:
                ids.setdefault("logs.events", []).append(r["rid"])
                ids.setdefault("logs.metrics", []).append(r["rid"])
                if audit:
                    ids.setdefault("logs.audit_" + r["region"], []).append(r["rid"])
            else:
                quarantine += 3 if audit else 2
    return ids, quarantine


def write_warehouse(warehouse, ids, fields, quarantine):
    for t, v in ids.items():
        write_table(warehouse, t, v, fields[t])
    write_meta(warehouse, "quarantine", {"ingest_id": pa.array(["q"] * quarantine, pa.string())})


def failing(results):
    return {name for name, ok, _ in results if not ok}


class BackfillCheckTest(unittest.TestCase):

    def setUp(self):
        d = tmpdir(self)
        self.inp = os.path.join(d, "in")
        self.wh = os.path.join(d, "wh")
        self.m = gen.gen_backfill(5, self.inp, rounds=2, objects=3, records=60)
        paths = [os.path.join(self.inp, "round-%02d" % r, o["name"])
                 for r in range(2) for o in self.m["rounds"][r]["objects"]]
        self.ids, self.quarantine = ingest_rows(paths)
        self.result = {"result": {"rounds": [{}, {}], "warehouse": self.wh}}

    def run_check(self):
        return failing(check.check_backfill(self.m, self.result))

    def write(self, ids=None, fields=None, quarantine=None):
        write_warehouse(self.wh, ids or self.ids, fields or self.m["rounds"][-1]["fields"],
                        self.quarantine if quarantine is None else quarantine)

    def test_correct_output_passes(self):
        self.write()
        self.assertEqual(self.run_check(), set())

    def test_duplicated_row_fails(self):
        ids = dict(self.ids)
        ids["logs.events"] = ids["logs.events"] + ids["logs.events"][:1]
        self.write(ids=ids)
        self.assertEqual(self.run_check(), {"logs.events.rows", "logs.events.distinct_ids",
                                            "logs.events.ids"})

    def test_lost_row_fails(self):
        ids = dict(self.ids)
        ids["logs.items"] = ids["logs.items"][1:]
        self.write(ids=ids)
        self.assertIn("logs.items.rows", self.run_check())

    def test_wrong_id_fails(self):
        ids = dict(self.ids)
        ids["logs.metrics"] = ids["logs.metrics"][1:] + ["not-an-id"]
        self.write(ids=ids)
        self.assertEqual(self.run_check(), {"logs.metrics.ids"})

    def test_missing_field_fails(self):
        fields = dict(self.m["rounds"][-1]["fields"])
        fields["logs.events"] = [f for f in fields["logs.events"] if f != "attr_1"]
        self.write(fields=fields)
        self.assertEqual(self.run_check(), {"logs.events.fields"})

    def test_quarantine_count_fails(self):
        self.write(quarantine=self.quarantine - 1)
        self.assertEqual(self.run_check(), {"quarantine.rows"})


class ServeCheckTest(unittest.TestCase):

    def setUp(self):
        d = tmpdir(self)
        self.inp = os.path.join(d, "in")
        self.wh = os.path.join(d, "wh")
        self.spool = os.path.join(d, "spool")
        os.makedirs(self.spool)
        self.m = gen.gen_serve(5, self.inp)
        with open(os.path.join(self.inp, "schedule.json")) as f:
            sends = json.load(f)[:12]
        self.load = {"sends": [dict(s, ok=True, due=0.0, sent=0.0, attempts=[[0, 0, 204]])
                               for s in sends]}
        self.notified = sorted({s["object"] for s in sends})
        self.result = {"result": {"warehouse": self.wh, "spool": self.spool}}

    def write(self, dup_object=None, drop_commit=None, extra_spool=0):
        paths = [os.path.join(self.inp, "objects", o) for o in self.notified]
        ids, _ = ingest_rows(paths)
        if dup_object:  # the object ingested twice, as if dedup let it through
            more, _ = ingest_rows([os.path.join(self.inp, "objects", dup_object)])
            for t, v in more.items():
                ids[t] = ids[t] + v
        fields = {}
        objs = {o["name"]: o for o in self.m["objects"]}
        for o in self.notified:
            gen._merge_fields(fields, objs[o]["fields"])
        delivered = check.serve_delivery(self.load["sends"])
        quarantine = sum(objs[o]["quarantine"] * len(delivered[o]) for o in self.notified)
        write_warehouse(self.wh, ids, fields, quarantine)
        spools = sum(len(v) for v in delivered.values()) + extra_spool
        for i in range(spools):
            open(os.path.join(self.spool, "%d.json" % i), "w").close()
        logged = [o for o in self.notified if o != drop_commit]
        write_meta(self.wh, "source_log", {
            "ingest_id": pa.array(["i%d" % k for k in range(len(logged))], pa.string()),
            "path": pa.array(["file:/landing/" + o for o in logged], pa.string())})
        write_meta(self.wh, "load_log", {
            "ingest_id": pa.array(["i%d" % k for k in range(len(logged))], pa.string()),
            "finished_at": pa.array([int(1.7e9) + k for k in range(len(logged))], pa.int64())
            .cast(pa.timestamp("s"))})

    def run_check(self):
        return failing(check.check_serve(self.m, self.result, self.load))

    def test_correct_output_passes(self):
        self.write()
        self.assertEqual(self.run_check(), set())

    def test_object_committed_twice_fails(self):
        self.write(dup_object=self.notified[0])
        self.assertIn("logs.events.distinct_ids", self.run_check())

    def test_object_never_committed_fails(self):
        self.write(drop_commit=self.notified[1])
        self.assertEqual(self.run_check(), {"objects.committed"})

    def test_redelivery_spooled_twice_fails(self):
        self.write(extra_spool=1)
        self.assertEqual(self.run_check(), {"state.spooled_once"})

    def test_request_not_2xx_fails(self):
        self.write()
        self.load["sends"][0]["ok"] = False
        self.assertIn("requests.2xx", self.run_check())


class CorpusCheckTest(unittest.TestCase):

    def setUp(self):
        d = tmpdir(self)
        self.m = gen.gen_corpus(5, os.path.join(d, "in"), drains=3, per_file=10, tokens=40)
        self.corpus = os.path.join(d, "corpus")
        self.result = {"result": {"files": 8, "corpus": self.corpus}}
        self.kept = sorted(gen.expected_corpus(self.m, 8).values())

    def write(self, ids):
        os.makedirs(os.path.join(self.corpus, "docs"), exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       os.path.join(self.corpus, "docs", "part-0.parquet"))

    def run_check(self):
        return failing(check.check_corpus(self.m, self.result))

    def test_correct_output_passes(self):
        self.write(self.kept)
        self.assertEqual(self.run_check(), set())

    def test_second_family_member_kept_fails(self):
        fam_of = {}
        for f in self.m["files"][:8]:
            fam_of.update(zip(f["ids"], f["families"]))
        extra = next(i for i, fam in sorted(fam_of.items())
                     if i not in self.kept and fam in {fam_of[k] for k in self.kept})
        self.write(self.kept + [extra])
        self.assertIn("docs.one_per_family", self.run_check())

    def test_family_dropped_fails(self):
        self.write(self.kept[1:])
        self.assertEqual(self.run_check(), {"docs.families", "docs.kept_ids"})


class ClustersCheckTest(unittest.TestCase):

    def setUp(self):
        d = tmpdir(self)
        self.m = gen.gen_clusters(5, os.path.join(d, "in"), cycles=1, per_file=6)
        self.dir = os.path.join(d, "cycle-00")
        self.result = {"result": {"cycles": [{"cycle": "cycle-00", "dir": self.dir}]}}

    def write(self, phase, labels):
        out = os.path.join(self.dir, "labels-" + phase)
        os.makedirs(out, exist_ok=True)
        pq.write_table(pa.table({"id": pa.array([a for a, _ in labels], pa.int64()),
                                 "comp": pa.array([b for _, b in labels], pa.int64())}),
                       os.path.join(out, "part-0.parquet"))

    def run_check(self):
        return failing(check.check_clusters(self.m, self.result))

    def test_correct_output_passes(self):
        c = self.m["cycles"][0]
        self.write("before", c["before"])
        self.write("after", c["after"])
        self.assertEqual(self.run_check(), set())

    def test_expire_does_not_split_fails(self):
        c = self.m["cycles"][0]
        self.write("before", c["before"])
        self.write("after", [(i, c["before"][0][1]) for i, _ in c["after"]])
        self.assertEqual(self.run_check(), {"cycle-00.labels_after_expire"})

    def test_bridge_splits_the_component(self):
        c = self.m["cycles"][0]
        before = len(set(comp for _, comp in c["before"]))
        after_ids = {i for i, _ in c["after"]}
        merged = {comp for i, comp in c["before"] if i in after_ids}
        self.assertGreater(len(set(comp for _, comp in c["after"])), len(merged))
        self.assertGreater(before, 0)


if __name__ == "__main__":
    unittest.main()
