"""Output checks against the generator's ground truth.

Every check reads what the program left on disk with pyarrow, never
through the program. Each returns a list of (name, ok, detail) tuples;
run.py counts a failed check as a failed operation.
"""

import datetime
import os

import pyarrow.parquet as pq

import gen


def parquet_files(root):
    """Data files under a table or store dir (hidden and `_` dirs skipped)."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")) or x.startswith("__"))
        out += [os.path.join(d, f) for f in sorted(files)
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return out


def read_column(root, column):
    vals = []
    for f in parquet_files(root):
        vals += pq.read_table(f, columns=[column]).column(column).to_pylist()
    return vals


def read_columns(root, columns):
    rows = []
    for f in parquet_files(root):
        t = pq.read_table(f, columns=columns).to_pydict()
        rows += list(zip(*(t[c] for c in columns)))
    return rows


def field_paths(tp, prefix=""):
    """Dotted paths of a struct's fields, structs expanded, lists leaves."""
    out = []
    for i in range(tp.num_fields):
        f = tp.field(i)
        name = prefix + f.name
        if f.type.num_fields and str(f.type).startswith("struct"):
            out += field_paths(f.type, name + ".")
        else:
            out.append(name)
    return out


def data_fields(root):
    fields = set()
    for f in parquet_files(root):
        s = pq.read_schema(f)
        fields |= set(field_paths(s.field("data").type))
    return sorted(fields)


def table_dir(warehouse, table):
    ds, tbl = table.split(".")
    return os.path.join(warehouse, ds, tbl, "data")


def tables(warehouse):
    out = []
    for ds in sorted(os.listdir(warehouse)):
        if ds.startswith("_") or not os.path.isdir(os.path.join(warehouse, ds)):
            continue
        for t in sorted(os.listdir(os.path.join(warehouse, ds))):
            if os.path.exists(os.path.join(warehouse, ds, t, "schema.json")):
                out.append("%s.%s" % (ds, t))
    return out


def _check_tables(warehouse, dest, fields, quarantine):
    """Row counts, distinct ids and id digests per table, quarantine row
    count, and each table's data field set."""
    res = []
    found = tables(warehouse)
    res.append(("tables", sorted(found) == sorted(dest),
                "found %s expected %s" % (sorted(found), sorted(dest))))
    for t, exp in sorted(dest.items()):
        ids = read_column(table_dir(warehouse, t), "id") if t in found else []
        res.append(("%s.rows" % t, len(ids) == exp["count"],
                    "%d rows, expected %d" % (len(ids), exp["count"])))
        res.append(("%s.distinct_ids" % t, len(set(ids)) == exp["distinct"] == len(ids),
                    "%d distinct of %d, expected %d" % (len(set(ids)), len(ids), exp["distinct"])))
        res.append(("%s.ids" % t, gen.id_digest(ids) == exp["digest"], "id multiset digest"))
        if fields is not None and t in found:
            got = data_fields(table_dir(warehouse, t))
            res.append(("%s.fields" % t, got == fields[t],
                        "missing %s extra %s" % (sorted(set(fields[t]) - set(got)),
                                                 sorted(set(got) - set(fields[t])))))
    q = len(read_column(os.path.join(warehouse, "_meta", "quarantine", "data"), "ingest_id"))
    res.append(("quarantine.rows", q == quarantine, "%d rows, expected %d" % (q, quarantine)))
    return res


def _sum_dest(parts):
    """Combine per-part destination summaries (counts and digests add)."""
    out = {}
    for d in parts:
        for t, s in d.items():
            o = out.setdefault(t, {"count": 0, "distinct": 0, "digest": "0"})
            o["count"] += s["count"]
            o["distinct"] += s["distinct"]
            o["digest"] = str((int(o["digest"]) + int(s["digest"])) % (1 << 64))
    return out


def check_backfill(manifest, result):
    rounds = manifest["rounds"][:len(result["result"]["rounds"])]
    dest = _sum_dest(r["dest"] for r in rounds)
    return _check_tables(result["result"]["warehouse"], dest, rounds[-1]["fields"],
                         sum(r["quarantine"] for r in rounds))


def serve_delivery(sends):
    """What reached the program: objects notified (by name) and, per
    object, the distinct message ids it was notified under."""
    ids = {}
    for s in sends:
        if s["ok"]:
            ids.setdefault(s["object"], set()).add(s["message_id"])
    return ids


def check_serve(manifest, result, load):
    res = []
    sends = load["sends"]
    failed = [s for s in sends if not s["ok"]]
    res.append(("requests.2xx", not failed, "%d of %d requests not 2xx after %d attempts"
                % (len(failed), len(sends), 6)))
    delivered = serve_delivery(sends)
    objs = {o["name"]: o for o in manifest["objects"]}
    notified = [objs[n] for n in sorted(delivered)]
    dest = _sum_dest(o["dest"] for o in notified)
    fields = {}
    for o in notified:
        gen._merge_fields(fields, o["fields"])
    # each spooled notification is one ingest of its object, so quarantine
    # rows repeat per notification; table rows must not (dedup is on)
    quarantine = sum(o["quarantine"] * len(delivered[o["name"]]) for o in notified)
    res += _check_tables(result["result"]["warehouse"], dest, fields, quarantine)
    spooled = spool_count(result["result"]["spool"])
    expect_spool = sum(len(v) for v in delivered.values())
    res.append(("state.spooled_once", spooled == expect_spool,
                "%d spool files, expected one per distinct message id (%d)"
                % (spooled, expect_spool)))
    committed = committed_at(result["result"]["warehouse"])
    missing = sorted(set(delivered) - set(committed))
    res.append(("objects.committed", not missing, "%d notified objects never committed %s"
                % (len(missing), missing[:3])))
    return res


def spool_count(spool):
    return len([f for f in os.listdir(spool) if f.endswith(".json")])


def committed_at(warehouse):
    """Object name -> epoch seconds of the first load_log.finished_at of an
    ingest whose source_log lists the object."""
    meta = os.path.join(warehouse, "_meta")
    finished = {}
    for ingest, ts in read_columns(os.path.join(meta, "load_log", "data"),
                                   ["ingest_id", "finished_at"]):
        # Spark stores UTC instants; pyarrow returns them without a zone
        t = ts.replace(tzinfo=datetime.timezone.utc).timestamp()
        finished[ingest] = max(finished.get(ingest, t), t)
    out = {}
    for ingest, path in read_columns(os.path.join(meta, "source_log", "data"),
                                     ["ingest_id", "path"]):
        if ingest in finished:
            name = path.rsplit("/", 1)[-1]
            out[name] = min(out.get(name, finished[ingest]), finished[ingest])
    return out


def check_corpus(manifest, result):
    nfiles = result["result"]["files"]
    expected = gen.expected_corpus(manifest, nfiles)
    rows = read_columns(os.path.join(result["result"]["corpus"], "docs"), ["doc_id"])
    kept = [r[0] for r in rows]
    fam_of = {}
    for f in manifest["files"][:nfiles]:
        fam_of.update(zip(f["ids"], f["families"]))
    per_family = {}
    for i in kept:
        per_family.setdefault(fam_of.get(i), []).append(i)
    multi = {k: v for k, v in per_family.items() if len(v) > 1}
    res = [
        ("docs.one_per_family", not multi and None not in per_family,
         "%d families kept more than once, %d unknown ids" % (len(multi), len(per_family.get(None, [])))),
        ("docs.families", len(per_family) == len(expected),
         "%d families kept, expected %d" % (len(per_family), len(expected))),
        ("docs.kept_ids", sorted(kept) == sorted(expected.values()),
         "kept ids equal the first-arrival min id per family"),
    ]
    return res


def check_clusters(manifest, result):
    res = []
    cycles = {c["cycle"]: c for c in manifest["cycles"]}
    for c in result["result"]["cycles"]:
        exp = cycles[int(c["cycle"].split("-")[1])]
        for phase in ("before", "after"):
            got = sorted(tuple(r) for r in read_columns(
                os.path.join(c["dir"], "labels-" + phase), ["id", "comp"]))
            want = sorted(tuple(x) for x in exp[phase])
            res.append(("%s.labels_%s_expire" % (c["cycle"], phase), got == want,
                        "%d labels, expected %d, %d differ" % (
                            len(got), len(want), len(set(got) ^ set(want)))))
    return res


def run_checks(workload, manifest, result, load=None):
    if workload == "backfill":
        return check_backfill(manifest, result)
    if workload == "serve":
        return check_serve(manifest, result, load)
    if workload == "corpus":
        return check_corpus(manifest, result)
    if workload == "clusters":
        return check_clusters(manifest, result)
    raise ValueError(workload)

