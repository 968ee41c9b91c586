"""Seeded input generator and ground truth for the four benchmark workloads.

`generate(workload, seed, out_dir)` writes the workload's inputs under
`out_dir` and returns the ground-truth manifest (also written as
`out_dir/manifest.json`). The same (workload, seed) always produces
byte-identical files: every random choice comes from a `random.Random`
seeded by a string, gzip headers carry mtime 0, and parquet is written by
pyarrow with fixed options.

The program under test sees only these files (and, for `serve`, the HTTP
requests `loadgen.py` makes from the schedule written here).
"""

import base64
import functools
import gzip
import hashlib
import json
import os
import random

BASE_TS = 1718000000.0  # 2024-06-10, the event-time origin of every record
DAY = 86400.0

# ---- sizes (the "input size" each workload reports) ----
# A run does a fixed amount of work for a given --seconds: as many units
# as take about that long on a 4-core box (UNIT_S each). Fixed work keeps
# runs comparable: a faster program must not be handed larger stores.
UNIT_S = {"backfill": 5.0, "corpus": 7.5, "clusters": 45.0, "serve": 1.0}
BACKFILL_OBJECTS = 6          # objects per round (every third one is an audit object)
BACKFILL_RECORDS = 2500       # records per object
SERVE_RATE = 1.0              # notifications per second (offered, open loop)
SERVE_RECORDS = 40            # records per landed object
CORPUS_FILES_PER_DRAIN = 4    # files landed per CorpusBuilder.build drain
CORPUS_DOCS = 40              # docs per file
CORPUS_TOKENS = 400           # words per doc
CLUSTER_FILES = 12            # files per lifecycle (drain 1 takes the first 8)
CLUSTER_FIRST_DRAIN = 8
CLUSTER_HORIZON = 6           # expire(fromBatch = 6) drops batches 0..5
CLUSTER_DOCS = 24             # docs per file
CLUSTER_TOKENS = 300
CLUSTER_THRESHOLD = 0.8       # ClusterStream.streamClusters' default Jaccard threshold

INVALID_SHARE = 0.02          # records without a timestamp (quarantined)


def id_digest(ids):
    """Order-independent multiset digest of string ids (sum of 64-bit
    blake2b, mod 2^64): equal iff the same ids with the same multiplicity,
    up to hash collisions."""
    total = 0
    for i in ids:
        total += int.from_bytes(hashlib.blake2b(i.encode(), digest_size=8).digest(), "little")
    return str(total % (1 << 64))


def _rng(*parts):
    return random.Random(":".join(str(p) for p in parts))


def _vocab(n=20000):
    r = _rng("vocab")
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(r.choice(letters) for _ in range(r.randint(4, 9))))
    return sorted(words)


VOCAB = None


def vocab():
    global VOCAB
    if VOCAB is None:
        VOCAB = _vocab()
    return VOCAB


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _gz(text):
    return gzip.compress(text.encode(), compresslevel=1, mtime=0)


# ---------------------------------------------------------------- ingest

# Base fields of every record, as dotted paths (structs expanded, arrays leaves).
_EVENT_FIELDS = ["bytes", "items", "kind", "latency_ms", "ok", "region", "rid", "tags", "ts",
                 "user.geo.lat", "user.geo.lon", "user.id", "user.tier"]
_AUDIT_FIELDS = ["action", "actor.id", "actor.role"]
_ITEM_FIELDS = ["at", "iid", "price", "qty", "sku"]
_METRIC_FIELDS = ["bytes", "kind", "latency_ms"]
KINDS = ("click", "view", "buy", "scroll", "share")


def _body_pool(r, n, audit):
    """Record bodies minus rid/ts/drift fields; `§` is replaced by the rid.
    Returns (template, item count, region) triples."""
    pool = []
    for _ in range(n):
        nitems = r.randrange(0, 4)
        items = ",".join(
            '{"iid":"§-%d","sku":"s%d","qty":%d,"price":%.2f,"at":%%TS%d%%}'
            % (k, r.randrange(500), r.randrange(1, 9), r.random() * 100 + 0.01, k)
            for k in range(nitems))
        body = ('"kind":"%s","region":"%s","user":{"id":"u%d","tier":%d,'
                '"geo":{"lat":%.4f,"lon":%.4f}},"items":[%s],"tags":["%s","%s"],'
                '"bytes":%d,"latency_ms":%.2f,"ok":%s'
                % (r.choice(KINDS), r.choice(("eu", "us")), r.randrange(10000), r.randrange(4),
                   r.uniform(-89, 89) + 0.0001, r.uniform(-179, 179) + 0.0001, items,
                   r.choice(KINDS), r.choice(KINDS), r.randrange(100, 100000),
                   r.random() * 500 + 0.01, "true" if r.random() < 0.9 else "false"))
        if audit:
            body += ',"action":"%s","actor":{"id":"a%d","role":"%s"}' % (
                r.choice(("read", "write", "grant")), r.randrange(100), r.choice(("admin", "svc")))
        region = "eu" if '"region":"eu"' in body else "us"
        pool.append((body, nitems, region))
    return pool


class _Dest:
    def __init__(self):
        self.ids = {}

    def add(self, table, i):
        self.ids.setdefault(table, []).append(i)

    def summary(self):
        return {t: {"count": len(v), "distinct": len(set(v)), "digest": id_digest(v)}
                for t, v in sorted(self.ids.items())}


def _ingest_object(r, pool, rid_prefix, n, drift, audit):
    """One NDJSON object: (text, per-destination ids, quarantine rows,
    records without a timestamp)."""
    lines = []
    dest = _Dest()
    quarantine = 0
    invalid = 0
    drift_fields = ",".join('"attr_%d":"v%d"' % (d, d) for d in drift)
    ctx = ",".join('"c_%d":%d' % (d, d) for d in drift)
    for i in range(n):
        rid = "%s-%d" % (rid_prefix, i)
        body, nitems, region = pool[r.randrange(len(pool))]
        ts = BASE_TS + r.random() * 3 * DAY
        has_ts = r.random() >= INVALID_SHARE
        body = body.replace("§", rid)
        for k in range(nitems):
            body = body.replace("%%TS%d%%" % k, "%.3f" % (ts + k))
        head = '{"rid":"%s",' % rid + ('"ts":%.3f,' % ts if has_ts else "")
        tail = (',' + drift_fields if drift_fields else "") + (',"ctx":{%s}' % ctx if ctx else "")
        lines.append(head + body + tail + "}")
        for k in range(nitems):
            dest.add("logs.items", "%s-%d" % (rid, k))
        if has_ts:
            dest.add("logs.events", rid)
            dest.add("logs.metrics", rid)
            if audit:
                dest.add("logs.audit_" + region, rid)
        else:
            invalid += 1
            quarantine += 3 if audit else 2
    return "\n".join(lines) + "\n", dest, quarantine, invalid


def _ingest_fields(drift, audit_regions):
    extra = ["attr_%d" % d for d in drift] + ["ctx.c_%d" % d for d in drift]
    events = sorted(set(_EVENT_FIELDS) - {"user.geo.lat", "user.geo.lon"} | set(extra)
                    | (set(_AUDIT_FIELDS) if audit_regions else set()))
    out = {"logs.events": events, "logs.items": list(_ITEM_FIELDS),
           "logs.metrics": list(_METRIC_FIELDS)}
    for reg in audit_regions:
        out["logs.audit_" + reg] = sorted(set(_EVENT_FIELDS) | set(_AUDIT_FIELDS) | set(extra))
    return out


def _merge_fields(acc, new):
    for t, fs in new.items():
        acc[t] = sorted(set(acc.get(t, [])) | set(fs))
    return acc


def gen_backfill_round(seed, out, rd, objects=BACKFILL_OBJECTS, records=BACKFILL_RECORDS,
                       tag="b"):
    """Round `rd`: its objects under `out/round-<rd>` and its ground truth.
    Round rd carries the drift fields attr_0..attr_rd and ctx.c_0..c_rd,
    so every round evolves the table schemas."""
    r = _rng("backfill", seed, tag, rd)
    pools = {a: _body_pool(r, 200, a) for a in (False, True)}
    drift = list(range(rd + 1))
    objs = []
    dest = _Dest()
    quarantine = invalid = source_rows = size = 0
    regions = set()
    for o in range(objects):
        audit = o % 3 == 2
        name = "%s-%03d.json.gz" % ("audit" if audit else "web", o)
        text, d, q, inv = _ingest_object(r, pools[audit], "%s%s-%d-%d" % (tag, seed, rd, o),
                                         records, drift, audit)
        data = _gz(text)
        size += len(data)
        _write(os.path.join(out, "round-%02d" % rd, name), data)
        for t, ids in d.ids.items():
            for i in ids:
                dest.add(t, i)
            if t.startswith("logs.audit_"):
                regions.add(t[len("logs.audit_"):])
        quarantine += q
        invalid += inv
        source_rows += records
        objs.append({"name": name, "records": records, "invalid": inv})
    return {"round": rd, "objects": objs, "records": source_rows, "invalid": invalid,
            "valid": source_rows - invalid, "quarantine": quarantine, "dest": dest.summary(),
            "round_fields": _ingest_fields(drift, sorted(regions)), "bytes": size}


def units(workload, seconds):
    """Units of work (rounds, drains, lifecycles, send seconds) of a run."""
    return max(1, int(round(seconds / UNIT_S[workload])))


def gen_backfill(seed, out, rounds, objects=BACKFILL_OBJECTS,
                 records=BACKFILL_RECORDS, tag="b", map_fn=map):
    done = list(map_fn(functools.partial(gen_backfill_round, seed, out, objects=objects,
                                         records=records, tag=tag), range(rounds)))
    fields = {}
    for rd in done:
        _merge_fields(fields, rd.pop("round_fields"))
        rd["fields"] = {t: list(f) for t, f in fields.items()}  # union after this round
    return {"rounds": done, "input_bytes": sum(rd.pop("bytes") for rd in done),
            "input": "%d-record rounds of %d gzip NDJSON objects" % (objects * records, objects)}


def gen_serve(seed, out, seconds=60):
    """Objects to land, plus the notification schedule loadgen.py follows.

    Schedule entries are sent at `t` seconds after the start: every object
    once; 10% of messages again under the SAME messageId (Pub/Sub
    redelivery the state store must absorb), 5% of objects again under a
    NEW messageId 2-4 s later (a re-notification the table dedup must
    absorb)."""
    r = _rng("serve", seed)
    n = int(SERVE_RATE * seconds)
    pools = {a: _body_pool(r, 100, a) for a in (False, True)}
    objects = []
    sends = []
    for k in range(n):
        audit = k % 3 == 2
        name = "%s-%06d.json.gz" % ("audit" if audit else "web", k)
        text, d, q, inv = _ingest_object(r, pools[audit], "s%s-%d" % (seed, k), SERVE_RECORDS,
                                         [0], audit)
        data = _gz(text)
        _write(os.path.join(out, "objects", name), data)
        t = k / SERVE_RATE
        objects.append({"name": name, "t": t, "records": SERVE_RECORDS, "invalid": inv,
                        "quarantine": q, "dest": d.summary(),
                        "fields": _ingest_fields([0], ["eu", "us"] if audit else [])})
        event = {"kind": "storage#object", "name": name, "bucket": "bench",
                 "size": str(len(data)), "timeCreated": "2024-06-10T00:00:00Z",
                 "md5Hash": base64.b64encode(hashlib.md5(data).digest()).decode()}
        payload = base64.b64encode(json.dumps(event, sort_keys=True).encode()).decode()
        msg = "m-%d" % k
        sends.append({"t": t, "object": name, "message_id": msg, "data": payload, "kind": "first"})
        if r.random() < 0.10:
            sends.append({"t": t + r.uniform(0.2, 1.5), "object": name, "message_id": msg,
                          "data": payload, "kind": "same_id"})
        if r.random() < 0.05:
            sends.append({"t": t + r.uniform(2.0, 4.0), "object": name, "message_id": msg + "-re",
                          "data": payload, "kind": "new_id"})
    sends.sort(key=lambda s: (s["t"], s["message_id"], s["kind"]))
    with open(os.path.join(out, "schedule.json"), "w") as f:
        json.dump(sends, f, sort_keys=True)
    # warm-up: a few objects and their spool lines, drained before timing
    warm = os.path.join(out, "warm")
    wr = _rng("serve-warm", seed)
    wpool = {a: _body_pool(wr, 10, a) for a in (False, True)}
    lines = []
    for k in range(3):
        audit = k == 2
        name = "%s-w%d.json.gz" % ("audit" if audit else "web", k)
        text, _, _, _ = _ingest_object(wr, wpool[audit], "w%s-%d" % (seed, k), SERVE_RECORDS,
                                       [0], audit)
        _write(os.path.join(warm, "objects", name), _gz(text))
        lines.append(json.dumps({"kind": "storage#object", "name": name, "bucket": "bench",
                                 "size": "1", "timeCreated": "2024-06-10T00:00:00Z"}))
    _write(os.path.join(warm, "spool", "warm.json"), ("\n".join(lines) + "\n").encode())
    return {"objects": objects, "sends": len(sends), "rate_per_s": SERVE_RATE,
            "input": "%.1f notifications/s, %d-record gzip NDJSON objects" % (SERVE_RATE,
                                                                              SERVE_RECORDS)}


# ---------------------------------------------------------------- docs

def _doc(r, n):
    v = vocab()
    return [v[r.randrange(len(v))] for _ in range(n)]


def _variant(r, base, pos):
    """Base with the word at `pos` replaced by a fresh word: shares all
    but 3 word-3-shingles with the base (and with every other variant
    substituted at the same position)."""
    v = vocab()
    w = list(base)
    while True:
        nw = v[r.randrange(len(v))]
        if nw != base[pos]:
            break
    w[pos] = nw
    return w


def shingles(words, k=3):
    return {tuple(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_corpus(seed, out, drains, per_file=CORPUS_DOCS, tokens=CORPUS_TOKENS, tag="c",
               files_per_drain=CORPUS_FILES_PER_DRAIN):
    """Doc feed with exact-duplicate and near-duplicate families spread
    within a file, across neighbouring files and across far files (past
    CorpusBuilder's default 64-batch compaction cadence).

    Every family member is its base doc or a one-word substitution at
    one fixed position, so all members of a family are pairwise
    near-duplicates (word-3-shingle Jaccard >= 0.97) and docs of different
    families share no shingle; the expected corpus keeps exactly one doc
    per family."""
    r = _rng("corpus", seed, tag)
    files = drains * files_per_drain
    # every file holds exactly `per_file` docs: a family's first member
    # opens it in the file being filled, later members are queued for
    # later files (spilling forward when a file is full; members queued
    # past the last file are not generated)
    slots = [[] for _ in range(files)]
    queued = [[] for _ in range(files)]
    family = 0
    for f in range(files):
        spill = queued[f][per_file:]
        slots[f] = queued[f][:per_file]
        if f + 1 < files:
            queued[f + 1] = spill + queued[f + 1]
        while len(slots[f]) < per_file:
            kind = r.random()
            base = _doc(r, tokens)
            if kind < 0.5:  # unique doc
                more = []
            elif kind < 0.75:  # exact duplicates
                more = [base] * r.randint(1, 3)
            else:  # near duplicates: same-position substitutions
                pos = r.randrange(tokens)
                more = [_variant(r, base, pos) for _ in range(r.randint(1, 3))]
            slots[f].append((base, family))
            for w in more:
                t = _spread(r, f, files)
                if t == f and len(slots[f]) < per_file:
                    slots[f].append((w, family))
                elif t > f:
                    queued[t].append((w, family))
            family += 1
    manifest_files = []
    total = 0
    i = 0
    for f in range(files):
        docs = slots[f]
        r.shuffle(docs)
        ids = []
        fams = []
        lines = []
        for words, family in docs:
            i += 1
            ids.append(i)
            fams.append(family)
            lines.append(json.dumps({"doc_id": i, "text": " ".join(words)}))
        data = ("\n".join(lines) + "\n").encode()
        total += len(data)
        name = "drain-%02d/part-%04d.json" % (f // files_per_drain, f)
        _write(os.path.join(out, name), data)
        manifest_files.append({"name": name, "ids": ids, "families": fams})
    return {"files": manifest_files, "input_bytes": total,
            "input": "NDJSON files of %d docs x %d words" % (per_file, tokens)}


def _spread(r, f, files):
    """Where another family member lands: same file, a neighbour, or far
    (past CorpusBuilder's default 64-batch compaction cadence); -1 when
    that is past the last file."""
    x = r.random()
    if x < 0.3:
        t = f
    elif x < 0.8:
        t = f + r.randint(1, 8)
    else:
        t = f + r.randint(60, 90)
    return t if t < files else -1


def expected_corpus(manifest, nfiles):
    """Kept doc ids after draining the first `nfiles` files one per
    trigger: per family, the smallest id among its members in the first
    file that holds one."""
    kept = {}
    for f in manifest["files"][:nfiles]:
        first = {}
        for i, fam in zip(f["ids"], f["families"]):
            if fam not in kept:
                first[fam] = min(i, first.get(fam, i))
        kept.update(first)
    return kept


def components(nodes, edges):
    """Connected components over `edges` restricted to `nodes`; docs with
    no edge carry no label. Returns {id: min id of its component}."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a in nodes and b in nodes:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def gen_clusters(seed, out, cycles, files=CLUSTER_FILES, per_file=CLUSTER_DOCS,
                 tokens=CLUSTER_TOKENS, tag="k"):
    """Per lifecycle: a parquet doc feed of `files` files. Families of
    pairwise near-duplicates, plus bridged pairs of families: families F1
    and F2 whose bases differ in 2m spaced words (Jaccard < 0.8) and a
    bridge doc B half-way between (Jaccard >= 0.8 to both). B lands
    before the expiry horizon and both families keep two members after
    it, so `expire` splits the bridged component in two."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    r = _rng("clusters", seed, tag)
    out_cycles = []
    total = 0
    for c in range(cycles):
        slots = [[] for _ in range(files)]
        groups = []  # lists of (file, words, id placeholder)

        def add_group(members):
            groups.append(members)

        # bridged pairs: B early, both families straddle the horizon
        for _ in range(2):
            base1 = _doc(r, tokens)
            positions = sorted(r.sample(range(2, tokens - 2, 6), 12))
            base2 = list(base1)
            v = vocab()
            for p in positions:
                base2[p] = v[r.randrange(len(v))]
            bridge = list(base1)
            for p in positions[:6]:
                bridge[p] = base2[p]
            q1 = r.choice([p for p in range(tokens) if all(abs(p - x) > 3 for x in positions)])
            q2 = r.choice([p for p in range(tokens) if all(abs(p - x) > 3 for x in positions)])
            late = list(range(CLUSTER_HORIZON, files))
            members = [(r.randrange(CLUSTER_HORIZON), bridge)]
            members += [(r.randrange(files), base1), (r.choice(late), _variant(r, base1, q1)),
                        (r.choice(late), _variant(r, base1, q1))]
            members += [(r.randrange(files), base2), (r.choice(late), _variant(r, base2, q2)),
                        (r.choice(late), _variant(r, base2, q2))]
            add_group(members)
        placed = sum(len(g) for g in groups)
        while placed < files * per_file:
            f = r.randrange(files)
            base = _doc(r, tokens)
            if r.random() < 0.55:
                members = [(f, base)]
            else:
                pos = r.randrange(tokens)
                members = [(f, base)] + [(min(files - 1, f + r.randint(0, 6)),
                                          base if r.random() < 0.3 else _variant(r, base, pos))
                                         for _ in range(r.randint(1, 3))]
            add_group(members)
            placed += len(members)
        # ids in landing order; edges from exact Jaccard within each group
        for gi, g in enumerate(groups):
            for mi, (f, _) in enumerate(g):
                slots[f].append((gi, mi))
        ids_of = {}
        texts = {}
        file_ids = []
        next_id = 1 + c * 100000
        for f in range(files):
            ids = []
            for gi, mi in slots[f]:
                ids_of[(gi, mi)] = next_id
                texts[next_id] = groups[gi][mi][1]
                ids.append(next_id)
                next_id += 1
            file_ids.append(ids)
        edges = []
        for gi, g in enumerate(groups):
            for x in range(len(g)):
                for y in range(x + 1, len(g)):
                    j = jaccard(g[x][1], g[y][1])
                    # designed pairs sit far from the threshold: the exact
                    # Jaccard decides, and LSH must not miss a true pair
                    assert j >= 0.85 or j <= 0.79, "ambiguous pair Jaccard %.3f" % j
                    if j >= CLUSTER_THRESHOLD:
                        a, b = ids_of[(gi, x)], ids_of[(gi, y)]
                        edges.append((min(a, b), max(a, b)))
        cdir = os.path.join(out, "cycle-%02d" % c)
        for f in range(files):
            tbl = pa.table({"doc_id": pa.array(file_ids[f], pa.int64()),
                            "text": pa.array([" ".join(texts[i]) for i in file_ids[f]], pa.string())})
            path = os.path.join(cdir, "part-%04d.parquet" % f)
            os.makedirs(cdir, exist_ok=True)
            pq.write_table(tbl, path, compression="snappy", write_statistics=False)
            total += os.path.getsize(path)
        all_ids = {i for ids in file_ids for i in ids}
        retained = {i for ids in file_ids[CLUSTER_HORIZON:] for i in ids}
        before = components(all_ids, edges)
        after = components(retained, edges)
        out_cycles.append({"cycle": c, "files": file_ids, "edges": edges,
                           "before": sorted(before.items()), "after": sorted(after.items())})
    return {"cycles": out_cycles, "first_drain": CLUSTER_FIRST_DRAIN, "horizon": CLUSTER_HORIZON,
            "input_bytes": total,
            "input": "%d-file parquet feeds x %d docs x %d words per lifecycle"
                     % (files, per_file, tokens)}


# ---------------------------------------------------------------- entry

def generate(workload, seed, out_dir, seconds, map_fn=map):
    """Write the inputs of a `seconds`-long run and its manifest; `map_fn`
    may be a process pool's map (backfill rounds are independent)."""
    os.makedirs(out_dir, exist_ok=True)
    n = units(workload, seconds)
    if workload == "backfill":
        m = gen_backfill(seed, out_dir, n, map_fn=map_fn)
        m["warm"] = gen_backfill(seed, os.path.join(out_dir, "warm"), rounds=1, objects=3,
                                 records=200, tag="w")
    elif workload == "serve":
        m = gen_serve(seed, out_dir, n)
    elif workload == "corpus":
        m = gen_corpus(seed, out_dir, n)
        m["warm"] = gen_corpus(seed, os.path.join(out_dir, "warm"), 1, per_file=10, tag="w",
                               files_per_drain=2)
    elif workload == "clusters":
        m = gen_clusters(seed, out_dir, n)
        m["warm"] = gen_clusters(seed, os.path.join(out_dir, "warm"), 1, per_file=6, tag="w")
    else:
        raise ValueError("unknown workload %r" % workload)
    m["workload"] = workload
    m["seed"] = seed
    m["units"] = n
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(m, f, sort_keys=True)
    return m

