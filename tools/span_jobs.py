#!/usr/bin/env python3
"""Per-trigger SQL executions and jobs of a streaming drain, from a Spark event log.

    python3 tools/span_jobs.py <event log file>
    zstd -dc <event log>.zstd | python3 tools/span_jobs.py -

The log must be plain JSON lines: write it with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>
-Dspark.eventLog.compress=false`, or decompress it into stdin.

For each `foreachBatch` root execution (the one SQL execution Structured
Streaming opens per micro-batch, whose description ends in `batch = N`)
this prints the batch's `addBatch` time from its progress event (the
root execution's wall time when there is none), then one line per child
SQL execution: id, wall time, job count, `graft.span` path and the head
of its physical plan; then the totals per span path. A child is any
other execution that starts while the root runs: a pool thread can carry
a stale root execution id, so the id alone would miss the concurrent
commit steps. Jobs that run outside any SQL execution in that window
count under `(no execution)`.
"""
import json
import re
import sys
from collections import OrderedDict

SQL = "org.apache.spark.sql.execution.ui."
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
BATCH_RE = re.compile(r"runId = (\S+)\s+batch = (\d+)")


def plan_head(plan):
    """First physical operator below the adaptive wrapper, without its
    `(n)` id or tree glyphs."""
    for line in plan.split("\n")[1:]:
        op = re.sub(r"\s*\(\d+\)$", "", line.strip().lstrip("+-: *").strip())
        if op and not op.startswith("AdaptiveSparkPlan"):
            return op
    return "?"


def load(lines):
    execs, jobs, added = {}, {}, {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == SQL + "SparkListenerSQLExecutionStart":
            execs[e["executionId"]] = {
                "id": e["executionId"], "root": e.get("rootExecutionId", e["executionId"]),
                "desc": e.get("description", ""), "head": plan_head(e.get("physicalPlanDescription", "")),
                "start": e["time"], "end": None, "jobs": 0, "spans": []}
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            x = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {"exec": int(x) if x is not None else None,
                                 "span": props.get("graft.span", "-"), "start": e["Submission Time"]}
        elif kind == PROGRESS:
            p = e["progress"]
            added[(p["runId"], p["batchId"])] = p["durationMs"].get("addBatch")
    for j in jobs.values():
        x = execs.get(j["exec"])
        if x is not None:
            x["jobs"] += 1
            if j["span"] not in x["spans"]:
                x["spans"].append(j["span"])
    return execs, jobs, added


def triggers(execs, jobs, added):
    """[(root, addBatch ms, [child rows])] in start order; a child row is
    (id, wall ms, jobs, span, plan head)."""
    out = []
    for r in sorted(execs.values(), key=lambda x: x["start"]):
        m = BATCH_RE.search(r["desc"])
        if r["root"] != r["id"] or not m or r["end"] is None:
            continue
        inside = lambda t: r["start"] <= t <= r["end"]
        rows = [(x["id"], (x["end"] or r["end"]) - x["start"], x["jobs"],
                 ",".join(x["spans"]) or "-", x["head"])
                for x in sorted(execs.values(), key=lambda x: x["start"])
                if x["id"] != r["id"] and inside(x["start"])]
        loose = [j for j in jobs.values() if j["exec"] is None and inside(j["start"])]
        if loose:
            rows.append((None, 0, len(loose), ",".join(OrderedDict.fromkeys(j["span"] for j in loose)),
                         "(no execution)"))
        ms = added.get((m.group(1), int(m.group(2))))
        out.append((r, ms if ms is not None else r["end"] - r["start"], int(m.group(2)), rows))
    return out


def report(trigs, out):
    for r, ms, batch, rows in trigs:
        own = r["jobs"]
        out.write("batch %d  root #%d  addBatch %.3fs  executions %d  jobs %d\n"
                  % (batch, r["id"], ms / 1e3, sum(1 for x in rows if x[0] is not None),
                     own + sum(x[2] for x in rows)))
        if own:
            out.write("  root      %3d jobs  (the batch's own plan)\n" % own)
        totals = OrderedDict()
        for xid, wall, n, span, head in rows:
            label = "#%d" % xid if xid is not None else "-"
            out.write("  %-6s %7.3fs %3d jobs  %-32s %s\n" % (label, wall / 1e3, n, span, head[:60]))
            t = totals.setdefault(span, [0, 0, 0])
            t[0] += xid is not None
            t[1] += n
            t[2] += wall
        out.write("  per span:\n")
        for span, (ne, nj, wall) in totals.items():
            out.write("    %-32s %3d executions %3d jobs %7.3fs\n" % (span, ne, nj, wall / 1e3))


def main(argv):
    if len(argv) != 2:
        sys.stderr.write(__doc__)
        return 2
    src = sys.stdin if argv[1] == "-" else open(argv[1])
    try:
        report(triggers(*load(src)), sys.stdout)
    finally:
        if src is not sys.stdin:
            src.close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
