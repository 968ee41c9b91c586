"""Open-loop Pub/Sub push generator for the `serve` workload.

Runs in its own process. Follows the schedule gen.py wrote: at each
entry's time it lands the object (first notification only) and POSTs a
push envelope to the receiver, whatever state earlier requests are in.
Latency is timed from the scheduled send time, so a stalled receiver
shows as latency on every request queued behind it. Answers of 205, 429
and 5xx are redelivered with exponential backoff, as Pub/Sub does, up to
a fixed budget; a request still not 2xx after it counts as failed.

Usage: loadgen.py --schedule F --staged DIR --landing DIR --port P
                  --start EPOCH_S --seconds S --threads N --out F
"""

import argparse
import http.client
import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

RETRY_STATUSES = {205, 429} | set(range(500, 600))
MAX_ATTEMPTS = 6
BACKOFF_S = 0.1


def main():
    p = argparse.ArgumentParser()
    for k in ("schedule", "staged", "landing", "out"):
        p.add_argument("--" + k, required=True)
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--threads", type=int, required=True)
    a = p.parse_args()
    with open(a.schedule) as f:
        sends = [s for s in json.load(f) if s["t"] < a.seconds]
    local = threading.local()
    results = [None] * len(sends)

    def conn():
        c = getattr(local, "conn", None)
        if c is None:
            c = local.conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=60)
        return c

    def post(body):
        for retry in (False, True):
            try:
                c = conn()
                c.request("POST", "/", body=body, headers={"Content-Type": "application/json"})
                r = c.getresponse()
                r.read()
                return r.status
            except (http.client.HTTPException, OSError):
                local.conn = None
                if retry:
                    raise

    def land(name):
        src = os.path.join(a.staged, name)
        tmp = os.path.join(a.landing, "." + name + ".tmp")
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(a.landing, name))

    def run(i, s, due):
        sent = time.time()
        if s["kind"] == "first":
            land(s["object"])
        body = json.dumps({"message": {"data": s["data"], "messageId": s["message_id"]},
                           "subscription": "projects/bench/subscriptions/push"})
        attempts = []
        status = None
        for k in range(MAX_ATTEMPTS):
            t0 = time.time()
            try:
                status = post(body)
            except (http.client.HTTPException, OSError):
                status = 599
            attempts.append([t0, time.time(), status])
            if status not in RETRY_STATUSES:
                break
            time.sleep(BACKOFF_S * (2 ** k))
        results[i] = {"object": s["object"], "message_id": s["message_id"], "kind": s["kind"],
                      "due": due, "sent": sent, "attempts": attempts,
                      "ok": status is not None and 200 <= status < 300}

    with ThreadPoolExecutor(max_workers=a.threads) as pool:
        for i, s in enumerate(sends):
            due = a.start + s["t"]
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            pool.submit(run, i, s, due)
        send_window_end = time.time()
    with open(a.out, "w") as f:
        json.dump({"sends": results, "start": a.start, "seconds": a.seconds,
                   "window_end": send_window_end, "threads": a.threads}, f)


if __name__ == "__main__":
    main()
