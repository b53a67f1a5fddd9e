"""Closed-loop HTTP load generator, run as its own process.

    python3 perfbench/loadgen.py <plan.json> <result.json>

The plan names the server port and, per client, a warm-up stream and a
timed stream of requests (made by ``gen.request_stream``).  Each client is
a thread that sends its next request only after the previous reply has
been read in full.

Warm-up: clients run their warm-up streams until the completion rate of
the last ``settle_s`` seconds differs from the one before by at most
``settle_tol`` and every route has been served (after at least
``min_warmup_s``, at most ``max_warmup_s``).  Then every
client switches to the start of its timed stream, and the timed window
lasts ``seconds``.  Replies are checked only after the window closes.
"""

from __future__ import annotations

import json
import sys
import threading
import time

import gen


class Client(threading.Thread):
    def __init__(self, idx: int, port: int, warmup: list, timed: list, ctl):
        super().__init__(daemon=True)
        self.idx, self.port = idx, port
        self.warmup, self.timed, self.ctl = warmup, timed, ctl
        self.records: list[dict] = []
        self.bodies: list[bytes] = []
        self.warm_done: list[float] = []
        self.error: str | None = None

    def run(self) -> None:
        try:
            i = 0
            while not self.ctl["timed"].is_set():
                req = self.warmup[i % len(self.warmup)]
                gen.send(self.port, req, f"w-{self.idx}-{i}")
                self.warm_done.append(time.monotonic())
                i += 1
            for i, req in enumerate(self.timed):
                if time.monotonic() >= self.ctl["t_end"]:
                    break
                tag = f"t-{self.idx}-{i}"
                t0, t1, status, data = gen.send(self.port, req, tag)
                self.records.append(
                    {"id": tag, "i": i, "kind": req["kind"], "t0": t0,
                     "t1": t1, "status": status, "bytes": len(data)}
                )
                self.bodies.append(data)
            else:
                self.error = "timed stream exhausted before the window closed"
        except Exception as e:  # noqa: BLE001 - reported in the result
            self.error = repr(e)


def main(plan_path: str, out_path: str) -> None:
    with open(plan_path) as f:
        plan = json.load(f)
    ctl = {"timed": threading.Event(), "t_end": float("inf")}
    clients = [
        Client(i, plan["port"], w, t, ctl)
        for i, (w, t) in enumerate(zip(plan["warmup"], plan["timed"]))
    ]
    t_warm = time.monotonic()
    for c in clients:
        c.start()

    # settle: the completion rate of the last ``settle_s`` seconds is
    # within ``settle_tol`` of the ``settle_s`` before, and every route of
    # the mix has been served at least once
    span = plan["settle_s"]
    kinds = {r["kind"] for w in plan["warmup"] for r in w}
    while True:
        time.sleep(1.0)
        now = time.monotonic()
        elapsed = now - t_warm
        done = sorted(t for c in clients for t in c.warm_done)
        recent = sum(1 for t in done if t > now - span)
        before = sum(1 for t in done if now - 2 * span < t <= now - span)
        served = {
            c.warmup[i % len(c.warmup)]["kind"]
            for c in clients for i in range(len(c.warm_done))
        }
        settled = (
            elapsed >= 2 * span
            and before > 0
            and abs(recent - before) <= plan["settle_tol"] * recent
            and served >= kinds
        )
        if elapsed >= plan["max_warmup_s"] or (
            settled and elapsed >= plan["min_warmup_s"]
        ):
            break
    t_start, wall_start = time.monotonic(), time.time()
    ctl["t_end"] = t_start + plan["seconds"]
    ctl["timed"].set()
    for c in clients:
        c.join(timeout=plan["seconds"] + plan["max_warmup_s"] + 240)

    wall_end = time.time()
    records, errors = [], []
    for c, stream in zip(clients, plan["timed"]):
        if c.is_alive():
            errors.append(f"client {c.idx} did not finish")
        if c.error:
            errors.append(f"client {c.idx}: {c.error}")
        for rec, data in zip(c.records, c.bodies):
            ok, facts = gen.check_reply(stream[rec["i"]], rec["status"], data)
            rec.update(ok=ok, **facts)
            records.append(rec)
    result = {
        "warmup_s": t_start - t_warm,
        "warmup_settled": settled,
        "warmup_requests": sum(len(c.warm_done) for c in clients),
        "t_start": t_start,
        "t_end": ctl["t_end"],
        "wall_start": wall_start,
        "wall_end": wall_end,
        "records": records,
        "errors": errors,
    }
    with open(out_path, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
