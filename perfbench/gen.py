"""Open-loop file generator for the stream_tail workload.

Runs as its own single-threaded process, apart from the system under test.
It renames pre-written log files from a staging directory into the watched
directory on a fixed schedule (file k is due at start + k / rate), whether or
not the stream keeps up, and records each file's due and actual time in a
ledger written when it ends.

    python3 gen.py --stage DIR --watch DIR --order FILE --ledger FILE --rate FILES_PER_S
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--order", required=True, help="JSON list of {name, lines}, in send order")
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--rate", type=float, required=True, help="files per second")
    args = ap.parse_args()
    with open(args.order) as fh:
        order = json.load(fh)
    ledger = []
    start = time.time()
    for k, rec in enumerate(order):
        due = start + k / args.rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(args.stage, rec["name"]), os.path.join(args.watch, rec["name"]))
        ledger.append({**rec, "due": due, "sent": time.time()})
    with open(args.ledger, "w") as fh:
        json.dump(ledger, fh)


if __name__ == "__main__":
    main()
