#!/usr/bin/env python3
"""Sales-event generator for the streaming workloads, in the field shapes of
the reference generator (sale-transaction-generator/main.py): six
products/categories/brands, price uniform(10, 1000) with 2 decimals,
quantity 1-10, totalAmount = price * quantity. One JSON object per line.

Event content depends only on the seed and the event's position, never on
the wall clock: transactionDate is a logical time derived from the seed.

run.py imports warmup_lines and backfill_files, and starts this file as
its own process for the live tail:

  gen_events.py --seed N --out DIR --rate R --seconds T --tick-ms M
                --start-ms E --report FILE

an open loop: one file per tick, due at E + i*M (epoch ms), written to a
hidden name and renamed into DIR. The loop never waits for the consumer.
The report lists each file's due time, event count and how late it was
written.
"""
import argparse
import datetime as dt
import json
import os
import random
import time
import uuid

PRODUCTS = ["product1", "product2", "product3", "product4", "product5", "product6"]
NAMES = ["laptop", "mobile", "tablet", "watch", "headphone", "speaker"]
CATEGORIES = ["electronic", "fashion", "grocery", "home", "beauty", "sports"]
BRANDS = ["apple", "samsung", "oneplus", "mi", "boat", "sony"]
CURRENCIES = ["USD", "GBP"]
PAYMENTS = ["credit_card", "debit_card", "online_transfer"]
LIVE_BASE = dt.datetime(2024, 1, 1, 8, 0, 0)
BACKFILL_BASE = dt.datetime(2022, 1, 1)
BACKFILL_SPAN_DAYS = 730


def event(rng, when):
    price = round(rng.uniform(10, 1000), 2)
    qty = rng.randint(1, 10)
    e = {
        "transactionId": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
        "productId": rng.choice(PRODUCTS),
        "productName": rng.choice(NAMES),
        "productCategory": rng.choice(CATEGORIES),
        "productPrice": price,
        "productQuantity": qty,
        "productBrand": rng.choice(BRANDS),
        "currency": rng.choice(CURRENCIES),
        "customerId": f"user{rng.randrange(100000)}",
        "transactionDate": when.strftime("%Y-%m-%dT%H:%M:%S.%f"),
        "paymentMethod": rng.choice(PAYMENTS),
    }
    e["totalAmount"] = price * qty
    return json.dumps(e)


def malformed(rng, line):
    """A line the job must drop: truncated JSON, or no transactionId."""
    if rng.random() < 0.5:
        return line[: len(line) // 2]
    e = json.loads(line)
    del e["transactionId"]
    return json.dumps(e)


def live_base(seed):
    return LIVE_BASE + dt.timedelta(days=seed % 300)


def warmup_lines(seed, events):
    rng = random.Random(f"{seed}:warmup")
    when = live_base(seed) - dt.timedelta(hours=1)
    return [event(rng, when) for _ in range(events)]


def live_lines(seed, tick, events, tick_ms):
    """The lines of one live tick; transactionDate is the tick's logical due time."""
    rng = random.Random(f"{seed}:live:{tick}")
    when = live_base(seed) + dt.timedelta(milliseconds=tick * tick_ms)
    return [event(rng, when) for _ in range(events)]


def backfill_files(seed, events, files, malformed_share):
    """[(lines, valid count)] per file, in time order."""
    rng = random.Random(f"{seed}:backfill")
    span_us = BACKFILL_SPAN_DAYS * 86400 * 10**6
    offsets = sorted(rng.randrange(span_us) for _ in range(events))
    n_bad = round(events * malformed_share)
    bad = set(rng.sample(range(events), n_bad))
    lines = []
    for i, off in enumerate(offsets):
        line = event(rng, BACKFILL_BASE + dt.timedelta(microseconds=off))
        lines.append(malformed(rng, line) if i in bad else line)
    out = []
    per = -(-events // files)
    for f in range(files):
        idx = range(f * per, min(events, (f + 1) * per))
        out.append(([lines[i] for i in idx], sum(1 for i in idx if i not in bad)))
    return out


def write_atomic(directory, name, lines):
    tmp = os.path.join(directory, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(directory, name))


def run_live(seed, out, rate, seconds, tick_ms, start_ms, report):
    per_tick = max(1, round(rate * tick_ms / 1000))
    ticks = int(seconds * 1000 // tick_ms)
    files = []
    for i in range(ticks):
        due = start_ms + i * tick_ms
        lines = live_lines(seed, i, per_tick, tick_ms)
        wait = due / 1000 - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"live-{i:06d}.jsonl"
        write_atomic(out, name, lines)
        files.append({"name": name, "due_ms": due, "events": per_tick, "valid": per_tick,
                      "late_ms": time.time() * 1000 - due})
    tmp = report + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"files": files, "rate": rate, "tick_ms": tick_ms}, f)
    os.rename(tmp, report)


def main():
    ap = argparse.ArgumentParser()
    for name, kind in [("--seed", int), ("--out", str), ("--rate", float), ("--seconds", float),
                       ("--tick-ms", int), ("--start-ms", int), ("--report", str)]:
        ap.add_argument(name, type=kind, required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    run_live(a.seed, a.out, a.rate, a.seconds, a.tick_ms, a.start_ms, a.report)


if __name__ == "__main__":
    main()
