"""Seeded input generator for the end-to-end benchmark.

Writes the `events` table with the schema, `ts` encoding and value
ranges of the program's test tables, and returns the measured properties
of what it wrote. The same seed always gives the same file.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. At 30k events a traced pass over the gates spends about 60 % of
# op time in operator stages that mostly run one task each (86 stages, 93
# tasks), about 40 % on the driver between stages (scheduler.gap_ms) and
# under 2 % in the parquet scan (sources.scan_ms). A larger table would
# give the scan and the operators more weight, but its runs would not fit
# the benchmark's time budget.
EVENTS = 30_000
USERS = 1_500
ITEMS = 100
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LATE_SHARE = 0.05          # events whose ts is behind an earlier event's
LATE_MAX_S = 3_600         # how far behind, at most
BLACKLIST_CLICKS = 120     # planted hot key: one user clicking one item

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


def zipf_ids(rng, n, size, a=1.2):
    """Ids in [0, n) with a Zipf-like skew (id 0 the hottest), shuffled
    so the hot ids are not simply the small ones."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=size, p=p)]


def write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def gen_events(rng, out):
    n = EVENTS
    gaps = rng.exponential(SPAN_US / n, size=n)
    ts = T0_US + np.cumsum(gaps).astype(np.int64)
    late = rng.random(n) < LATE_SHARE
    ts[late] -= rng.integers(1, LATE_MAX_S * 1_000_000, size=int(late.sum()))
    ts = np.maximum(ts, T0_US)
    users = zipf_ids(rng, USERS, n, a=0.8)
    items = zipf_ids(rng, ITEMS, n, a=1.1)
    types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    # planted blacklist hot key: one user, one item, many clicks
    hot = rng.choice(n, size=BLACKLIST_CLICKS, replace=False)
    users[hot] = int(rng.integers(0, USERS))
    items[hot] = int(rng.integers(0, ITEMS))
    types[hot] = "click"
    value = np.round(rng.gamma(2.0, 50.0, size=n), 2)
    props = [f'{{"k": {k}}}' for k in items.tolist()]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(types.tolist()),
        "value": pa.array(value),
        "props": pa.array(props),
    })
    write(table, os.path.join(out, "events.parquet"))
    running_max = np.maximum.accumulate(ts)
    item_counts = np.bincount(items, minlength=ITEMS)
    return {
        "events_rows": n,
        "events_late_share": round(float((ts < running_max).mean()), 4),
        "events_top_item_share": round(float(item_counts.max() / n), 4),
        "events_top1pct_user_share": round(float(
            np.sort(np.bincount(users, minlength=USERS))[::-1]
            [: max(1, USERS // 100)].sum() / n), 4),
    }


def generate(workload, seed, out):
    """Write the tables `workload` reads into `out`; return their measured
    properties. The stream workload's ticks are generated inside the
    harness, from the same seed."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    props = {}
    if workload == "gmall_batch":
        props.update(gen_events(rng, out))
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(props, f)
    return props
