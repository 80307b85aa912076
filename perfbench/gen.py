"""Seeded ping generator: writes the engine's `events` table.

Each device has a home block and a work block. Night pings
(22:00-06:00) land on the home block; a day ping lands on the work
block with probability WORK_SHARE, else on a uniformly random block.
Ping times are uniform within each day. The same arguments always give
the same Parquet file.

The descriptors returned describe the co-location structure the
engine's Interactions layer sees: (block, 10-minute bucket) groups of
distinct devices, and the pair candidates n*(n-1)/2 they hold.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORK_SHARE = 0.3
BUCKET_US = 600 * 1_000_000
DAY_US = 86_400 * 1_000_000
# 2024-01-01T00:00:00Z in epoch microseconds
START_US = 1_704_067_200 * 1_000_000


def block_name(i):
    return f"ageb-{i:04d}"


def generate(path, seed, devices, blocks, days, pings_per_day):
    """Writes events.parquet at `path`; returns its descriptors."""
    rng = np.random.default_rng(seed)
    home = rng.integers(0, blocks, devices)
    work = rng.integers(0, blocks, devices)
    n = devices * days * pings_per_day
    dev = np.repeat(np.arange(devices, dtype=np.int64), days * pings_per_day)
    day = np.tile(np.repeat(np.arange(days, dtype=np.int64), pings_per_day),
                  devices)
    us_of_day = rng.integers(0, DAY_US, n)
    hour = us_of_day // 3_600_000_000
    night = (hour >= 22) | (hour < 6)
    day_block = np.where(rng.random(n) < WORK_SHARE, work[dev],
                         rng.integers(0, blocks, n))
    block = np.where(night, home[dev], day_block)
    ts = START_US + day * DAY_US + us_of_day
    order = np.argsort(ts, kind="stable")
    dev, block, ts = dev[order], block[order], ts[order]

    names = np.array([block_name(i) for i in range(blocks)], dtype=object)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(dev + 1),
        "event_type": pa.array(names[block], type=pa.string()),
        "value": pa.array(rng.random(n)),
        "props": pa.nulls(n, type=pa.string()),
    })
    pq.write_table(table, path)

    # co-location groups: distinct devices per (block, bucket), buckets
    # anchored at the global minimum timestamp as the engine does
    tw = (ts - ts.min()) // BUCKET_US
    key = block * (int(tw.max()) + 1) + tw
    members = np.unique(key * devices + dev) // devices
    _, sizes = np.unique(members, return_counts=True)
    sizes = sizes.astype(np.int64)
    return {
        "rows": int(n),
        "devices": int(devices),
        "blocks": int(blocks),
        "co_location_groups": int((sizes >= 2).sum()),
        "largest_group": int(sizes.max()),
        "pair_candidates": int((sizes * (sizes - 1) // 2).sum()),
    }
