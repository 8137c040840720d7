"""Seeded Unity Raw Data Export generator for the ingest workloads.

Writes gzip JSON-lines dumps in the shape ``sources/unity.py`` reads:

* ``ts`` / ``submit_time`` are epoch milliseconds;
* ``custom_params`` (custom) and ``receipt`` (transaction) are JSON
  objects, which the reader lands as raw JSON strings;
* ``amount`` (transaction) is a decimal string, never a float.

Each feed gets one backfill drop split over several files (gzip does not
split, so the file count sets the scan parallelism) and a run of small
incremental drops of one file each. Alongside the files it returns the
aggregates the landed tables must reproduce: row count, exact
``sum(amount)``, distinct ``userid`` and min/max ``ts`` in whole epoch
seconds (the parity truncation of ``read_feed(parity_ts=True)``).

The program under test only ever sees the files.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from decimal import Decimal

FEEDS = ("appStart", "custom", "transaction")

_PLATFORMS = ("AndroidPlayer", "IPhonePlayer", "WebGLPlayer", "WindowsPlayer")
_AGENTS = ("UnityPlayer/2022.3", "UnityPlayer/2021.3", "Mozilla/5.0 (Linux)")
_SDKS = ("u2022.3.1f1", "u2021.3.9f1", "u2023.1.0b2")
_EVENT_NAMES = ("level_start", "level_complete", "ad_shown", "shop_open", "tutorial")
_CURRENCIES = ("USD", "EUR", "JPY", "GBP")
_PRODUCTS = ("gems_small", "gems_large", "starter_pack", "no_ads", "season_pass")
# 2024-01-01T00:00:00Z: a backfill window of 30 days, then one day per drop
_EPOCH_MS = 1_704_067_200_000
_DAY_MS = 86_400_000


def _row(rng: random.Random, feed: str, lo_ms: int, hi_ms: int, n_users: int) -> dict:
    ts = rng.randrange(lo_ms, hi_ms)
    row = {
        "ts": ts,
        "submit_time": ts + rng.randrange(0, 120_000),
        "userid": f"u{rng.randrange(n_users):07d}",
        "remote_ip": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}",
        "platform": rng.choice(_PLATFORMS),
        "user_agent": rng.choice(_AGENTS),
        "sdk_ver": rng.choice(_SDKS),
    }
    if feed == "custom":
        row["sessionid"] = rng.randrange(1 << 40)
        row["name"] = rng.choice(_EVENT_NAMES)
        row["custom_params"] = {
            "level": rng.randrange(1, 200),
            "score": rng.randrange(100_000),
            "mode": rng.choice(("easy", "hard")),
        }
    elif feed == "transaction":
        row["sessionid"] = rng.randrange(1 << 40)
        row["currency"] = rng.choice(_CURRENCIES)
        # up to 6 fractional digits so the decimal(38,18) cast is exercised
        micros = rng.randrange(1, 200_000_000)
        row["amount"] = f"{micros // 1_000_000}.{micros % 1_000_000:06d}"
        row["transactionid"] = f"t{rng.randrange(1 << 48):012x}"
        row["productid"] = rng.choice(_PRODUCTS)
        row["receipt"] = {"store": rng.choice(("google", "apple")), "valid": rng.random() < 0.97}
    return row


def _aggregates(rows: list[dict]) -> dict:
    """The landed-table aggregates one drop (or a union of drops) must give."""
    secs = [r["ts"] // 1000 for r in rows]
    amount = sum((Decimal(r["amount"]) for r in rows if "amount" in r), Decimal(0))
    return {
        "rows": len(rows),
        "sum_amount": str(amount),
        "distinct_userid": len({r["userid"] for r in rows}),
        "min_ts_s": min(secs),
        "max_ts_s": max(secs),
    }


def _write_gz(path: str, rows: list[dict]) -> None:
    body = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
    with open(path, "wb") as fh:
        fh.write(gzip.compress(body.encode("utf-8"), compresslevel=1, mtime=0))


def generate(
    out_dir: str,
    seed: int,
    backfill_rows: int,
    backfill_files: int,
    drops: int,
    drop_rows: int,
    n_users: int = 20_000,
) -> dict:
    """Write every feed's drops under ``out_dir`` and return
    ``{feed: {"runs": [[file, ...], ...], "expected": [agg, ...],
    "total": agg}}``; run 0 is the backfill, runs 1.. the incremental
    drops. The same arguments always give the same bytes."""
    plan = {}
    for f_idx, feed in enumerate(FEEDS):
        rng = random.Random(seed * 1009 + f_idx)
        runs, expected, all_rows = [], [], []
        for run in range(drops + 1):
            if run == 0:
                lo, hi, n, n_files = _EPOCH_MS, _EPOCH_MS + 30 * _DAY_MS, backfill_rows, backfill_files
            else:
                lo = _EPOCH_MS + (29 + run) * _DAY_MS
                hi, n, n_files = lo + _DAY_MS, drop_rows, 1
            rows = [_row(rng, feed, lo, hi, n_users) for _ in range(n)]
            run_dir = os.path.join(out_dir, feed, f"run_{run:03d}")
            os.makedirs(run_dir, exist_ok=True)
            files = []
            for i in range(n_files):
                path = os.path.join(run_dir, f"{feed}-{run:03d}-{i:03d}.json.gz")
                _write_gz(path, rows[i::n_files])
                files.append(path)
            runs.append(files)
            expected.append(_aggregates(rows))
            all_rows.extend(rows)
        plan[feed] = {"runs": runs, "expected": expected, "total": _aggregates(all_rows)}
    return plan
