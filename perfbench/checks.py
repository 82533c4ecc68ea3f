"""Output checkers. Each returns a list of failure messages (empty =
correct) and runs outside every timed region.
"""

from __future__ import annotations

import glob
import os
import time
from collections import Counter
from dataclasses import dataclass
from datetime import datetime

import numpy as np


@dataclass
class Delivery:
    """What the benchmark keeps of one delivered micro-batch: its reading
    keys and distinct stamps, taken in the callback so that the rows are
    released at once (with every row of a window held, warm drain passes
    swung by +-20%; released, by about +-4%)."""

    batch_id: int
    at: float  # unix time the callback was entered
    keys: list[tuple[int, int]]
    stamps: set[str]


def summarize(rows, batch_id: int) -> Delivery:
    """Reading-envelope rows ``(asset, timestamp, readings)`` -> Delivery."""
    at = time.time()
    keys = [(int(m["seq"]), int(m["row"])) for _, _, m in rows]
    return Delivery(batch_id, at, keys, {ts for _, ts, _ in rows})


def playback_exactly_once(key_lists, expected: set[tuple[int, int]]) -> list[str]:
    """Every expected ``(seq,row)`` delivered exactly once, nothing else."""
    seen = Counter(k for keys in key_lists for k in keys)
    errs = []
    dup = [k for k, n in seen.items() if n > 1]
    missing = expected - seen.keys()
    extra = seen.keys() - expected
    if dup:
        errs.append(f"{len(dup)} readings delivered more than once, e.g. {sorted(dup)[:3]}")
    if missing:
        errs.append(f"{len(missing)} readings never delivered, e.g. {sorted(missing)[:3]}")
    if extra:
        errs.append(f"{len(extra)} unexpected readings, e.g. {sorted(extra)[:3]}")
    return errs


def burst_stamps(stamps: set[str]) -> list[str]:
    """Burst mode: one timestamp for the whole batch."""
    return [] if len(stamps) <= 1 else [f"burst batch carries {len(stamps)} distinct stamps"]


def continuous_stamps(stamps: set[str], not_before: float, not_after: float) -> list[str]:
    """Continuous mode: all stamps inside one anchor second, and that
    second lies between the trigger start and the delivery (unix s)."""
    seconds = {s[:19] for s in stamps}  # 'YYYY-MM-DD HH:MM:SS'
    if len(seconds) > 1:
        return [f"continuous batch spans {len(seconds)} seconds: {sorted(seconds)[:3]}"]
    if not seconds:
        return []
    anchor = datetime.strptime(seconds.pop() + "+0000", "%Y-%m-%d %H:%M:%S%z").timestamp()
    if not (int(not_before) <= anchor <= not_after):
        return [f"anchor second {anchor} outside [{not_before:.3f}, {not_after:.3f}]"]
    return []


def read_csv_dir(path: str):
    import pandas as pd

    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if not parts:
        return pd.DataFrame()
    return pd.concat([pd.read_csv(p, dtype={"user_ts": str}) for p in parts], ignore_index=True)


def etl_linear_fill(inp, out, rtol: float = 1e-9, atol: float = 1e-9) -> list[str]:
    """The repaired frame equals pandas ``interpolate(method='linear',
    limit_direction='both')`` per channel over rows ordered by user_ts
    (the reference tool's fill semantics)."""
    ref = inp.sort_values("user_ts").reset_index(drop=True)
    got = out.sort_values("user_ts").reset_index(drop=True)
    if len(ref) != len(got):
        return [f"row count {len(got)} != input {len(ref)}"]
    if not (ref["user_ts"].values == got["user_ts"].values).all():
        return ["user_ts column differs from the input"]
    errs = []
    for c in [c for c in ref.columns if c != "user_ts"]:
        if c not in got.columns:
            errs.append(f"channel {c} missing from output")
            continue
        want = ref[c].astype(float).interpolate(method="linear", limit_direction="both")
        have = got[c].astype(float)
        bad = ~np.isclose(have.values, want.values, rtol=rtol, atol=atol)
        if bad.any():
            i = int(np.argmax(bad))
            errs.append(
                f"{c}: {int(bad.sum())} cells differ from pandas, "
                f"first at row {i}: {have.iloc[i]!r} != {want.iloc[i]!r}"
            )
    return errs


def row_count(name: str, got: int, want: int | None) -> list[str]:
    if want is None:
        return [f"{name}: no expected row count recorded"]
    return [] if got == want else [f"{name}: {got} rows, expected {want}"]
