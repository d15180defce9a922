"""Pure helpers for the benchmark's own arithmetic and /proc sampling.

Nothing here imports Spark, so the unit tests in ``perfbench/tests`` run in a
plain interpreter.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pandas as pd

# Candidate tail percentiles, highest first. A tail is only reported at a
# percentile that leaves at least TAIL_MIN_BEYOND samples above it, so a
# single slow sample can never be the reported tail on its own.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10

HASH_COLS = ("url", "warc_ts", "text", "lang")


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    return float(np.percentile(np.asarray(values, dtype=float), pct))


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ten samples beyond it, or
    None when there are too few samples for any tail."""
    for pct in TAIL_LADDER:
        if n * (1.0 - pct / 100.0) >= TAIL_MIN_BEYOND - 1e-9:
            return pct
    return None


def tail(values) -> tuple[float | None, float | None, int]:
    """(tail value, its percentile, sample count); value and percentile are
    None when fewer samples exist than any tail needs."""
    n = len(values)
    pct = tail_percentile(n)
    if pct is None:
        return None, None, n
    return percentile(values, pct), pct, n


def median(values) -> float:
    return float(statistics.median(values))


def commit_lags(due: dict, committed_at: dict) -> dict:
    """Per-epoch commit lag: the commit stamp minus the time the epoch was
    due to be published. Counting from the due time (not the actual publish
    time) charges publisher lateness to the lag, as an open loop should."""
    missing = sorted(set(due) - set(committed_at))
    if missing:
        raise ValueError(f"epochs published but never committed: {missing}")
    lags = {e: committed_at[e] - due[e] for e in due}
    bad = {e: v for e, v in lags.items() if v < 0}
    if bad:
        raise ValueError(f"commit stamped before publish: {bad}")
    return lags


def table_hash(pdf: pd.DataFrame, cols=HASH_COLS) -> tuple[int, str]:
    """(row count, order-independent hash) of a pages table.

    Each row hashes all of ``cols`` (text compared byte for byte, timestamps
    as UTC microseconds); the row hashes are summed modulo 2**64, so row
    order does not matter but any changed, missing or duplicated row does.
    """
    norm = pd.DataFrame(index=range(len(pdf)))
    for c in cols:
        s = pdf[c].reset_index(drop=True)
        if c == "warc_ts":
            ts = pd.to_datetime(s, utc=True).dt.tz_localize(None)
            s = ts.astype("datetime64[us]").astype("int64")
        else:
            s = s.astype(object)
        norm[c] = s
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    return len(pdf), format(int(h.sum(dtype=np.uint64)), "016x")


def self_times(spans: list[dict]) -> dict:
    """Self time per span id: its duration minus the part of its interval
    covered by its children on the same thread (children on other threads
    run concurrently and do not block it)."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], []) if c["thread"] == s["thread"]
        )
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------------------ /proc
def cpu_jiffies() -> dict:
    """Machine-wide cumulative CPU jiffies from the first /proc/stat line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, vals + [0] * (len(names) - len(vals))))


def cpu_fractions(before: dict, after: dict) -> dict:
    """Steal and idle fractions of all CPU time between two samples."""
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    if total <= 0:
        return {"steal_frac": 0.0, "idle_frac": 0.0}
    return {"steal_frac": d["steal"] / total,
            "idle_frac": (d["idle"] + d["iowait"]) / total}


def session_rss_mb(sid: int) -> float:
    """Summed VmRSS (MB) of every live process in session ``sid``: the
    driver, its JVM, and the Python worker daemon (which moves itself to a
    process group of its own, but not out of the session)."""
    total_kb = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # process exited between listing and reading
    return total_kb / 1024.0


def session_pids(sid: int) -> list[int]:
    out = []
    for pid in _pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) == sid:  # field 6 of stat: session id
                out.append(pid)
        except (OSError, ValueError, IndexError):
            continue
    return out


def _pids():
    return (int(p) for p in os.listdir("/proc") if p.isdigit())
