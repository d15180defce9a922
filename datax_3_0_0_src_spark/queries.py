"""Query catalog: every operator exposed through the driver contract.

Each entry pairs a Spark implementation (DataFrame API, Catalyst-optimized)
with an ANSI-SQL oracle DuckDB runs on the same parquet — the correctness gate.
Column names/aliases match exactly on both sides (the driver hashes values
after sorting columns by name). Entries whose semantics are not SQL-expressible
(the full CDC replay engine, LSH pipelines) have no oracle and get the driver's
rows-only check.

Cross-engine determinism rules used throughout:
- double aggregates rounded (sums 2dp, ratios/avgs 4-6dp);
- integer/fold arithmetic for hashes (mod 1e9+7), identical folds both sides;
- rank ties broken by id;
- timestamps pinned UTC (session.py) — DuckDB is UTC-naive.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .operators import dedup_ops, similarity, textstats
from .operators.transformers import TransformerPipeline, dx_pad, dx_replace, dx_substr

Query = Callable[[SparkSession, str], DataFrame]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _t_par(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture read with a scan-width guard (guide §2.5, input skew): the
    sandbox fixtures are single-file single-row-group parquet, so a bare
    scan is ONE task and every operator pipelined onto it (explodes,
    interpreted HOF transforms, regex) runs single-core no matter how wide
    the machine is — measured 8-10x of some queries' wall. When the input
    is too small to split (parquet cannot split below a row group), one
    cheap round-robin repartition of the MB-sized table buys full-width
    parallelism for the compute above it. Size-gated: inputs big enough to
    produce >= one split per core keep their natural file splits — this
    never adds an exchange at production scale, where tables arrive as many
    files."""
    df = _t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        size = (
            sum(os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p) if f.endswith(".parquet"))
            if os.path.isdir(p) else os.path.getsize(p)
        )
    except OSError:
        return df
    if size < par * (4 << 20):
        return df.repartition(par)
    return df


# =============================================================== CDC family
def cdc_lww_latest(spark, sf_dir):
    """LWW winner per key over the events stream — the engine's dedup operator
    applied to the shared fixture (order by ts, event_id as tiebreak)."""
    ev = _t(spark, sf_dir, "events")
    row = F.struct("ts", "event_type", "value")
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(row, F.struct("ts", "event_id")).alias("w"))
        .select(
            "user_id",
            F.col("w.ts").alias("last_ts"),
            F.col("w.event_type").alias("last_event_type"),
            F.round(F.col("w.value"), 6).alias("last_value"),
        )
    )


CDC_LWW_LATEST_SQL = """
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       round(value, 6) AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
      FROM events) WHERE rn = 1
"""


def cdc_apply_changes(spark, sf_dir):
    """CDC apply semantics on the fixture: last event wins; 'error' acts as a
    delete op => user absent from the final state (mirrors MERGE ... DELETE)."""
    latest = cdc_lww_latest(spark, sf_dir)
    return latest.filter(F.col("last_event_type") != "error")


CDC_APPLY_CHANGES_SQL = """
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       round(value, 6) AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
      FROM events) WHERE rn = 1 AND event_type <> 'error'
"""


# WAL fixture cache for the flagship replay query. INVALIDATION RULE: the dir
# name ENCODES the generator inputs (seed 42, n_events 20000) — any change to
# EventGenConfig parameters below, or to cdc/gen.py's row construction, MUST
# change this suffix (bump a version token), or a stale cached WAL from an
# earlier process would silently feed both the engine and the oracle.
_REPLAY_BASE = os.path.join(tempfile.gettempdir(), "cdc_replay_snapshot_42_20000")


def cdc_replay_snapshot(spark, sf_dir):
    """Flagship: full engine replay of a deterministic synthetic WAL (the
    BASELINE input_hint pages table): validate -> quarantine -> Arrow text
    extraction -> MOR delta MERGE over 4 epochs, LWW resolved at read,
    resume-safe. The final
    (url, warc_ts, lang) state has an exact DuckDB twin over the same WAL
    parquet (validity predicate + LWW window + delete filter); the byte-exact
    ``text`` invariant is enforced by tests/test_replayer_e2e.py."""
    from .cdc.gen import EventGenConfig, write_event_log
    from .cdc.replayer import ReplayConfig, Replayer

    cfg = EventGenConfig(seed=42, n_events=20_000, events_per_epoch=5_000)
    base = _REPLAY_BASE
    log_dir = os.path.join(base, "wal")
    if not os.path.isdir(log_dir):
        write_event_log(spark, cfg, log_dir, slices=8)
    import shutil
    for sub in ("pages", "work"):
        shutil.rmtree(os.path.join(base, sub), ignore_errors=True)
    rep = Replayer(
        spark,
        ReplayConfig(
            log_dir=log_dir,
            table_path=os.path.join(base, "pages"),
            work_dir=os.path.join(base, "work"),
            num_buckets=16,
        ),
    )
    rep.run()
    return rep.table.read().select("url", "warc_ts", "lang")


# The driver runs the Spark query first, which materializes the WAL at this
# fixed path; the oracle then replays it declaratively: validity rules
# (cdc/quarantine.py byte checks) -> LWW window on (warc_ts, log_offset) ->
# tombstone filter. html is valid UTF-8 by construction => VARCHAR cast is
# byte-faithful for the prefix/suffix checks.
def _replay_oracle_sql(base: str) -> str:
    # timezone('UTC', ...): the engine writes the WAL as parquet
    # TIMESTAMP(MICROS, adjustedToUTC), which DuckDB surfaces as TIMESTAMPTZ;
    # Spark's toPandas returns tz-NAIVE UTC instants. Convert explicitly so
    # the driver's value comparison sees identical naive dtypes regardless of
    # the harness's TimeZone setting.
    return f"""
WITH w AS (SELECT * FROM read_parquet('{base}/wal/epoch=*/*.parquet')),
v AS (SELECT * FROM w
      WHERE url IS NOT NULL AND warc_ts IS NOT NULL
        AND (op = 'D' OR (html IS NOT NULL
             AND CAST(html AS VARCHAR) LIKE '<html>%'
             AND CAST(html AS VARCHAR) LIKE '%</body></html>'))),
r AS (SELECT *, row_number() OVER (PARTITION BY url
        ORDER BY warc_ts DESC, log_offset DESC) AS rn FROM v)
SELECT url, timezone('UTC', warc_ts) AS warc_ts, lang
FROM r WHERE rn = 1 AND op <> 'D'
"""


CDC_REPLAY_SQL = _replay_oracle_sql(_REPLAY_BASE)

_REPLAY_FUSED_BASE = os.path.join(tempfile.gettempdir(), "cdc_replay_fused_42_20000")
CDC_REPLAY_FUSED_SQL = _replay_oracle_sql(_REPLAY_FUSED_BASE)


def cdc_replay_fused(spark, sf_dir):
    """Flagship variant with a rewrite fold: the default replay (single-pass
    fused stage — one scan carries validation, executor-side quarantine/stats
    side-writes, Arrow extraction, cdc/fused.py — over pipelined MOR
    micro-batches with optimistic-CAS commits and deferred LWW dedup), then a
    zero-exchange local compaction fold. Same DuckDB oracle as
    cdc_replay_snapshot over its own WAL — the folded table must match the
    LWW state hash-exact."""
    import shutil

    from .cdc.gen import EventGenConfig, write_event_log
    from .cdc.replayer import ReplayConfig, Replayer

    cfg = EventGenConfig(seed=42, n_events=20_000, events_per_epoch=5_000)
    base = _REPLAY_FUSED_BASE
    log_dir = os.path.join(base, "wal")
    if not os.path.isdir(log_dir):
        write_event_log(spark, cfg, log_dir, slices=8)
    for sub in ("pages", "work"):
        shutil.rmtree(os.path.join(base, sub), ignore_errors=True)
    rep = Replayer(
        spark,
        ReplayConfig(
            log_dir=log_dir,
            table_path=os.path.join(base, "pages"),
            work_dir=os.path.join(base, "work"),
            num_buckets=16,
        ),
    )
    rep.run()
    rep.table.compact(target_files_per_bucket=2,
                      strategy=rep.cfg.compact_strategy)
    return rep.table.read().select("url", "warc_ts", "lang")


_LOOKUP_BASE = os.path.join(tempfile.gettempdir(), "cdc_lookup_42_20000")
_LOOKUP_READY: list[str] = []  # in-process build-once latch for the base table


def _lookup_table(spark):
    """Replay the deterministic WAL into a FOLDED + BLOOMED lake table —
    shared base for the pruned-read queries (cdc_point_lookup,
    cdc_ts_range_scan). Rebuilt once per process (the replay is seeded, the
    fold/bloom build deterministic maintenance), reused by the second query."""
    import shutil

    from .cdc.gen import EventGenConfig, write_event_log
    from .cdc.replayer import ReplayConfig, Replayer
    from .lake import LakeTable

    base = _LOOKUP_BASE
    log_dir = os.path.join(base, "wal")
    table_path = os.path.join(base, "pages")
    if _LOOKUP_READY and LakeTable.exists(table_path):
        return LakeTable.load(spark, table_path)
    if not os.path.isdir(log_dir):
        write_event_log(
            spark, EventGenConfig(seed=42, n_events=20_000, events_per_epoch=5_000),
            log_dir, slices=8)
    for sub in ("pages", "work"):
        shutil.rmtree(os.path.join(base, sub), ignore_errors=True)
    rep = Replayer(
        spark,
        ReplayConfig(log_dir=log_dir, table_path=table_path,
                     work_dir=os.path.join(base, "work"), num_buckets=16),
    )
    rep.run()
    # maintenance that makes reads prunable: the DV MINOR fold resolves LWW
    # (ts pruning becomes safe per bucket) while keeping the per-batch
    # time-clustered delta files in place — a rewrite fold would coalesce
    # each bucket's whole history into one file and kill ts pruning — then
    # the bloom build adds point-lookup file skipping
    rep.table.compact(strategy="dv")
    rep.table.build_key_blooms()
    _LOOKUP_READY.append("ok")
    return rep.table


def cdc_point_lookup(spark, sf_dir):
    """Bloom-pruned point lookup (lake/skipping.py): serve current-state rows
    for a key set out of the replayed lake table, planning from bucket
    hashing + per-file key blooms instead of a full scan — the read-side
    counterpart of the MOR ingest path (Iceberg Puffin-style index). The key
    set is every state url whose hashed path ends in '77' (deterministic,
    ~1/256 of keys); the oracle applies the same predicate to the replay's
    LWW state."""
    t = _lookup_table(spark)
    keys = [r["url"] for r in
            t.read().filter(F.col("url").like("%77")).select("url").collect()]
    return t.lookup(keys).select("url", "warc_ts", "lang")


def cdc_ts_range_scan(spark, sf_dir):
    """Time-window state scan with per-file ts min/max pruning
    (LakeTable.scan_ts_range): current-state rows whose warc_ts falls in one
    mid-replay hour. Delta/fold files are time-clustered per micro-batch, so
    the folded table skips every file outside the window — Iceberg's
    metadata value-range pruning, evidenced by tests/test_skipping.py."""
    import datetime as _dt

    t = _lookup_table(spark)
    lo = _dt.datetime(2024, 1, 1, 2, 0, 0)
    hi = _dt.datetime(2024, 1, 1, 3, 0, 0)
    return t.scan_ts_range(lo, hi).select("url", "warc_ts", "lang")


def _lookup_oracle_sql(where: str) -> str:
    # same LWW-state CTE as the replay oracle, narrowed by the query's
    # predicate; timezone('UTC', ...) normalizes DuckDB's TIMESTAMPTZ view
    # of the WAL parquet to the naive-UTC instants Spark returns
    return f"""
WITH w AS (SELECT * FROM read_parquet('{_LOOKUP_BASE}/wal/epoch=*/*.parquet')),
v AS (SELECT * FROM w
      WHERE url IS NOT NULL AND warc_ts IS NOT NULL
        AND (op = 'D' OR (html IS NOT NULL
             AND CAST(html AS VARCHAR) LIKE '<html>%'
             AND CAST(html AS VARCHAR) LIKE '%</body></html>'))),
r AS (SELECT *, row_number() OVER (PARTITION BY url
        ORDER BY warc_ts DESC, log_offset DESC) AS rn FROM v)
SELECT url, timezone('UTC', warc_ts) AS warc_ts, lang
FROM r WHERE rn = 1 AND op <> 'D' AND {where}
"""


CDC_POINT_LOOKUP_SQL = _lookup_oracle_sql("url LIKE '%77'")
CDC_TS_RANGE_SQL = _lookup_oracle_sql(
    "timezone('UTC', warc_ts) BETWEEN TIMESTAMP '2024-01-01 02:00:00' "
    "AND TIMESTAMP '2024-01-01 03:00:00'")


_CHANGES_BASE = os.path.join(tempfile.gettempdir(), "cdc_changes_42_20000")


def cdc_changes_feed(spark, sf_dir):
    """Change-data-feed consumer (Delta CDF / Iceberg changelog-scan parity,
    LakeTable.changes): replay the WAL into a MOR table with raw delta
    layering (no per-batch dedup), then read every row-level change committed
    since v0 from the manifest's delta-file history — upserts as rows,
    deletes as tombstones. The oracle is the WAL's validity filter with the
    op mapped to the change type: the feed must be exactly the valid events,
    no more, no less."""
    import shutil

    from .cdc.gen import EventGenConfig, write_event_log
    from .cdc.replayer import ReplayConfig, Replayer

    cfg = EventGenConfig(seed=42, n_events=20_000, events_per_epoch=5_000)
    base = _CHANGES_BASE
    log_dir = os.path.join(base, "wal")
    if not os.path.isdir(log_dir):
        write_event_log(spark, cfg, log_dir, slices=8)
    for sub in ("pages", "work"):
        shutil.rmtree(os.path.join(base, sub), ignore_errors=True)
    rep = Replayer(
        spark,
        ReplayConfig(
            log_dir=log_dir,
            table_path=os.path.join(base, "pages"),
            work_dir=os.path.join(base, "work"),
            num_buckets=16,
        ),
    )
    rep.run()
    ch = rep.table.changes(0)
    return ch.select(
        "url",
        "warc_ts",
        F.col("_change_type").alias("change_type"),
        F.col("_change_offset").alias("log_offset"),
    )


CDC_CHANGES_FEED_SQL = f"""
WITH w AS (SELECT * FROM read_parquet('{_CHANGES_BASE}/wal/epoch=*/*.parquet')),
v AS (SELECT * FROM w
      WHERE url IS NOT NULL AND warc_ts IS NOT NULL
        AND (op = 'D' OR (html IS NOT NULL
             AND CAST(html AS VARCHAR) LIKE '<html>%'
             AND CAST(html AS VARCHAR) LIKE '%</body></html>')))
SELECT url, timezone('UTC', warc_ts) AS warc_ts,
       CASE WHEN op = 'D' THEN 'delete' ELSE 'upsert' END AS change_type,
       log_offset
FROM v
"""


_MV_BASE = os.path.join(tempfile.gettempdir(), "cdc_incr_mv_42_20000")


def cdc_incremental_mv(spark, sf_dir):
    """Incremental materialized-view maintenance (lake/mv.py): replay the WAL
    into a MOR table, then advance a per-lang count MV version-by-version from
    the change data feed — changed-key-scoped, bucket-pruned delta refresh,
    never a full rescan after bootstrap. The returned MV is the CHAINED
    refresh across every commit, so the oracle (full group-count of the final
    LWW state) proves incremental == full recompute end-to-end."""
    import shutil

    from .cdc.gen import EventGenConfig, write_event_log
    from .cdc.replayer import ReplayConfig, Replayer
    from .lake.mv import refresh_group_agg

    cfg = EventGenConfig(seed=42, n_events=20_000, events_per_epoch=5_000)
    base = _MV_BASE
    log_dir = os.path.join(base, "wal")
    if not os.path.isdir(log_dir):
        write_event_log(spark, cfg, log_dir, slices=8)
    for sub in ("pages", "work"):
        shutil.rmtree(os.path.join(base, sub), ignore_errors=True)
    rep = Replayer(
        spark,
        ReplayConfig(
            log_dir=log_dir,
            table_path=os.path.join(base, "pages"),
            work_dir=os.path.join(base, "work"),
            num_buckets=16,
        ),
    )
    rep.run()
    t = rep.table
    mv = None
    for v in range(0, t.snapshot().version):
        mv = refresh_group_agg(t, mv, v, v + 1, group_cols=["lang"])
    return mv.select("lang", "n_rows")


CDC_INCREMENTAL_MV_SQL = f"""
WITH w AS (SELECT * FROM read_parquet('{_MV_BASE}/wal/epoch=*/*.parquet')),
v AS (SELECT * FROM w
      WHERE url IS NOT NULL AND warc_ts IS NOT NULL
        AND (op = 'D' OR (html IS NOT NULL
             AND CAST(html AS VARCHAR) LIKE '<html>%'
             AND CAST(html AS VARCHAR) LIKE '%</body></html>'))),
r AS (SELECT *, row_number() OVER (PARTITION BY url
        ORDER BY warc_ts DESC, log_offset DESC) AS rn FROM v)
SELECT lang, count(*) AS n_rows
FROM r WHERE rn = 1 AND op <> 'D'
GROUP BY lang
"""


def cdc_cell_changes(spark, sf_dir):
    """Cell-change output mode: one row per changed cell with an op tag and a
    per-event sequence id — the reference's MULTI_VERSION record shape
    (otsstreamreader/.../core/MultiVerModeRecordSender.java:11-65, op U/DR;
    sequence id append mirrors SingleVerAndUpOnlyModeRecordSender.java:94-100).
    Expressed over the shared events fixture: each event unpivots to
    (key, cell, value) rows; 'error' events emit a single delete-row (DR) cell."""
    ev = _t(spark, sf_dir, "events")
    seq = F.concat_ws("_", F.unix_micros(F.col("ts").cast("timestamp_ltz")),
                      F.col("event_id"))
    base = ev.select(
        F.col("user_id").alias("key"),
        F.col("event_id"),
        seq.alias("seq_id"),
        F.col("event_type"),
        F.round("value", 6).cast("string").alias("value_str"),
        F.col("props"),
    )
    upd = base.filter(F.col("event_type") != "error").select(
        "key", "event_id", "seq_id",
        F.expr("stack(2, 'value', value_str, 'props', props)").alias("cell", "new_value"),
        F.lit("U").alias("op"),
    )
    dels = base.filter(F.col("event_type") == "error").select(
        "key", "event_id", "seq_id",
        F.lit(None).cast("string").alias("cell"),
        F.lit(None).cast("string").alias("new_value"),
        F.lit("DR").alias("op"),
    )
    return upd.unionByName(dels)


CDC_CELL_CHANGES_SQL = """
WITH base AS (
  SELECT user_id AS key, event_id,
         CAST(epoch_us(ts) AS VARCHAR) || '_' || CAST(event_id AS VARCHAR) AS seq_id,
         event_type, CAST(round(value, 6) AS VARCHAR) AS value_str, props
  FROM events)
SELECT key, event_id, seq_id, 'value' AS cell, value_str AS new_value, 'U' AS op
FROM base WHERE event_type <> 'error'
UNION ALL
SELECT key, event_id, seq_id, 'props' AS cell, props AS new_value, 'U' AS op
FROM base WHERE event_type <> 'error'
UNION ALL
SELECT key, event_id, seq_id, NULL AS cell, NULL AS new_value, 'DR' AS op
FROM base WHERE event_type = 'error'
"""


# ============================================================ relational/TPCH
def tpch_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def tpch_q3_shipping(spark, sf_dir):
    """Join chain with broadcast dims + top-k by revenue."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


TPCH_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def tpch_q5_nation_revenue(spark, sf_dir):
    """Star join through region/nation dims — all dims broadcast."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy("r_name", "n_name")
    )


TPCH_Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
"""


def top_order_per_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("top_orderkey"),
            F.round("o_totalprice", 2).alias("top_totalprice"),
        )
    )


TOP_ORDER_SQL = """
SELECT o_custkey, o_orderkey AS top_orderkey, round(o_totalprice, 2) AS top_totalprice
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC) rn FROM orders) WHERE rn = 1
"""


def events_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap starts a new session."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the fixtures; cast via LTZ (session TZ pinned UTC)
    epoch_s = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch_s - F.lag(epoch_s).over(w)
    sess = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("session_value"))
        .orderBy("user_id", "session_id")
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM events),
s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g)
SELECT user_id, session_id, count(*) AS n_events, round(sum(value), 4) AS session_value
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def events_json_extract(spark, sf_dir):
    """Semi-structured scalar path: JSON prop extraction + typed cast
    (the rdbms reader's per-cell dynamic typing, CommonRdbmsReader.java:241-350,
    as declarative expressions)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("k").alias("sum_k"),
             F.round(F.avg("k"), 6).alias("avg_k"))
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_minutely(spark, sf_dir):
    """Streaming-style tumbling-window aggregate (batch expression)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("minute", "event_type")
    )


EVENTS_MINUTELY_SQL = """
SELECT date_trunc('minute', ts) AS minute, event_type,
       count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# ======================================================== transformers (dx_*)
def transform_pipeline(spark, sf_dir):
    """dx_substr + dx_pad + dx_replace + dx_filter chained, DataX semantics
    (dx_filter DROPS matching rows)."""
    part = _t(spark, sf_dir, "part")
    pipe = (
        TransformerPipeline()
        .with_column("name_head", dx_substr("p_name", 0, 8))
        .with_column("brand_pad", dx_pad("p_brand", "l", 10, "#"))
        .with_column("type_fix", dx_replace("p_type", 0, 5, "TYPE-"))
        .filter_out("p_size", "<", 5)
    )
    return pipe.apply(part).select("p_partkey", "name_head", "brand_pad", "type_fix", "p_size")


TRANSFORM_SQL = """
SELECT p_partkey,
       substr(p_name, 1, 8) AS name_head,
       lpad(p_brand, 10, '#') AS brand_pad,
       'TYPE-' || CASE WHEN length(p_type) > 5 THEN substr(p_type, 6) ELSE '' END AS type_fix,
       p_size
FROM part WHERE NOT coalesce(p_size < 5, FALSE)
"""


# ============================================================== text analysis
def doc_token_stats(spark, sf_dir):
    return textstats.token_stats(_t_par(spark, sf_dir, "documents"))


DOC_TOKEN_STATS_SQL = """
WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       length(text) AS n_chars,
       len(list_distinct(toks)) AS n_distinct_tokens,
       round(list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks), 6) AS avg_token_len
FROM t
"""


def doc_token_bpe(spark, sf_dir):
    """Whitespace + BPE-ish-regex token counts (corpus sizing for LLM data)."""
    return textstats.bpe_token_count(_t_par(spark, sf_dir, "documents"))


DOC_TOKEN_BPE_SQL = f"""
WITH t AS (SELECT doc_id, text,
             len(string_split_regex(trim(text), '\\s+')) AS ws,
             len(regexp_extract_all(text,
                 '{textstats.BPE_ISH_RE.replace("'", "''")}')) AS bpe
           FROM documents)
SELECT doc_id, ws AS n_ws_tokens, bpe AS n_bpe_tokens,
       round(bpe * 1.0 / ws, 6) AS bpe_per_word
FROM t
"""


def doc_quality(spark, sf_dir):
    return textstats.quality_score(_t_par(spark, sf_dir, "documents"))


_SW = "', '".join(textstats.STOPWORDS)
DOC_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
r AS (SELECT doc_id,
        len(list_filter(toks, x -> x IN ('{_SW}'))) * 1.0 / len(toks) AS stop_ratio,
        len(list_distinct(toks)) * 1.0 / len(toks) AS dist_ratio,
        least(len(toks) / 100.0, 1.0) AS len_score
      FROM t)
SELECT doc_id, round(stop_ratio, 6) AS stopword_ratio, round(dist_ratio, 6) AS distinct_ratio,
       round(len_score, 6) AS length_score,
       round(0.3 * stop_ratio + 0.4 * dist_ratio + 0.3 * len_score, 6) AS quality_score
FROM r
"""


def doc_repetition(spark, sf_dir):
    """Gopher-style repetition signals (dup/top word-2gram fractions)."""
    return textstats.repetition_signals(_t_par(spark, sf_dir, "documents"), n=2)


DOC_REPETITION_SQL = r"""
WITH t AS (SELECT doc_id, len(text) AS n_chars,
                  string_split_regex(trim(text), '\s+') AS toks FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_2grams,
             round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0
                   / sum(cnt), 6) AS dup_2gram_frac
      FROM c GROUP BY doc_id),
top AS (SELECT doc_id, gram, cnt FROM c
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY cnt DESC, gram ASC) = 1)
SELECT t.doc_id,
       coalesce(d.n_2grams, 0) AS n_2grams,
       coalesce(d.dup_2gram_frac, 0) AS dup_2gram_frac,
       top.gram AS top_2gram,
       CAST(coalesce(top.cnt, 0) AS BIGINT) AS top_2gram_count,
       coalesce(round(top.cnt * len(top.gram) * 1.0 / t.n_chars, 6), 0)
           AS top_2gram_char_frac
FROM t LEFT JOIN d USING (doc_id) LEFT JOIN top USING (doc_id)
"""


def doc_gopher_filter(spark, sf_dir):
    """Gopher-style keep/drop verdicts composed from the signal operators."""
    return textstats.gopher_keep_filter(_t_par(spark, sf_dir, "documents"))


DOC_GOPHER_FILTER_SQL = rf"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
b AS (SELECT doc_id, len(toks) AS n_tokens,
        len(list_distinct(toks)) * 1.0 / len(toks) AS dist_ratio,
        len(list_filter(toks, x -> x IN ('{_SW}'))) * 1.0 / len(toks) AS stop_ratio
      FROM t),
g AS (SELECT doc_id,
        unnest(CASE WHEN len(toks) >= 2
          THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
          ELSE [array_to_string(toks, ' ')] END) AS gram
      FROM t),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
r AS (SELECT doc_id,
        round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0 / sum(cnt), 6)
          AS dup_2gram_frac
      FROM c GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       (b.n_tokens >= 20 AND b.n_tokens <= 100000) AS keep_length,
       (b.stop_ratio >= 0.02) AS keep_stopwords,
       (b.dist_ratio >= 0.35) AS keep_distinct,
       (r.dup_2gram_frac <= 0.6) AS keep_repetition,
       ((b.n_tokens >= 20 AND b.n_tokens <= 100000) AND b.stop_ratio >= 0.02
        AND b.dist_ratio >= 0.35 AND r.dup_2gram_frac <= 0.6) AS keep
FROM b JOIN r USING (doc_id)
"""


def doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any 8-gram with
    the deterministic eval slice (doc_id % 97 == 0)."""
    return textstats.decontaminate(_t_par(spark, sf_dir, "documents"), n=8)


DOC_DECONTAMINATE_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 8
        THEN list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' '))
        ELSE [array_to_string(toks, ' ')] END)) AS gram FROM t),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
h AS (SELECT doc_id, count(*) AS n_eval_grams_hit
      FROM g JOIN e USING (gram) WHERE doc_id % 97 <> 0 GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(h.n_eval_grams_hit, 0) AS BIGINT) AS n_eval_grams_hit,
       COALESCE(h.n_eval_grams_hit, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN h USING (doc_id)
"""


def doc_pii_scrub(spark, sf_dir):
    """PII redaction with per-kind counts (emails / IPv4s / phone runs)."""
    return textstats.pii_scrub(_t_par(spark, sf_dir, "documents"))


# Same sequential redaction as the Spark op (email -> ipv4 -> phone), each
# count taken on the text as it stands at that step; patterns are shared
# RE2/Java-safe literals from textstats (no \d/\s shorthand, no lookaround).
DOC_PII_SCRUB_SQL = r"""
WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
s1 AS (SELECT doc_id, t0,
         regexp_replace(t0, '{email}', '<EMAIL>', 'g') AS t1 FROM s0),
s2 AS (SELECT doc_id, t0, t1,
         regexp_replace(t1, '{ipv4}', '<IP>', 'g') AS t2 FROM s1),
s3 AS (SELECT doc_id, t0, t1, t2,
         regexp_replace(t2, '{phone}', '<PHONE>', 'g') AS t3 FROM s2)
SELECT doc_id,
       t3 AS text_scrubbed,
       CAST(len(regexp_extract_all(t0, '{email}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t1, '{ipv4}')) AS BIGINT) AS n_ipv4s,
       CAST(len(regexp_extract_all(t2, '{phone}')) AS BIGINT) AS n_phones,
       (len(regexp_extract_all(t0, '{email}'))
        + len(regexp_extract_all(t1, '{ipv4}'))
        + len(regexp_extract_all(t2, '{phone}'))) > 0 AS has_pii
FROM s3
""".format(email=textstats.PII_EMAIL.replace("'", "''"),
           ipv4=textstats.PII_IPV4.replace("'", "''"),
           phone=textstats.PII_PHONE.replace("'", "''"))


def doc_lang_id(spark, sf_dir):
    return textstats.lang_id(_t_par(spark, sf_dir, "documents"))


def _markers_sql(lang):
    return "', '".join(textstats.LANG_MARKERS[lang])


DOC_LANG_ID_SQL = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
c AS (SELECT doc_id,
        len(list_filter(toks, x -> x IN ('{_markers_sql("en")}'))) AS en_n,
        len(list_filter(toks, x -> x IN ('{_markers_sql("de")}'))) AS de_n,
        len(list_filter(toks, x -> x IN ('{_markers_sql("fr")}'))) AS fr_n,
        len(list_filter(toks, x -> x IN ('{_markers_sql("es")}'))) AS es_n
      FROM t)
SELECT doc_id, en_n, de_n, fr_n, es_n,
       CASE WHEN greatest(en_n, de_n, fr_n, es_n) = 0 THEN 'unknown'
            WHEN en_n = greatest(en_n, de_n, fr_n, es_n) THEN 'en'
            WHEN de_n = greatest(en_n, de_n, fr_n, es_n) THEN 'de'
            WHEN fr_n = greatest(en_n, de_n, fr_n, es_n) THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM c
"""

# shared DuckDB fragment: the cross-engine word hash (textstats.word_hash_expr)
_WH = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
       "list_transform(list_filter(string_split({w}, ''), ch -> length(ch) > 0), "
       "ch -> CAST(ascii(ch) AS BIGINT))), (acc, x) -> (acc * 31 + x) % 1000000007)")


def doc_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_t_par(spark, sf_dir, "documents"))


DOC_FINGERPRINT_SQL = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(toks, w -> {_WH.format(w='w')})),
         (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint
FROM t
"""


# ================================================================== dedup ops
def doc_dup_spans(spark, sf_dir):
    """Cross-document duplicated-span stats (substring-dedup approximation)."""
    return dedup_ops.crossdoc_dup_spans(_t_par(spark, sf_dir, "documents"), n=8)


DOC_DUP_SPANS_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
w AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
        THEN list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' '))
        ELSE [array_to_string(toks, ' ')] END) AS w FROM t),
c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
d AS (SELECT doc_id, count(*) AS n_windows,
             CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
      FROM w JOIN c USING (w) GROUP BY doc_id)
SELECT doc_id, n_windows, n_dup_windows,
       round(n_dup_windows * 1.0 / n_windows, 6) AS dup_window_frac
FROM d
"""


def doc_exact_dedup(spark, sf_dir):
    return dedup_ops.exact_dedup(_t_par(spark, sf_dir, "documents"))


DOC_EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id, count(*) AS n_docs
FROM documents GROUP BY md5(text)
"""

_SHINGLES2 = ("CASE WHEN len(toks) >= 2 THEN "
              "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) "
              "ELSE [list_aggregate(toks, 'string_agg', ' ')] END")


def doc_minhash_signatures(spark, sf_dir):
    return dedup_ops.minhash_signatures(_t_par(spark, sf_dir, "documents"), k=4)


DOC_MINHASH_SQL = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({_SHINGLES2}) AS sh FROM t),
h AS (SELECT doc_id, list_transform(sh, w -> {_WH.format(w='w')}) AS hs FROM s)
SELECT doc_id,
  list_min(list_transform(hs, h -> (h * 1000003 + 12345) % 1000000007)) AS mh0,
  list_min(list_transform(hs, h -> (h * 999983 + 54321) % 1000000007)) AS mh1,
  list_min(list_transform(hs, h -> (h * 1000033 + 98765) % 1000000007)) AS mh2,
  list_min(list_transform(hs, h -> (h * 999979 + 13579) % 1000000007)) AS mh3
FROM h
"""


def doc_simhash(spark, sf_dir):
    return dedup_ops.simhash(_t_par(spark, sf_dir, "documents"), bits=16)


def _simhash_sql(bits: int = 16) -> str:
    # bit b = parity of an affine re-hash of the token hash (mirrors
    # dedup_ops.simhash_bit_params — raw H bits above ~30 are constant)
    terms = []
    for b in range(bits):
        a, c = dedup_ops.simhash_bit_params(b)
        terms.append(
            f"CASE WHEN list_sum(list_transform(hs, h -> "
            f"CASE WHEN ((h * {a} + {c}) % 1000000007) % 2 = 1 "
            f"THEN 1 ELSE -1 END)) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        )
    total = " + ".join(terms)
    return f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, w -> {_WH.format(w='w')}) AS hs FROM t)
SELECT doc_id, {total} AS simhash FROM h
"""


DOC_SIMHASH_SQL = _simhash_sql(16)


def doc_simhash_near_pairs(spark, sf_dir):
    """SimHash Hamming-distance near-dups via band buckets (exact recall for
    max_hamming < bands by pigeonhole — the oracle brute-forces the distinct
    simhash values to certify exactly that). Runs at the SCALE defaults:
    60-bit simhash, 15-bit bands (32,768 values/band), so candidate buckets
    stay collision-bounded instead of capturing ~1/16 of the corpus each."""
    return dedup_ops.simhash_near_pairs(
        _t_par(spark, sf_dir, "documents"), bits=60, bands=4, max_hamming=2
    )


DOC_SIMHASH_PAIRS_SQL = f"""
WITH s AS ({_simhash_sql(60).strip()}),
v AS (SELECT simhash, list(doc_id ORDER BY doc_id) AS docs FROM s GROUP BY simhash),
vp AS (SELECT a.simhash AS ha, b.simhash AS hb, a.docs AS da, b.docs AS db
       FROM v a JOIN v b ON a.simhash <= b.simhash
       WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 2),
pairs AS (
  SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
         CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS INT) AS hamming
  FROM vp, UNNEST(da) AS ua(ia), UNNEST(db) AS ub(ib)
  WHERE ia <> ib)
SELECT DISTINCT id_a, id_b, hamming FROM pairs
"""


def doc_ngram_jaccard(spark, sf_dir):
    """Jaccard near-dup pairs with the hot-shingle df cap ON (shingles seen in
    >100 docs carry no discriminating signal and would make the inverted-index
    self-join quadratic at scale — the cap is the design, mirrored exactly in
    the oracle's HAVING filter)."""
    return dedup_ops.ngram_jaccard_pairs(
        _t_par(spark, sf_dir, "documents"), n=2, threshold=0.2, max_shingle_df=100
    )


DOC_NGRAM_JACCARD_SQL = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
s0 AS (SELECT doc_id AS _id, unnest(list_distinct({_SHINGLES2})) AS shingle FROM t),
hot AS (SELECT shingle FROM s0 GROUP BY shingle HAVING count(*) > 100),
s AS (SELECT s0._id, s0.shingle FROM s0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT _id, count(*) AS n_sh FROM s GROUP BY _id),
common AS (SELECT a._id AS id_a, b._id AS id_b, count(*) AS n_common
           FROM s a JOIN s b ON a.shingle = b.shingle AND a._id < b._id
           GROUP BY a._id, b._id)
SELECT id_a, id_b, n_common,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common JOIN sizes sa ON sa._id = id_a JOIN sizes sb ON sb._id = id_b
WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.2
"""


def doc_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pipeline: banding -> candidate pairs -> Jaccard
    verify bounded to the candidate set (cross-engine band hash => exact
    DuckDB oracle)."""
    return dedup_ops.minhash_lsh_pairs(
        _t_par(spark, sf_dir, "documents"), k=8, bands=4, shingle_n=2, jaccard_threshold=0.2
    )


def _minhash_list_sql() -> str:
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % 1000000007))"
        for a, b in dedup_ops.MINHASH_AB[:8]
    )
    return f"[{perms}]"


DOC_MINHASH_LSH_SQL = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
sh AS (SELECT doc_id, list_distinct({_SHINGLES2}) AS shl FROM t),
h AS (SELECT doc_id, shl, list_transform(shl, w -> {_WH.format(w='w')}) AS hs FROM sh),
sig AS (SELECT doc_id, shl, {_minhash_list_sql()} AS mh FROM h),
bands AS (SELECT doc_id, b AS band,
            list_reduce(list_prepend(CAST(b + 1 AS BIGINT), mh[b*2+1 : b*2+2]),
                        (acc, x) -> (acc * 131 + x) % 1000000007) AS bucket
          FROM sig, UNNEST([0, 1, 2, 3]) AS u(b)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
s AS (SELECT doc_id AS _id, unnest(shl) AS shingle FROM sh),
sizes AS (SELECT _id, count(*) AS n_sh FROM s GROUP BY _id),
common AS (SELECT a._id AS id_a, b._id AS id_b, count(*) AS n_common
           FROM s a JOIN s b ON a.shingle = b.shingle AND a._id < b._id
           SEMI JOIN cand ON cand.id_a = a._id AND cand.id_b = b._id
           GROUP BY a._id, b._id)
SELECT id_a, id_b, n_common,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common JOIN sizes sa ON sa._id = id_a JOIN sizes sb ON sb._id = id_b
WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.2
"""


# ================================================================= similarity
def emb_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(
        _t_par(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    )


EMB_COSINE_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
p AS (SELECT query_id, neighbor_id,
        round(list_dot_product(qv, cv) /
              (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine_sim
      FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM p)
SELECT query_id, rank, neighbor_id, cosine_sim FROM r WHERE rank <= 5
"""


def emb_lsh_near_pairs(spark, sf_dir):
    """Hyperplane-LSH candidate generation + exact cosine verify. The planes
    are integer-derived and the dot products are explicit left folds in both
    engines, so the DuckDB twin is bit-reproducible."""
    return similarity.lsh_near_pairs(
        _t_par(spark, sf_dir, "embeddings"), n_planes=6, dim=64, min_cosine=0.25
    )


def _fold_dot(a: str, b: str, dim: int = 64) -> str:
    """DuckDB left-fold dot product — same summation order as Spark's
    F.aggregate fold, so doubles match bit-for-bit."""
    return (f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
            f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)")


def emb_ivf_topk(spark, sf_dir):
    """IVF ANN (nprobe=1): deterministic coarse quantizer (seeds = lowest 16
    ids) + exact cosine top-k within the query's cell — the candidate join
    shuffles on the cell key instead of scanning the corpus per query."""
    return similarity.ivf_topk(
        _t_par(spark, sf_dir, "embeddings"), query_ids=list(range(10)), n_cells=16, k=5
    )


def emb_ivf_topk_refined(spark, sf_dir):
    """IVF ANN with Lloyd-refined centroids (round-3 verdict item 4): 2
    deterministic k-means iterations on integer-quantized embeddings —
    centroids are elementwise integer SUMS (cosine is scale-invariant), so
    every dot product is exact int64 arithmetic and the DuckDB oracle
    unrolling the same 3 assignments + 2 updates matches bit-for-bit."""
    return similarity.ivf_topk(
        _t_par(spark, sf_dir, "embeddings"), query_ids=list(range(10)),
        n_cells=16, k=5, refine_iters=2,
    )


def _ivf_refined_sql(n_cells: int, n_iters: int = 2, scale: int = 1000) -> str:
    """Unrolled Lloyd oracle: c0 = quantized seed vectors; per iteration an
    argmax assignment (sim rounded 6dp, ties to lowest cell, −1 when a norm
    is 0) and an elementwise-sum centroid update (empty cell keeps its
    previous centroid); final assignment feeds the within-cell float top-k."""
    def qsim(v, c):
        dd = _fold_dot(v, c)
        n1, n2 = _fold_dot(v, v), _fold_dot(c, c)
        return (f"CASE WHEN sqrt({n1}) * sqrt({n2}) > 0 "
                f"THEN round({dd} / (sqrt({n1}) * sqrt({n2})), 6) "
                f"ELSE -1.0 END")

    parts = [f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
q AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(round(x * {scale}) AS BIGINT)) AS qv
      FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INT) AS cell, qv AS c FROM q WHERE vec_id < {n_cells})"""]
    prev = "c0"
    for t in range(n_iters):
        parts.append(f""",
a{t} AS (SELECT vec_id, cell FROM
           (SELECT q.vec_id, {prev}.cell,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {qsim('q.qv', f'{prev}.c')} DESC, {prev}.cell ASC) AS rn
            FROM q CROSS JOIN {prev})
         WHERE rn = 1),
s{t + 1} AS (SELECT cell, list(s ORDER BY i) AS c FROM
           (SELECT a{t}.cell, i.i, SUM(q.qv[i.i]) AS s
            FROM q JOIN a{t} USING (vec_id),
                 (SELECT unnest(generate_series(1, 64)) AS i) i
            GROUP BY a{t}.cell, i.i)
         GROUP BY cell),
c{t + 1} AS (SELECT p.cell, COALESCE(s{t + 1}.c, p.c) AS c
         FROM {prev} p LEFT JOIN s{t + 1} USING (cell))""")
        prev = f"c{t + 1}"
    parts.append(f""",
assign AS (SELECT vec_id, cell FROM
             (SELECT q.vec_id, {prev}.cell,
                     row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {qsim('q.qv', f'{prev}.c')} DESC, {prev}.cell ASC) AS rn
              FROM q CROSS JOIN {prev})
           WHERE rn = 1),
qr AS (SELECT a.vec_id AS query_id, a.cell, v.vec AS qv2
       FROM assign a JOIN v ON v.vec_id = a.vec_id WHERE a.vec_id < 10),
c AS (SELECT a.vec_id AS neighbor_id, a.cell, v.vec AS cv
      FROM assign a JOIN v ON v.vec_id = a.vec_id),
p AS (SELECT query_id, neighbor_id,
        round({_fold_dot('qv2', 'cv')}
              / (sqrt({_fold_dot('qv2', 'qv2')}) * sqrt({_fold_dot('cv', 'cv')})), 6) AS cosine_sim
      FROM c JOIN qr USING (cell) WHERE neighbor_id <> query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM p)
SELECT query_id, rank, neighbor_id, cosine_sim FROM r WHERE rank <= 5""")
    return "".join(parts)


EMB_IVF_REFINED_SQL = _ivf_refined_sql(16, 2)


def emb_ivf_topk_big(spark, sf_dir):
    """IVF ANN at a cell count past the literal-embedding threshold (128 >
    64): the centroid assignment runs as a BROADCAST-JOIN argmax — the plan
    carries no embedded centroid arrays (at the 2^10-2^14 cells a 100 TB
    corpus wants, literals would bloat every task's plan), same
    (sim, lowest-seed-id) rule, bit-identical to the SQL twin."""
    return similarity.ivf_topk(
        _t_par(spark, sf_dir, "embeddings"), query_ids=list(range(10)),
        n_cells=128, k=5,
    )


def _ivf_sql(n_cells: int) -> str:
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
seeds AS (SELECT vec_id AS seed_id, vec AS svec FROM v WHERE vec_id < {n_cells}),
sims AS (SELECT v.vec_id, seed_id,
           round({_fold_dot('vec', 'svec')}
                 / (sqrt({_fold_dot('vec', 'vec')}) * sqrt({_fold_dot('svec', 'svec')})), 6) AS s
         FROM v CROSS JOIN seeds),
assign AS (SELECT vec_id, seed_id AS cell FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, seed_id ASC) AS rn FROM sims)
           WHERE rn = 1),
q AS (SELECT a.vec_id AS query_id, a.cell, v.vec AS qv
      FROM assign a JOIN v ON v.vec_id = a.vec_id WHERE a.vec_id < 10),
c AS (SELECT a.vec_id AS neighbor_id, a.cell, v.vec AS cv
      FROM assign a JOIN v ON v.vec_id = a.vec_id),
p AS (SELECT query_id, neighbor_id,
        round({_fold_dot('qv', 'cv')}
              / (sqrt({_fold_dot('qv', 'qv')}) * sqrt({_fold_dot('cv', 'cv')})), 6) AS cosine_sim
      FROM q JOIN c ON q.cell = c.cell AND neighbor_id <> query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM p)
SELECT query_id, rank, neighbor_id, cosine_sim FROM r WHERE rank <= 5
"""


EMB_IVF_SQL = _ivf_sql(16)
EMB_IVF_BIG_SQL = _ivf_sql(128)


# plane component formula mirrors similarity.hyperplane_lsh_buckets (seed 42);
# all dot products are left folds (list_reduce) to pin fp summation order.
EMB_LSH_SQL = """
WITH planes AS (
  SELECT b.p AS p,
         list_transform(range(0, 64), j ->
           CAST((((42 * 1000003 + b.p * 131 + j * 31) * 2654435761)
                 % 1000000007) % 2001 - 1000 AS DOUBLE) / 1000.0) AS plane
  FROM UNNEST([0, 1, 2, 3, 4, 5]) AS b(p)),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
proj AS (SELECT vec_id, p,
           list_reduce(list_prepend(0.0,
             list_transform(range(1, 65), i -> vec[i] * plane[i])),
             (acc, x) -> acc + x) AS pr
         FROM v CROSS JOIN planes),
buck AS (SELECT vec_id,
           sum(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
         FROM proj GROUP BY vec_id),
cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
pairs AS (SELECT id_a, id_b,
            list_reduce(list_prepend(0.0,
              list_transform(range(1, 65), i -> va.vec[i] * vb.vec[i])),
              (acc, x) -> acc + x) AS dot_ab,
            sqrt(list_reduce(list_prepend(0.0,
              list_transform(range(1, 65), i -> va.vec[i] * va.vec[i])),
              (acc, x) -> acc + x)) AS na,
            sqrt(list_reduce(list_prepend(0.0,
              list_transform(range(1, 65), i -> vb.vec[i] * vb.vec[i])),
              (acc, x) -> acc + x)) AS nb
          FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b)
SELECT id_a, id_b, round(dot_ab / (na * nb), 6) AS cosine_sim
FROM pairs WHERE round(dot_ab / (na * nb), 6) >= 0.25
"""


def multimodal_media_meta(spark, sf_dir):
    """Binary media columns -> typed metadata via Arrow mapInPandas. The
    payloads are REAL PNG container headers built per doc (sig + IHDR with
    doc-derived dimensions, assembled JVM-side with unhex), and the engine
    parses them back with the pure-Python PNG header parser — so the DuckDB
    oracle can recompute every field from doc_id exactly."""
    from .operators.multimodal import extract_media_meta

    docs = _t_par(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 640 + 16).cast("bigint")
    h = ((F.col("doc_id") * 7) % 480 + 16).cast("bigint")
    hexstr = F.concat(
        F.lit("89504E470D0A1A0A" "0000000D" "49484452"),
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("0806000000"),
    )
    media = docs.select("doc_id", F.unhex(hexstr).alias("payload"))
    return extract_media_meta(media)


MULTIMODAL_SQL = """
SELECT doc_id,
       'image/png' AS media_type,
       CAST(29 AS BIGINT) AS byte_len,
       '89504e470d0a1a0a' AS header_hex,
       CAST(doc_id % 640 + 16 AS INT) AS width,
       CAST((doc_id * 7) % 480 + 16 AS INT) AS height,
       1 AS n_frames
FROM documents
"""


def multimodal_media_meta_mixed(spark, sf_dir):
    """Mixed-container media metadata: doc_id % 4 picks PNG / JPEG / WAV /
    MP4; each payload is a REAL container header assembled JVM-side from
    doc-derived fields (PNG sig+IHDR, JPEG SOI+SOF0, RIFF/WAVE fmt+data,
    ISO-BMFF ftyp+moov/mvhd/trak/tkhd at real byte offsets) and parsed back
    by the pure-Python header parsers over Arrow mapInPandas — every output
    field is recomputable from doc_id, so the DuckDB twin is exact."""
    from .operators.multimodal import extract_media_meta

    docs = _t_par(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def be(c, n):  # big-endian fixed-width hex of a nonneg integral column
        return F.lpad(F.hex(c.cast("bigint")), n, "0")

    def le16(c):  # little-endian uint16 hex
        c = c.cast("bigint")
        return F.concat(be(c % 256, 2), be(F.shiftright(c, 8) % 256, 2))

    png_w, png_h = d % 640 + 16, (d * 7) % 480 + 16
    sr, ch = 8000 + (d % 8) * 1000, d % 2 + 1
    ba, dsz = ch * 2, (d % 100 + 1) * (ch * 2)
    m4_w, m4_h, m4_dur = d % 1280 + 16, (d * 3) % 720 + 16, d % 900 + 30

    png = F.concat(F.lit("89504E470D0A1A0A" "0000000D" "49484452"),
                   be(png_w, 8), be(png_h, 8), F.lit("0806000000"))
    jpg = F.concat(F.lit("FFD8" "FFC0" "000B" "08"),
                   be(png_h, 4), be(png_w, 4), F.lit("01" "011100"))
    wav = F.concat(
        F.lit("52494646" "24000000" "57415645"          # RIFF/WAVE
              "666D7420" "10000000" "0100"),             # fmt chunk, PCM
        le16(ch), le16(sr), F.lit("0000"),               # channels, rate (LE32)
        le16(sr * ba), F.lit("0000"), le16(ba), F.lit("1000"),
        F.lit("64617461"), le16(dsz), F.lit("0000"),     # data chunk header
    )
    mp4 = F.concat(
        F.lit("00000010" "66747970" "69736F6D" "00000200"    # ftyp isom
              "000000D8" "6D6F6F76"                          # moov (216 B)
              "0000006C" "6D766864" "00000000"               # mvhd v0 (108 B)
              "00000000" "00000000" "0000001E"),             # ctime/mtime/timescale=30
        be(m4_dur, 8), F.lit("00" * 80),                     # duration + rate..next_track
        F.lit("00000064" "7472616B"                          # trak (100 B)
              "0000005C" "746B6864" "00000007"               # tkhd v0 (92 B)
              "00000000" "00000000" "00000001" "00000000"),  # times/track_id/res
        be(m4_dur, 8), F.lit("00" * (16 + 36)),              # dur, res+layer.., matrix
        be(m4_w, 4), F.lit("0000"), be(m4_h, 4), F.lit("0000"),  # 16.16 fixed
    )
    hexstr = (
        F.when(d % 4 == 0, png).when(d % 4 == 1, jpg)
        .when(d % 4 == 2, wav).otherwise(mp4)
    )
    media = docs.select("doc_id", F.unhex(hexstr).alias("payload"))
    return extract_media_meta(media)


MULTIMODAL_MIXED_SQL = """
SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
       WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
  CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 29 WHEN 1 THEN 15
       WHEN 2 THEN 44 ELSE 232 END AS BIGINT) AS byte_len,
  CASE CAST(doc_id % 4 AS INT)
       WHEN 0 THEN '89504e470d0a1a0a'
       WHEN 1 THEN 'ffd8ffc0000b08' ||
            lower(lpad(hex(((doc_id * 7) % 480 + 16) // 256), 2, '0'))
       WHEN 2 THEN '5249464624000000'
       ELSE '0000001066747970' END AS header_hex,
  CAST(CASE CAST(doc_id % 4 AS INT)
       WHEN 0 THEN doc_id % 640 + 16 WHEN 1 THEN doc_id % 640 + 16
       WHEN 2 THEN 8000 + (doc_id % 8) * 1000
       ELSE doc_id % 1280 + 16 END AS INT) AS width,
  CAST(CASE CAST(doc_id % 4 AS INT)
       WHEN 0 THEN (doc_id * 7) % 480 + 16 WHEN 1 THEN (doc_id * 7) % 480 + 16
       WHEN 2 THEN doc_id % 2 + 1
       ELSE (doc_id * 3) % 720 + 16 END AS INT) AS height,
  CAST(CASE CAST(doc_id % 4 AS INT)
       WHEN 0 THEN 1 WHEN 1 THEN 1
       WHEN 2 THEN doc_id % 100 + 1
       ELSE doc_id % 900 + 30 END AS INT) AS n_frames
FROM documents
"""


def doc_url_canonical(spark, sf_dir):
    """URL canonicalization (round-4): messy doc-derived URLs — mixed-case
    scheme/host, default and non-default ports, unsorted query params,
    fragments — normalized by the engine's pure-Column canonicalizer
    (operators.urls). The DuckDB twin builds the SAME messy url from doc_id
    and canonicalizes it with an INDEPENDENT SQL implementation, so any rule
    divergence breaks the hash."""
    from .operators.urls import canonicalize_url

    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    host = F.concat(F.lit("WWW.Site-"), (d % 50).cast("string"),
                    F.lit(".Example.COM"))
    port = (F.when(d % 4 == 0, F.lit(":80"))
            .when(d % 4 == 1, F.lit(":443"))
            .when(d % 4 == 2, F.lit(""))
            .otherwise(F.lit(":8080")))
    path = (F.when(d % 3 == 0, F.lit(""))
            .when(d % 3 == 1, F.concat(F.lit("/a/"), d.cast("string")))
            .otherwise(F.lit("/p")))
    query = F.when(
        d % 6 == 0,
        F.concat(F.lit("?z="), (d % 7).cast("string"),
                 F.lit("&m=1&a="), (d % 5).cast("string")),
    ).otherwise(
        F.concat(F.lit("?z="), (d % 7).cast("string"),
                 F.lit("&a="), (d % 5).cast("string")))
    frag = F.when(d % 2 == 0, F.concat(F.lit("#Frag"), d.cast("string"))
                  ).otherwise(F.lit(""))
    messy = F.concat(scheme, F.lit("://"), host, port, path, query, frag)
    docs = _t_par(spark, sf_dir, "documents").select("doc_id", messy.alias("url"))
    return docs.select("doc_id", "url",
                       canonicalize_url(F.col("url")).alias("canonical_url"))


DOC_URL_CANONICAL_SQL = """
WITH m AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://WWW.Site-' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM'
    || (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN ':80' WHEN 1 THEN ':443'
             WHEN 2 THEN '' ELSE ':8080' END)
    || (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN ''
             WHEN 1 THEN '/a/' || CAST(doc_id AS VARCHAR) ELSE '/p' END)
    || (CASE WHEN doc_id % 6 = 0
             THEN '?z=' || CAST(doc_id % 7 AS VARCHAR) || '&m=1&a='
                  || CAST(doc_id % 5 AS VARCHAR)
             ELSE '?z=' || CAST(doc_id % 7 AS VARCHAR) || '&a='
                  || CAST(doc_id % 5 AS VARCHAR) END)
    || (CASE WHEN doc_id % 2 = 0
             THEN '#Frag' || CAST(doc_id AS VARCHAR) ELSE '' END) AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
    lower(regexp_extract(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                         '^([^:]*)', 1)) AS host,
    regexp_extract(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                   ':([0-9]+)$', 1) AS port,
    regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM m
)
SELECT doc_id, url,
  scheme || '://' || host
  || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                OR (scheme = 'https' AND port = '443')
           THEN '' ELSE ':' || port END)
  || (CASE WHEN path = '' THEN '/' ELSE path END)
  || (CASE WHEN query = '' THEN ''
           ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&')
      END) AS canonical_url
FROM parts
"""


def doc_dedup_groups(spark, sf_dir):
    """Near-dup GROUPS (round-4): the LSH candidate pairs collapsed into
    duplicate clusters via connected components (min-label propagation,
    pure join+groupBy rounds); every document maps to its component's
    minimum doc_id — the canonical copy a 100 TB dedup pass would keep.
    The DuckDB twin computes the same transitive closure with a recursive
    CTE over the identical pair set."""
    pairs = dedup_ops.minhash_lsh_pairs(
        _t_par(spark, sf_dir, "documents"), k=8, bands=4, shingle_n=2,
        jaccard_threshold=0.2,
    )
    cc = dedup_ops.connected_components(pairs)
    docs = _t_par(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("group_id"),
            (F.coalesce(F.col("component"), F.col("doc_id"))
             == F.col("doc_id")).alias("is_canonical"),
        )
    )


DOC_DEDUP_GROUPS_SQL = f"""
WITH RECURSIVE p AS (SELECT id_a, id_b FROM ({DOC_MINHASH_LSH_SQL}) lsh),
edges AS (SELECT id_a AS s, id_b AS d FROM p
          UNION SELECT id_b, id_a FROM p),
reach AS (
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
),
comp AS (
  SELECT node, LEAST(node, MIN(r)) AS group_id FROM reach GROUP BY node
)
SELECT d.doc_id,
       COALESCE(comp.group_id, d.doc_id) AS group_id,
       (COALESCE(comp.group_id, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
"""


def doc_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate dedup — the remaining dedup modality
    from the task brief (exact / MinHash-LSH / SimHash / n-gram Jaccard are
    already first-class): hyperplane-LSH buckets generate candidates, exact
    cosine verifies them, and connected components collapse the verified
    pairs into duplicate groups keyed by the minimum doc_id (the canonical
    copy). At 100 TB the LSH bucket join bounds candidates (never
    corpus x corpus) and the component rounds are plain join+groupBy codegen.
    The DuckDB twin recomputes the identical plane projections / fold dot
    products and the transitive closure with a recursive CTE."""
    emb = _t_par(spark, sf_dir, "embeddings")
    pairs = similarity.lsh_near_pairs(emb, n_planes=6, dim=64, min_cosine=0.25)
    cc = dedup_ops.connected_components(pairs)
    docs = _t_par(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("group_id"),
            (F.coalesce(F.col("component"), F.col("doc_id"))
             == F.col("doc_id")).alias("is_canonical"),
        )
    )


DOC_EMB_NEAR_DUP_SQL = f"""
WITH RECURSIVE p AS (SELECT id_a, id_b FROM ({EMB_LSH_SQL}) lsh),
edges AS (SELECT id_a AS s, id_b AS d FROM p
          UNION SELECT id_b, id_a FROM p),
reach AS (
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
),
comp AS (
  SELECT node, LEAST(node, MIN(r)) AS group_id FROM reach GROUP BY node
)
SELECT d.doc_id,
       COALESCE(comp.group_id, d.doc_id) AS group_id,
       (COALESCE(comp.group_id, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
"""


def multimodal_features(spark, sf_dir):
    """REAL media content decode, hash-verified (round-3 verdict item 2):
    even doc_ids get a complete gray PNG (zlib-compressed IDAT, per-scanline
    filters cycling through all 5 RFC 2083 types) whose pixel at (x, y) is
    the closed form (x + 2y + doc_id) % 256; odd doc_ids get a PCM-16 WAV
    whose sample i is ((i·k + doc_id) % 4001) − 2000, k = doc_id % 31 + 1.
    The engine inflates/unfilters (decode_png) or PCM-decodes (decode_wav)
    and emits exact-integer stats — any defect in the inflate, unfilter, or
    PCM path breaks the hash against the DuckDB oracle, which recomputes the
    same sums from the closed form via generate_series."""
    from .operators.multimodal import encode_png, encode_wav, media_content_stats

    docs = _t_par(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 2 == 0:
                    w, h = d % 24 + 8, (d * 7) % 24 + 8
                    x, y = np.arange(w), np.arange(h)
                    px = ((x[None, :] + 2 * y[:, None] + d) % 256).astype(np.uint8)
                    payloads.append(
                        encode_png(px, filters=[(d + i) % 5 for i in range(5)]))
                else:
                    n, sr, k = d % 400 + 100, 8000 + (d % 8) * 1000, d % 31 + 1
                    s = ((np.arange(n) * k + d) % 4001) - 2000
                    payloads.append(encode_wav(s.astype(np.int32), sr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(synth, "doc_id long, payload binary")
    return media_content_stats(media)


MULTIMODAL_FEATURES_SQL = """
WITH ids AS (SELECT doc_id AS d FROM documents),
png AS (
  SELECT d, d % 24 + 8 AS w, (d * 7) % 24 + 8 AS h FROM ids WHERE d % 2 = 0
),
pngpix AS (
  SELECT p.d, p.w, p.h, (x.x + 2 * y.y + p.d) % 256 AS v
  FROM png p,
       LATERAL (SELECT unnest(generate_series(0, p.w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, p.h - 1)) AS y) y
),
pngstats AS (
  SELECT d AS doc_id, 'pixel_stats' AS kind,
         CAST(MIN(w) AS BIGINT) AS m0, CAST(MIN(h) AS BIGINT) AS m1,
         CAST(SUM(v) AS BIGINT) AS s0, CAST(SUM(v * v) AS BIGINT) AS s1,
         CAST(MIN(v) AS BIGINT) AS s2, CAST(MAX(v) AS BIGINT) AS s3
  FROM pngpix GROUP BY d
),
wav AS (
  SELECT d, d % 400 + 100 AS n, 8000 + (d % 8) * 1000 AS sr, d % 31 + 1 AS k
  FROM ids WHERE d % 2 = 1
),
wavsamp AS (
  SELECT w.d, w.n, w.sr, i.i, (i.i * w.k + w.d) % 4001 - 2000 AS s
  FROM wav w,
       LATERAL (SELECT unnest(generate_series(0, w.n - 1)) AS i) i
),
wavstats AS (
  SELECT d AS doc_id, 'pcm_stats' AS kind,
         CAST(MIN(n) AS BIGINT) AS m0, CAST(MIN(sr) AS BIGINT) AS m1,
         CAST(SUM(s) AS BIGINT) AS s0, CAST(SUM(s * s) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN prev_s IS NOT NULL AND s * prev_s < 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         CAST(MAX(ABS(s)) AS BIGINT) AS s3
  FROM (SELECT *, LAG(s) OVER (PARTITION BY d ORDER BY i) AS prev_s
        FROM wavsamp)
  GROUP BY d
)
SELECT * FROM pngstats UNION ALL SELECT * FROM wavstats
"""


# ==================================================================== catalog
QUERIES: dict[str, Query] = {
    "cdc_lww_latest": cdc_lww_latest,
    "cdc_apply_changes": cdc_apply_changes,
    "cdc_replay_snapshot": cdc_replay_snapshot,
    "cdc_replay_fused": cdc_replay_fused,
    "cdc_cell_changes": cdc_cell_changes,
    "cdc_changes_feed": cdc_changes_feed,
    "cdc_incremental_mv": cdc_incremental_mv,
    "cdc_point_lookup": cdc_point_lookup,
    "cdc_ts_range_scan": cdc_ts_range_scan,
    "tpch_q1_pricing": tpch_q1_pricing,
    "tpch_q3_shipping": tpch_q3_shipping,
    "tpch_q5_nation_revenue": tpch_q5_nation_revenue,
    "top_order_per_customer": top_order_per_customer,
    "events_sessionize": events_sessionize,
    "events_json_extract": events_json_extract,
    "events_minutely": events_minutely,
    "transform_pipeline": transform_pipeline,
    "doc_token_stats": doc_token_stats,
    "doc_token_bpe": doc_token_bpe,
    "doc_quality": doc_quality,
    "doc_repetition": doc_repetition,
    "doc_gopher_filter": doc_gopher_filter,
    "doc_decontaminate": doc_decontaminate,
    "doc_pii_scrub": doc_pii_scrub,
    "doc_lang_id": doc_lang_id,
    "doc_fingerprint": doc_fingerprint,
    "doc_dup_spans": doc_dup_spans,
    "doc_exact_dedup": doc_exact_dedup,
    "doc_minhash_signatures": doc_minhash_signatures,
    "doc_simhash": doc_simhash,
    "doc_simhash_near_pairs": doc_simhash_near_pairs,
    "doc_ngram_jaccard": doc_ngram_jaccard,
    "doc_minhash_lsh_pairs": doc_minhash_lsh_pairs,
    "doc_dedup_groups": doc_dedup_groups,
    "doc_url_canonical": doc_url_canonical,
    "emb_cosine_topk": emb_cosine_topk,
    "emb_ivf_topk": emb_ivf_topk,
    "emb_ivf_topk_big": emb_ivf_topk_big,
    "emb_ivf_topk_refined": emb_ivf_topk_refined,
    "emb_lsh_near_pairs": emb_lsh_near_pairs,
    "doc_embedding_near_dup": doc_embedding_near_dup,
    "multimodal_media_meta": multimodal_media_meta,
    "multimodal_media_meta_mixed": multimodal_media_meta_mixed,
    "multimodal_features": multimodal_features,
}

ORACLES: dict[str, str] = {
    "cdc_lww_latest": CDC_LWW_LATEST_SQL,
    "cdc_apply_changes": CDC_APPLY_CHANGES_SQL,
    "cdc_cell_changes": CDC_CELL_CHANGES_SQL,
    "cdc_changes_feed": CDC_CHANGES_FEED_SQL,
    "cdc_incremental_mv": CDC_INCREMENTAL_MV_SQL,
    "cdc_point_lookup": CDC_POINT_LOOKUP_SQL,
    "cdc_ts_range_scan": CDC_TS_RANGE_SQL,
    "tpch_q1_pricing": TPCH_Q1_SQL,
    "tpch_q3_shipping": TPCH_Q3_SQL,
    "tpch_q5_nation_revenue": TPCH_Q5_SQL,
    "top_order_per_customer": TOP_ORDER_SQL,
    "events_sessionize": SESSIONIZE_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    "events_minutely": EVENTS_MINUTELY_SQL,
    "transform_pipeline": TRANSFORM_SQL,
    "doc_token_stats": DOC_TOKEN_STATS_SQL,
    "doc_token_bpe": DOC_TOKEN_BPE_SQL,
    "doc_quality": DOC_QUALITY_SQL,
    "doc_repetition": DOC_REPETITION_SQL,
    "doc_gopher_filter": DOC_GOPHER_FILTER_SQL,
    "doc_decontaminate": DOC_DECONTAMINATE_SQL,
    "doc_pii_scrub": DOC_PII_SCRUB_SQL,
    "doc_lang_id": DOC_LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "doc_dup_spans": DOC_DUP_SPANS_SQL,
    "doc_exact_dedup": DOC_EXACT_DEDUP_SQL,
    "doc_minhash_signatures": DOC_MINHASH_SQL,
    "doc_simhash": DOC_SIMHASH_SQL,
    "doc_simhash_near_pairs": DOC_SIMHASH_PAIRS_SQL,
    "doc_ngram_jaccard": DOC_NGRAM_JACCARD_SQL,
    "doc_minhash_lsh_pairs": DOC_MINHASH_LSH_SQL,
    "doc_dedup_groups": DOC_DEDUP_GROUPS_SQL,
    "doc_url_canonical": DOC_URL_CANONICAL_SQL,
    "emb_cosine_topk": EMB_COSINE_TOPK_SQL,
    "emb_ivf_topk": EMB_IVF_SQL,
    "emb_ivf_topk_big": EMB_IVF_BIG_SQL,
    "emb_ivf_topk_refined": EMB_IVF_REFINED_SQL,
    "emb_lsh_near_pairs": EMB_LSH_SQL,
    "doc_embedding_near_dup": DOC_EMB_NEAR_DUP_SQL,
    "cdc_replay_snapshot": CDC_REPLAY_SQL,
    "cdc_replay_fused": CDC_REPLAY_FUSED_SQL,
    "multimodal_media_meta": MULTIMODAL_SQL,
    "multimodal_media_meta_mixed": MULTIMODAL_MIXED_SQL,
    "multimodal_features": MULTIMODAL_FEATURES_SQL,
}
