"""Job spec + runner — the DataX job-JSON contract on Spark.

Reference: a DataX job is one JSON document
  {"job": {"setting": {speed, errorLimit}, "content": [{reader, transformer?,
  writer}]}}
parsed by Configuration/ConfigParser and executed by JobContainer
(common/src/main/java/com/alibaba/datax/common/util/Configuration.java:53-659,
core/.../util/ConfigParser.java, canonical example stream2stream.json:1-36).

Here the same shape drives: read_source -> transformer pipeline -> write_sink,
with setting.speed as partitioning hints and setting.errorLimit enforced via
the quarantine counters when the writer is the lake sink.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.transformers import dx_filter, dx_pad, dx_replace, dx_substr
from .sinks import write_sink
from .sources import read_source


@dataclass
class JobSpec:
    reader: dict
    writer: dict
    transformers: list[dict] = field(default_factory=list)
    speed: dict = field(default_factory=dict)       # {"channel": N}
    error_limit: dict = field(default_factory=dict)  # {"record": N, "percentage": f}
    pre_sql: list[str] = field(default_factory=list)   # F15: writer preSql
    post_sql: list[str] = field(default_factory=list)  # F15: writer postSql

    @classmethod
    def from_json(cls, text: str) -> "JobSpec":
        d = json.loads(text)
        content = d["job"]["content"][0] if "job" in d else d
        setting = d.get("job", {}).get("setting", {})
        wp = content["writer"].get("parameter", {})
        return cls(
            reader=content["reader"],
            writer=content["writer"],
            transformers=content.get("transformer", []),
            speed=setting.get("speed", {}),
            error_limit=setting.get("errorLimit", {}),
            pre_sql=wp.get("preSql", []),
            post_sql=wp.get("postSql", []),
        )


_SECRET_MARKERS = ("password", "accesskey", "secret", "token")


def mask_secrets(conf: Any) -> Any:
    """Engine.filterSensitiveConfiguration (core/.../Engine.java:254-264):
    mask *password* / *accessKey*-style values before logging a job spec."""
    if isinstance(conf, dict):
        return {
            k: ("*****" if any(m in k.lower() for m in _SECRET_MARKERS)
                else mask_secrets(v))
            for k, v in conf.items()
        }
    if isinstance(conf, list):
        return [mask_secrets(v) for v in conf]
    return conf


# the five built-in transformers by their DataX registry names
# (TransformerRegistry.java:34-38); parameters use column NAMES not indexes
# (schema is first-class here, unlike DataX's positional records)
def _apply_transformer(df: DataFrame, t: dict) -> DataFrame:
    name, p = t["name"], t.get("parameter", {})
    col = p["columnName"]
    paras: list[Any] = p.get("paras", [])
    if name == "dx_substr":
        return df.withColumn(col, dx_substr(col, int(paras[0]), int(paras[1])))
    if name == "dx_pad":
        return df.withColumn(col, dx_pad(col, paras[0], int(paras[1]), paras[2]))
    if name == "dx_replace":
        return df.withColumn(col, dx_replace(col, int(paras[0]), int(paras[1]), paras[2]))
    if name == "dx_filter":
        return dx_filter(df, col, paras[0], paras[1])
    # SPI fallback: user transformers registered by name
    # (TransformerRegistry.registTransformer parity, TransformerRegistry.java:28-62)
    from .operators.transformers import TRANSFORMERS, _SPI_CLASS_REFS

    if t.get("class"):
        # plugin-style dynamic load (LoadUtil/JarLoader equivalent): the spec
        # names "module.path:function"; loaded once, then cached by name.
        # SECURITY NOTE: like DataX plugin descriptors, "class" EXECUTES CODE
        # named by the job document (import side effects) — job JSON must be
        # trusted the same way a plugin jar is.
        # Conflict check (TransformerRegistry.isConfliction parity): a name
        # already bound — by register_transformer or by an earlier job spec —
        # to a DIFFERENT target is an error, never a silent ignore.
        ref = t["class"]
        if name in TRANSFORMERS and _SPI_CLASS_REFS.get(name) != ref:
            raise ValueError(
                f"transformer {name!r} is already registered "
                f"({_SPI_CLASS_REFS.get(name) or 'via register_transformer'}); "
                f"job spec names a conflicting class {ref!r}"
            )
        if name not in TRANSFORMERS:
            import importlib

            mod, _, attr = ref.partition(":")
            TRANSFORMERS[name] = getattr(importlib.import_module(mod), attr)
            _SPI_CLASS_REFS[name] = ref
    if name in TRANSFORMERS:
        return TRANSFORMERS[name](df, col, paras)
    raise KeyError(
        f"unknown transformer {name!r}; built-ins: dx_substr/dx_pad/dx_replace/"
        f"dx_filter; registered: {sorted(TRANSFORMERS)}"
    )


def run_cdc_job(spark: SparkSession, spec: JobSpec | dict | str, *, hooks: list | None = None):
    """One job JSON = one full CDC sync — the DataX contract (a single
    configuration document describes reader, writer, speed and errorLimit;
    JobContainer executes it end-to-end) applied to the replay engine:

      reader  = {"name": "eventlog", "parameter": {"path": <WAL dir>}}
      writer  = {"name": "lake", "parameter": {"path", "workDir"?, "numBuckets"?,
                 "saltPartitions"?}}
      setting.speed.record      -> max_events_per_batch (channel flow control,
                                   Channel.statPush semantics)
      setting.errorLimit.record/percentage -> quarantine abort thresholds

    ``saltPartitions`` turns on the per-batch salted LWW dedup. The retired
    ``mergeMode`` (only "mor" remains) and ``lineageLevel`` (only "global"
    remains) keys are rejected when they ask for a removed mode.

    Returns the list of BatchResults (resume-safe: re-running the same job
    JSON continues from the last committed (epoch, sub))."""
    from .cdc.replayer import ReplayConfig, Replayer

    if isinstance(spec, str):
        spec = JobSpec.from_json(spec)
    elif isinstance(spec, dict):
        spec = JobSpec.from_json(json.dumps(spec))
    rp = spec.reader.get("parameter", {})
    wp = spec.writer.get("parameter", {})
    for k, only in (("mergeMode", "mor"), ("lineageLevel", "global")):
        if wp.get(k, only) != only:
            raise ValueError(
                f"writer parameter {k}={wp[k]!r} is no longer supported; "
                f"the replay engine only runs {k}={only!r}")
    cfg = ReplayConfig(
        log_dir=rp["path"],
        table_path=wp["path"],
        work_dir=wp.get("workDir") or wp["path"] + "_work",
        num_buckets=wp.get("numBuckets", 16),
        max_events_per_batch=spec.speed.get("record"),
        salt_partitions=wp.get("saltPartitions"),
        dedup_per_batch=bool(wp.get("saltPartitions")),
        error_record_limit=spec.error_limit.get("record"),
        error_percentage_limit=spec.error_limit.get("percentage", 0.05),
        key=wp.get("key", "url"),
        ts_col=wp.get("tsCol", "warc_ts"),
    )
    for sql in spec.pre_sql:
        spark.sql(sql)
    rep = Replayer(spark, cfg)
    results = rep.run()
    for sql in spec.post_sql:
        spark.sql(sql)
    summary = {
        "batches": len(results),
        "events_read": sum(r.events_read for r in results),
        "events_applied": sum(r.events_applied for r in results),
        "events_quarantined": sum(r.events_quarantined for r in results),
    }
    for hook in hooks or []:
        hook(mask_secrets({"reader": spec.reader, "writer": spec.writer}), summary)
    return results


def run_job(spark: SparkSession, spec: JobSpec | dict | str, *, hooks: list | None = None):
    """Execute preSql -> reader -> transformers -> writer -> postSql -> hooks
    (JobContainer.start lite; hooks mirror the SPI Hook.invoke(conf, metrics)
    post-job callbacks, common/.../spi/Hook.java:10-25 + HookInvoker)."""
    if isinstance(spec, str):
        spec = JobSpec.from_json(spec)
    elif isinstance(spec, dict):
        spec = JobSpec.from_json(json.dumps(spec))
    for sql in spec.pre_sql:
        spark.sql(sql)
    df = read_source(spark, spec.reader)
    for t in spec.transformers:
        df = _apply_transformer(df, t)
    channels = spec.speed.get("channel")
    if channels:
        # adjustChannelNumber (JobContainer.java:508-588): explicit parallelism
        df = df.repartition(int(channels))
    result = write_sink(df, spec.writer)
    for sql in spec.post_sql:
        spark.sql(sql)
    for hook in hooks or []:
        hook(mask_secrets({"reader": spec.reader, "writer": spec.writer}), result)
    return result
