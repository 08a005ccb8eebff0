"""Engine configuration.

Mirrors the reference's config surface (Config.scala:20-67 — 23 keys
with defaults: db/table/path/partition templates, batching, rounding,
idle handling, counters) re-expressed as the knobs a Spark landing
pipeline actually has. Keys that exist only because the reference
hand-manages threads/files/ZooKeeper (maxOpenFiles, idleQueueSize,
closeThreadPoolSize, ZK hosts…) collapse into Spark's commit protocol
and are represented only where an equivalent Spark knob exists.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class SinkConfig:
    """Landing-pipeline configuration.

    Reference parity (Config.scala line numbers):
      - table/path/partition templates  :21-28
      - serde name + properties         :32-33
      - timezone / local-time escaping  :36-38
      - round / roundUnit / roundValue  :40-46
      - batchSize (1000)                :54 → one staged file per
        trigger (stage.run_stream's maxFilesPerTrigger=1)
      - idleTimeout (5000 ms)           :55
    """

    table: str = "events_landed"
    output_path: str = "/tmp/flume_hive_batched_sink_spark/warehouse"
    # Partition routing: logdate = event time floored to round_value
    # round_unit buckets, formatted with partition_format
    # (reference default partition spec `logdate=%Y%m%d%H%M`,
    # README.md:28 + BucketPath escaping, HiveBatchedSink.scala:311-315).
    partition_col: str = "logdate"
    partition_format: str = "yyyyMMddHHmm"
    round_unit: str = "minute"  # second | minute | hour | day
    round_value: int = 5
    timezone: str = "UTC"
    # serde: named parser from sources.parse registry (↔ Config.scala:32
    # hive.serdeName class + hive.serdeProperties.* overrides).
    serde_name: str = "json"
    serde_properties: dict = field(default_factory=dict)
    # small-file hygiene at scale: cap rows per output file
    # (↔ maxOpenFiles's real intent — bounded writer resources).
    max_records_per_file: int = 5_000_000
    file_format: str = "parquet"  # reference wrote ORC; both supported
    # landed-file naming (↔ Config.scala:25-27 fileNamePrefix /
    # fileSuffix). Applied to committed part files; keep the format
    # extension in the suffix if readers glob by extension (Spark
    # itself reads any non-hidden file in the directory). The
    # reference's third knob, inUsePrefix (marks files still being
    # written), collapses into Spark's commit protocol — uncommitted
    # work lives under _temporary and is never visible to readers.
    file_name_prefix: str = ""
    file_name_suffix: str = ""
    # completion notification (↔ Config.scala:44
    # hive.dte.updateLogDetailURL + hive.dte.logid,
    # HiveBatchedSink.scala:93-94/289-290): when notify_url is set and
    # no explicit on_complete callback is passed, the landing stream
    # POSTs {notify_url}/{notify_logid}/{logdate} per finalized
    # logdate (streaming/notify.py — retrying, error-swallowing like
    # DTEUtils.scala:23-33).
    notify_url: str = ""
    notify_logid: int = 0

    @property
    def round_seconds(self) -> int:
        """Bucket width in seconds (CommonUtils.scala:35-40 ms math)."""
        unit = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
            self.round_unit
        ]
        return unit * self.round_value
