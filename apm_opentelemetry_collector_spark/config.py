"""Pipeline defaults mirroring the reference's tuning constants.

Reference sources (see BASELINE.md):
  - exporter/omnishard/factory.go:31-35  (send_concurrency, num_workers,
    max_record_size, batch_flush_interval, max_allowed_size_per_span)
  - exporter/omnishard/exporter.go:33    (retry queue capacity)
  - exporter/omnishard/shard_encoder.go:33,35 (avg batch size, magic bytes)

In the Spark engine these become plan parameters, not runtime knobs:
queue capacities map to task parallelism, the flush ticker disappears in
batch mode (every run flushes), and record packing becomes a deterministic
window-cumsum batch assignment (SURVEY.md §2.6 W3).
"""

from __future__ import annotations

from dataclasses import dataclass

# --- reference constants -------------------------------------------------
# exporter/omnishard/factory.go:33 — flush a record once accumulated
# encoded size reaches this many (uncompressed) bytes.
MAX_RECORD_SIZE = 100_000
# exporter/omnishard/factory.go:35 — spans encoded larger than this are
# truncated (tags replaced by markers, logs cleared); still too big → drop.
MAX_ALLOWED_SIZE_PER_SPAN = 900_000
# exporter/omnishard/factory.go:31-32
SEND_CONCURRENCY = 20
NUM_WORKERS = 1
# exporter/omnishard/exporter.go:33 — retry queue capacity (batches).
RETRY_QUEUE_SIZE = 10_000
# Deterministic retryable-send rule (operators.route.with_retry_outcome):
# a send is FAILED_RETRYABLE iff md5(conv_id:turn_idx:sink) starts with
# this value (~0.39%), disjoint from PipelineConfig.drop_md5_prefix.
RETRY_MD5_PREFIX = "fe"
# exporter/omnishard/factory.go:34 — batch flush interval (streaming only).
BATCH_FLUSH_INTERVAL_SECS = 5
# exporter/omnishard/shard_encoder.go:35 — 8-byte record magic prefix.
# The reference uses []byte{0x01, 0x1e, 0xd7, 0x5f, 0x30, 0x02, 0x05, 0x0d};
# we keep our own magic (this is NOT a byte-parity port) but the same
# 8-byte-prefix + gzip framing so decode oracles exercise the same shape.
RECORD_MAGIC = b"\x01SPKGRFT"

# --- outcome taxonomy ----------------------------------------------------
# omnishard.proto:49-64 ExportResponse_ResultCode + datadropcode.go:20-38.
OUTCOME_ACCEPTED = "accepted"
OUTCOME_REFUSED = "refused"  # receiver protocol violation / backpressure
OUTCOME_DROPPED = "dropped"

DROP_SEND_NOT_RETRYABLE = "SendErrNotRetryable"
DROP_FATAL_ENCODING = "FatalEncodingError"
DROP_RETRY_QUEUE_FULL = "RetryQueueFull"
DROP_EXPORT_NOT_RETRYABLE = "ExportResponseNotRetryable"

RESULT_SUCCESS = "SUCCESS"
RESULT_FAILED_RETRYABLE = "FAILED_RETRYABLE"
RESULT_FAILED_NOT_RETRYABLE = "FAILED_NOT_RETRYABLE"
RESULT_SHARD_CONFIG_MISMATCH = "SHARD_CONFIG_MISTMATCH"  # sic — reference typo


@dataclass
class PipelineConfig:
    """Tunable parameters of one pipeline run."""

    max_record_size: int = MAX_RECORD_SIZE
    max_span_size: int = MAX_ALLOWED_SIZE_PER_SPAN
    n_shards: int = 4
    n_conv_buckets: int = 16
    # Salting factor for hot-conversation skew in the final aggregate.
    salt_buckets: int = 8
    # Deterministic send-failure rule: routed row is dropped iff the first
    # two hex chars of md5(conv_id:turn_idx:sink) equal this value (~0.39%).
    drop_md5_prefix: str = "ff"
    # Receiver backpressure toggle (receiver/opencensusreceiver/config.go:47):
    # True → protocol-violating conversations are REFUSED (counted, visible
    # to the sender); False → they are silently DROPPED (RPC succeeds).
    backpressure_on: bool = True
