"""Full delivery-job orchestration — the reference's job lifecycle (§3.1/§3.2
of SURVEY.md) as one function:

    beforeJob → pipeline (source→decrypt→deliver) → afterJob, on the driver:
      status upsert (Sent / Received / In_Progress) in the status store
      success indicators (explicit topic, or implicitly on NO_FILES_EXPORTED)
      monitoring message (skipped on NIFI_HEARTBEAT)
      final metrics

Reference: JobCompletionNotificationListener.kt:25-75, SuccessServiceImpl.kt,
SnsServiceImpl.kt, DynamoDBExportStatusService.kt. The empty-topic path (§3.2:
zero files exported → status "Received" → success indicator anyway) is a
first-class branch, not an error."""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import delivery as dlv
from . import metrics as mx
from . import status as st

logger = logging.getLogger(__name__)


@dataclass
class JobReport:
    correlation_id: str
    topic: str
    files_delivered: int
    records_parsed: int
    rejected: int
    blocked: int
    collection_status: str
    completion_status: str
    success_indicator: str | None
    monitoring_message: str | None
    counters: dict = field(default_factory=dict)


def run_delivery_job(
    spark: SparkSession,
    input_dir: str,
    status_dir: str,
    output_dir: str,
    status_table_path: str,
    cfg: dlv.RunConfig,
    files_exported: int | None = None,
    key_lookup=dlv.key_lookup_local,
    gateway=None,
    push_rate: float = 20.0,
    initial_delay: float = 10.0,
    scrape_interval: float = 70.0,
) -> JobReport:
    """One topic, one correlation id (PropertyUtility.kt:5-11), end to end.

    ``files_exported`` is the upstream exporter's count (DynamoDB seed,
    environment.sh:84-101); defaults to the files this run delivered plus
    the files it blocked.

    ``gateway`` (optional — a ``metrics.HttpPushGateway`` or compatible
    push/delete object) activates the reference's full pushgateway lifecycle
    around the job: scheduled pushes of the live counters while the job runs,
    a final push in afterJob, then delete of the per-(type, correlation_id,
    topic, export_date) grouping key after one scrape interval
    (PushGatewayServiceImpl.kt:22-44)."""
    # live counters the scheduled pushes read: seeded at ZERO for the metric
    # families the job emits. NOTE a deliberate divergence from the
    # reference here: its Counter.inc() fires per chunk mid-run, so its
    # scheduled pushes show real progress, whereas our counters are
    # counted from the sink's receipts after it completes — so OUR
    # scheduled pushes carry zeros for the whole run BY CONSTRUCTION, and
    # only push_final() carries the real totals. The zero-seeding still
    # matters: an empty dict would make every scheduled push an
    # empty-registry PUT, which REPLACES the grouping key's metrics at the
    # gateway instead of publishing liveness.
    counters_box: dict = {name: 0 for name in mx.DELIVERY_COUNTER_FAMILIES}
    lifecycle = None
    if gateway is not None:
        lifecycle = mx.PushGatewayLifecycle(
            gateway,
            lambda: counters_box,
            job="snapshot_sender",
            grouping={
                "type": cfg.snapshot_type,
                "correlation_id": cfg.correlation_id,
                "topic_name": cfg.topic_name,
                "export_date": cfg.export_date,
            },
            push_rate=push_rate,
            initial_delay=initial_delay,
            scrape_interval=scrape_interval,
        ).start()
    try:
        return _run_delivery_job_body(
            spark, input_dir, status_dir, output_dir, status_table_path, cfg,
            files_exported, key_lookup, counters_box, lifecycle,
        )
    except BaseException:
        if lifecycle is not None:
            # failed job: stop the scheduler (no thread leak) but skip the
            # final push/delete — the last-pushed series stays for diagnosis
            lifecycle.cancel()
        raise


def _run_delivery_job_body(
    spark, input_dir, status_dir, output_dir, status_table_path, cfg,
    files_exported, key_lookup, counters_box, lifecycle,
) -> JobReport:
    result = dlv.build_decrypted(spark, input_dir, status_dir, cfg, key_lookup=key_lookup)
    counts = dlv.tally(dlv.deliver(result, output_dir, status_dir))
    files_f, bytes_f, topics_f = mx.DELIVERY_COUNTER_FAMILIES
    counters = {files_f: counts[dlv.DELIVERED], bytes_f: counts["bytes"], topics_f: counts["topics"]}
    n_delivered, n_records, n_rejected, n_blocked = (
        counts[c] for c in (dlv.DELIVERED, "records", dlv.REJECTED, dlv.BLOCKED)
    )

    if files_exported is None:
        files_exported = n_delivered + n_blocked

    # ---- afterJob: status upsert (derived counts, not increments) ----------
    # driver-side point operations on the small status table, as the
    # reference's DynamoDB calls are: no Spark job from here on
    [decided] = st.collection_status([{
        "CorrelationId": cfg.correlation_id,
        "CollectionName": cfg.topic_name,
        "CollectionStatus": "Exported",
        "FilesExported": files_exported,
        "FilesSent": n_delivered,
    }])
    table = st.upsert_status(status_table_path, [decided])
    coll_status = decided["CollectionStatus"]
    completion = st.completion_status(table)[cfg.correlation_id]

    # ---- success indicator: explicit on Sent, implicit on Received/empty ---
    indicator = None
    if coll_status in ("Sent", "Received"):
        indicator = st.write_success_indicator(output_dir, cfg.topic_name)

    # ---- monitoring message (heartbeat skip: JobCompletionNotification:60-75)
    message = None
    if cfg.export_date != "NIFI_HEARTBEAT":
        message = st.monitoring_message(
            cfg.correlation_id, cfg.export_date, cfg.snapshot_type, completion
        )

    if lifecycle is not None:
        # afterJob pushFinalMetrics(): cancel schedule → final push of the
        # job's counters → delete-after-scrape of the grouping key. Delivery
        # side effects are already committed at this point, so a transient
        # gateway outage here must NOT discard the JobReport — the reference
        # runs pushFinalMetrics in afterJob's finally block, where a listener
        # exception does not fail the completed Spring Batch job, and our own
        # scheduled pushes swallow the same error class.
        counters_box.update(counters)
        try:
            lifecycle.push_final()
        except Exception as e:  # noqa: BLE001 — job already succeeded
            lifecycle.last_push_error = e
            logger.warning("final pushgateway push failed (job succeeded): %s", e)

    return JobReport(
        correlation_id=cfg.correlation_id,
        topic=cfg.topic_name,
        files_delivered=n_delivered,
        records_parsed=n_records,
        rejected=n_rejected,
        blocked=n_blocked,
        collection_status=coll_status,
        completion_status=completion,
        success_indicator=indicator,
        monitoring_message=message,
        counters=counters,
    )
