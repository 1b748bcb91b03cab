"""Observability: per-operator counters mirroring the reference's metric
families (MetricsConfiguration.kt:16-126 — 17 counters, 1 gauge, 10 timers),
re-expressed Spark-first.

Mechanism: ``pyspark.sql.Observation`` + ``df.observe(...)`` (``observe_counts``)
attaches named aggregates to a plan; they are computed *inside* the job that
materializes it (no extra pass over data) — the Spark analog of the reference's
@PrometheusTimeMethod + counter beans. The delivery job's family is aggregated
from the receipts its sink stores (plans/job.py). Values surface as a plain dict and are
optionally pushed to a Prometheus pushgateway when ``prometheus_client`` is
importable (gated — not present in this container).

Reference counter names preserved where an engine-side event maps 1:1:
    snapshot_sender_files_sent_success   ← HttpWriter 200s (HttpWriter.kt:90-96)
    snapshot_sender_files_rejected       ← grammar rejects (HttpWriter.kt:121-127)
    snapshot_sender_blocked_topic_file_count ← FilterBlockedTopicsUtils.kt:24
    snapshot_sender_bytes_sent           ← payload volume
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

# the delivery job's metric families — single source of truth for both the
# receipt aggregation and the zero-seeded live counter dict the pushgateway
# scheduler reads (plans/job.py)
DELIVERY_COUNTER_FAMILIES = (
    "snapshot_sender_files_sent_success",
    "snapshot_sender_bytes_sent",
    "snapshot_sender_topics_seen",
)


def observe_counts(
    df: DataFrame, observation_name: str, **named_conditions
) -> tuple[DataFrame, Observation]:
    """Attach counters to a plan: each kwarg is ``name=condition`` counted where
    the condition Column is true (None → count all rows). Returns the
    instrumented DataFrame and the Observation; read ``obs.get`` after the
    first action on the DataFrame."""
    obs = Observation(observation_name)
    aggs = [
        F.count(F.lit(1)).alias(name) if cond is None else F.count(F.when(cond, 1)).alias(name)
        for name, cond in named_conditions.items()
    ]
    return df.observe(obs, *aggs), obs


def pushgateway_group_path(job: str, grouping: dict[str, str]) -> str:
    """URL path identifying a pushgateway metric GROUP — the public wire
    protocol (prometheus/pushgateway README): ``/metrics/job/<job>`` followed
    by one ``/<label>/<value>`` pair per grouping key. Values containing
    ``/`` (which would split the path) use the ``<label>@base64/<value>``
    escape with URL-safe base64; an EMPTY value encodes as a single ``=``
    (base64 of "" is "", which the gateway rejects as a missing segment);
    everything else is percent-encoded. Grouping keys are emitted in sorted
    order so the path — and therefore the group identity — is deterministic.
    Parity target: PushGatewayServiceImpl.kt:49-53 (job + grouping-key push)."""
    import base64
    import urllib.parse

    def seg(label: str, value: str) -> str:
        if value == "" or "/" in value:
            b64 = base64.urlsafe_b64encode(value.encode("utf-8")).decode() or "="
            return f"{label}@base64/{b64}"
        return f"{label}/{urllib.parse.quote(value, safe='')}"

    parts = [seg("job", job)] + [seg(k, grouping[k]) for k in sorted(grouping)]
    return "/metrics/" + "/".join(parts)


def exposition_format(counters: dict[str, float]) -> bytes:
    """Prometheus text exposition format (version 0.0.4) for a gauge-snapshot
    push: ``# TYPE`` line + ``name value`` per metric, trailing newline.
    Metric names sanitize ``.`` → ``_`` (the one illegal character our
    counter families could carry)."""
    lines = []
    for name, value in counters.items():
        safe = name.replace(".", "_")
        lines.append(f"# TYPE {safe} gauge")
        lines.append(f"{safe} {float(value)!r}")
    return ("\n".join(lines) + "\n").encode("utf-8")


class HttpPushGateway:
    """From-scratch pushgateway client over the public wire protocol — no
    prometheus_client needed (the library is absent in this container, so the
    dependency-free client is the production path). ``push`` PUTs the full
    gauge snapshot (replaces the metric group — correct for scheduled
    whole-snapshot pushes, equivalent to the reference's pushAdd because
    every push carries the complete counter family), ``delete`` removes the
    group (PushGatewayServiceImpl.kt:49-53 deleteMetrics parity). Raises
    ``urllib.error.HTTPError``/``URLError`` on failure — the lifecycle's
    scheduler tolerates and logs, push_final's caller wraps (plans/job.py)."""

    CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"

    def __init__(self, gateway: str = "localhost:9091", timeout: float = 10.0):
        self.base = gateway if "://" in gateway else f"http://{gateway}"
        self.timeout = timeout

    def _request(self, method: str, path: str, body: bytes | None = None) -> None:
        import urllib.request

        headers = {"Content-Type": self.CONTENT_TYPE} if body is not None else {}
        req = urllib.request.Request(
            self.base + path, data=body, method=method, headers=headers
        )
        # raises HTTPError on 4xx/5xx — callers decide retry/log semantics
        with urllib.request.urlopen(req, timeout=self.timeout):
            pass

    def push(self, job: str, grouping: dict[str, str], counters: dict[str, float]) -> None:
        self._request(
            "PUT", pushgateway_group_path(job, grouping), exposition_format(counters)
        )

    def delete(self, job: str, grouping: dict[str, str]) -> None:
        self._request("DELETE", pushgateway_group_path(job, grouping))


def push_to_gateway(
    counters: dict[str, float],
    job: str,
    grouping: dict[str, str],
    gateway: str = "localhost:9091",
) -> bool:
    """One-shot pushgateway emission (PushGatewayServiceImpl.kt:25-28) through
    prometheus_client when importable; returns False when the lib is absent.
    Kept as the optional library path — ``HttpPushGateway`` above is the
    dependency-free production client speaking the same wire protocol."""
    try:
        from prometheus_client import CollectorRegistry, Gauge
        from prometheus_client import push_to_gateway as _push
    except ImportError:
        return False
    registry = CollectorRegistry()
    for name, value in counters.items():
        g = Gauge(name.replace(".", "_"), name, registry=registry)
        g.set(float(value))
    _push(gateway, job=job, registry=registry, grouping_key=grouping)
    return True


# Back-compat name: earlier rounds' adapter required prometheus_client; the
# raw wire client supersedes it with identical push/delete signatures.
PrometheusGateway = HttpPushGateway


class PushGatewayLifecycle:
    """The reference's full pushgateway LIFECYCLE (PushGatewayServiceImpl.kt:
    22-44), not just the one-shot push: a driver-side scheduler pushes the
    current counters every ``push_rate`` seconds after ``initial_delay``
    (@Scheduled fixedRate=20000 initialDelay=10000); ``push_final()`` cancels
    the schedule, pushes one last snapshot, then — when ``delete_metrics`` —
    waits ``scrape_interval`` (prometheus.scrape.interval, default 70 s: one
    scrape must land between the final push and the delete) and deletes the
    grouping key, so a per-(topic, correlation_id) batch job leaves no stale
    series behind.

    Spark-first shape: the scheduler is a single daemon thread on the DRIVER
    reading ``counters_fn()`` (typically totals aggregated from the delivery
    sink's receipts, O(metrics) driver state); the
    gateway is injected (``PrometheusGateway`` in production, a recording stub
    in tests — prometheus_client isn't in this container)."""

    def __init__(
        self,
        gateway,
        counters_fn,
        job: str = "snapshot_sender",
        grouping: dict[str, str] | None = None,
        push_rate: float = 20.0,
        initial_delay: float = 10.0,
        scrape_interval: float = 70.0,
        delete_metrics: bool = True,
    ):
        self.gateway = gateway
        self.counters_fn = counters_fn
        self.job = job
        self.grouping = dict(grouping or {})
        self.push_rate = push_rate
        self.initial_delay = initial_delay
        self.scrape_interval = scrape_interval
        self.delete_metrics = delete_metrics
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.last_push_error: Exception | None = None

    def _run(self) -> None:
        if self._stop.wait(self.initial_delay):
            return
        while True:
            try:
                self.push_once()
            except Exception as e:  # noqa: BLE001 — transient gateway outage
                # must not kill the schedule (Spring's @Scheduled keeps
                # firing, logging each failure); keep the last error visible
                self.last_push_error = e
                logger.warning("scheduled pushgateway push failed: %s", e)
            if self._stop.wait(self.push_rate):
                return

    def push_once(self) -> None:
        self.gateway.push(self.job, self.grouping, dict(self.counters_fn()))
        self.last_push_error = None  # a success clears a recovered outage

    def start(self) -> "PushGatewayLifecycle":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def cancel(self) -> None:
        """Stop the schedule WITHOUT a final push or delete — the failure
        path (a crashed job must not leak a forever-pushing thread, and its
        last-pushed series stays visible for diagnosis)."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def push_final(self) -> None:
        """pushFinalMetrics(): cancel the schedule, push the final snapshot,
        then (optionally) wait one scrape interval and delete the series.
        Synchronous by design — the reference sleeps the scrape interval on
        the caller's thread too (deleteMetrics(), Thread.sleep)."""
        self.cancel()
        self.push_once()
        if self.delete_metrics:
            # a scrape must observe the final values before the series dies
            threading.Event().wait(self.scrape_interval)
            self.gateway.delete(self.job, self.grouping)
