"""The benchmark's workloads. Each one prepares its inputs from the seed, runs
one operation at a time (a closed loop with one client) and checks every
operation's output.

* ``delivery_mixed``: one operation is one ``plans.job.run_delivery_job``
  call on a fixture the benchmark generated.
* ``analytics_headline``: one operation is one pass over ``bench.HEADLINE``;
  each query is built, then forced with the noop sink through an observation
  that counts and digests its rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import bench
from pyspark.sql import Observation
from pyspark.sql import functions as F

from snapshot_sender_spark import tables
from snapshot_sender_spark.plans import delivery as dlv
from snapshot_sender_spark.plans import job
from snapshot_sender_spark.plans import status as st
from snapshot_sender_spark.queries import all_queries
from snapshot_sender_spark.sources import listing

from . import fixtures, verify
from .stats import median, stopwatch
from .spans import NAME, self_by_layer


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# delivery
# ---------------------------------------------------------------------------

# (owner, function, span, layer charged for actions on what it returns)
DELIVERY_WRAPS = [
    (dlv, "build_decrypted", "plans.delivery.build", "sources.listing"),
    (dlv, "read_encryption_meta", "sources.listing.meta"),
    (dlv, "read_encrypted_files", "sources.listing.files"),
    (dlv, "read_finished_markers", "sources.listing.markers"),
    # the manifest count scans and decrypts every delivered file once more
    (dlv, "deliver", "plans.delivery.deliver", "plans.delivery.manifest"),
    (dlv, "parse_records", "plans.delivery.parse"),
    (st, "upsert_status", "plans.status.upsert"),
    (st, "collection_status", "plans.status.completion"),
    (st, "load_status", "plans.status.completion"),
    (st, "completion_status", "plans.status.completion"),
    (st, "write_success_indicator", "plans.status.completion"),
    (st, "monitoring_message", "plans.status.completion"),
]

# span-name prefix -> per-layer metric; the first match wins and a span that
# matches none is orchestration (plans.job.self_s)
DELIVERY_LAYERS = [
    ("sources.listing.exec", "sources.listing.exec_s"),
    ("sources.listing.", "sources.listing.plan_s"),
    ("plans.delivery.build.exec", "plans.delivery.key_lookup_s"),
    ("plans.delivery.key_lookup", "plans.delivery.key_lookup_s"),
    ("plans.delivery.build", "plans.delivery.build_s"),
    ("plans.delivery.deliver", "plans.delivery.deliver_s"),
    ("plans.delivery.manifest", "plans.delivery.manifest_s"),
    ("plans.delivery.parse", "plans.delivery.parse_s"),
    ("plans.status.upsert", "plans.status.upsert_s"),
    ("plans.status.", "plans.status.completion_s"),
]

# The delivery input: a few large files, on which AES-CTR, gunzip and the
# line split do the work, followed by many small files, 90% of them already
# marked finished and every 100th with a bad name, on which listing, the
# marker anti-join, per-file tasks and per-file sink writes do.
LARGE_FILES, LARGE_RECORDS = 8, 25_000
SMALL_FILES, SMALL_RECORDS = 500, 25
INVALID_EVERY = 100
PREMARKED_SHARE = 0.9


def delivery_layers(spans) -> dict[str, float]:
    out = {metric: 0.0 for _, metric in DELIVERY_LAYERS}
    out["plans.job.self_s"] = 0.0
    for name, secs in self_by_layer(spans).items():
        metric = next((m for p, m in DELIVERY_LAYERS if name.startswith(p)), "plans.job.self_s")
        out[metric] += secs
    return out


class Delivery:
    name = "delivery_mixed"
    # Jobs keep getting faster for several jobs as the JVM compiles more
    # code, and a busy host fits only two into ten seconds. A fixed floor of
    # four keeps the median from moving with the number that fit.
    min_timed = 4

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def prepare(self, spark) -> dict:
        sizes = [LARGE_RECORDS] * LARGE_FILES + [SMALL_RECORDS] * SMALL_FILES
        self.fixture = fixtures.generate(
            os.path.join(self.work, "fixture"), sizes, self.seed, INVALID_EVERY
        )
        small = [n for n in self.fixture.valid if self.fixture.records[n] == SMALL_RECORDS]
        n_marked = round(PREMARKED_SHARE * SMALL_FILES)
        self.premarked = sorted(random.Random(self.seed).sample(small, n_marked))
        self.expected = sorted(set(self.fixture.valid) - set(self.premarked))
        self.op_mb = sum(self.fixture.enc_bytes[n] for n in self.expected) / 1e6
        return {
            "input_files": len(sizes),
            "input_records": sum(sizes),
            "input_mb": sum(self.fixture.enc_bytes.values()) / 1e6,
            "premarked": len(self.premarked),
            "invalid_names": len(self.fixture.invalid),
            "delivered_per_job": len(self.expected),
            "delivered_mb_per_job": self.op_mb,
        }

    def _fresh_dirs(self, tag: str) -> tuple[str, str, str, str]:
        """A job's own status, output and status-table paths, the status dir
        seeded with the pre-marked files."""
        root = os.path.join(self.work, tag)
        status_dir = os.path.join(root, "status")
        fixtures.mark_finished(status_dir, self.premarked)
        return root, status_dir, os.path.join(root, "output"), os.path.join(root, "status.parquet")

    def op(self, spark, i: int, tracer) -> dict:
        root, status_dir, output_dir, table = self._fresh_dirs(f"op{i}")
        cfg = dlv.RunConfig(correlation_id=f"perfbench-{i}", topic_name=fixtures.TOPIC)
        rec: dict = {"traced": tracer.enabled}
        pairs: list[int] = []

        def key_lookup(ciphertext_pairs):
            pairs.append(len(ciphertext_pairs))
            return dlv.key_lookup_local(ciphertext_pairs)

        op_id = f"{self.name}-{i}"
        tracer.install(DELIVERY_WRAPS)
        try:
            with tracer.operation(op_id, "plans.job") as counts, stopwatch(rec):
                report = job.run_delivery_job(
                    spark, self.fixture.input_dir, status_dir, output_dir, table, cfg,
                    key_lookup=tracer.traced(key_lookup, "plans.delivery.key_lookup"),
                )
        finally:
            tracer.uninstall()
        rec["problems"] = verify.delivery_problems(
            report, self.fixture, self.expected, output_dir, status_dir
        )
        if tracer.enabled:
            spans = tracer.op_spans(op_id)
            layers = delivery_layers(spans)
            rec["coverage"] = 1 - layers["plans.job.self_s"] / (spans[0][2] - spans[0][1])
            files, nbytes = verify.written(self.fixture, self.expected, output_dir, status_dir)
            spark_counts = tracer.job_counts(op_id)
            rec["layers"] = {
                **layers,
                "plans.delivery.key_pairs_per_file": sum(pairs) / len(self.fixture.records),
                "plans.delivery.files_written": files,
                "plans.delivery.bytes_written": nbytes,
                "driver.py4j_calls": counts["py4j_calls"],
                "spark.jobs": spark_counts["spark_jobs"],
                "spark.tasks": spark_counts["spark_tasks"],
                "files_delivered": report.files_delivered,
                "files_skipped": len(self.fixture.records) - report.files_delivered
                - report.rejected - report.blocked,
                "records_parsed": report.records_parsed,
                "rejected": report.rejected,
                "blocked": report.blocked,
                **self.prefix_probes(spark, i),
            }
        shutil.rmtree(root)
        return rec

    def prefix_probes(self, spark, i: int) -> dict:
        """Execution time of growing prefixes of the delivery plan, each
        forced with the noop sink on inputs in the state a job starts from:
        the scan joined with the metadata sidecar, the marker listing, and
        the decrypted files. Decryption is the difference of the last and
        the first."""
        root, status_dir, _, _ = self._fresh_dirs(f"probe{i}")
        cfg = dlv.RunConfig(correlation_id=f"perfbench-probe-{i}", topic_name=fixtures.TOPIC)
        inputs = self.fixture.input_dir
        frames = {
            "sources.listing.scan_s": listing.read_encrypted_files(spark, inputs),
            "sources.listing.markers_s": listing.read_finished_markers(spark, status_dir),
            "delivered_s": dlv.build_decrypted(spark, inputs, status_dir, cfg).delivered,
        }
        out = {}
        for metric, df in frames.items():
            t0 = time.perf_counter()
            noop(df)
            out[metric] = time.perf_counter() - t0
        out["functions.crypto.decrypt_s"] = out.pop("delivered_s") - out["sources.listing.scan_s"]
        shutil.rmtree(root)
        return out

    def end_to_end(self, timed: list[dict], ref_s) -> dict:
        walls = [ref_s(r) for r in timed]
        p50 = median(walls)
        return {
            "job_s_p50": p50,
            "mb_per_s": self.op_mb * len(walls) / sum(walls),
            # the result carries every end-to-end metric on every workload:
            # here one kind of operation, so its median
            "suite_s": p50,
        }

    def finish(self, spark, ops: list[dict]) -> None:
        """Every check already ran with its job."""


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def _digest(columns):
    """Row count and an order-insensitive digest: the sum of a 64-bit hash
    of each row's JSON text."""
    row = F.to_json(F.struct(*[F.col(f"`{c}`") for c in columns]))
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(row).cast("decimal(38,0)")).alias("digest"),
    )


class Analytics:
    name = "analytics_headline"
    # the first warm pass ran 2-26% slower than the next on the reference
    # host: never time it alone
    min_timed = 2

    def __init__(self, seed: int, work: str, out_dir: str):
        self.seed, self.work, self.out_dir = seed, work, out_dir
        self.sf_dir = tables.DEFAULT_SF_DIR
        self.queries = list(bench.HEADLINE)
        self.schemas: dict[str, str] = {}

    def prepare(self, spark) -> dict:
        for name in tables.TABLE_NAMES:
            tables.view(spark, self.sf_dir, name)
        self.registry = all_queries()
        self.dataset_mb = sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet")) for t in tables.TABLE_NAMES
        ) / 1e6
        return {"sf_dir": self.sf_dir, "queries": len(self.queries), "dataset_mb": self.dataset_mb}

    def order(self, i: int) -> list[str]:
        """Pass ``i``'s query order. The cold first pass runs in
        ``bench.HEADLINE`` order: the query that runs first pays for loading
        and compiling the code paths it shares with the others, so the cold
        pass's time depends on the order, and a fixed order keeps it the
        same work in every run. Later passes are rotated by an offset drawn
        from the seed and moved on by a stride coprime with the query count
        every pass."""
        if i == 0:
            return list(self.queries)
        off = (random.Random(self.seed).randrange(len(self.queries)) + 7 * i) % len(self.queries)
        return self.queries[off:] + self.queries[:off]

    def _run_query(self, spark, i: int, name: str, tracer) -> dict:
        rec: dict = {}
        obs = Observation(f"perfbench_{i}_{name}")
        op_id = f"{self.name}-{i}-{name}"
        with tracer.operation(op_id, f"queries.{name}") as counts, stopwatch(rec):
            with tracer.span(f"queries.{name}.build"):
                df = self.registry[name].fn(spark, self.sf_dir)
            with tracer.span(f"queries.{name}.exec"):
                noop(df.observe(obs, *_digest(df.columns)))
        if tracer.enabled:
            spans = tracer.op_spans(op_id)
            own = self_by_layer(spans)
            rec["coverage"] = 1 - own[spans[0][NAME]] / (spans[0][2] - spans[0][1])
            rec["layers"] = {
                "build_s": sum(v for k, v in own.items() if k.startswith(f"queries.{name}.build")),
                "exec_s": sum(v for k, v in own.items() if k.startswith(f"queries.{name}.exec")),
                "py4j_calls": counts["py4j_calls"],
            }
        got = obs.get
        rec["rows"], rec["digest"] = got["rows"], str(got["digest"])
        if name not in self.schemas:
            self.schemas[name] = df.schema.json()
        return rec

    def op(self, spark, i: int, tracer) -> dict:
        rec: dict = {"traced": tracer.enabled, "queries": {}}
        tracer.install([])
        try:
            with stopwatch(rec):
                for name in self.order(i):
                    rec["queries"][name] = self._run_query(spark, i, name, tracer)
        finally:
            tracer.uninstall()
        rec["problems"] = []  # filled in by finish(), against the oracle
        if tracer.enabled:
            qs = rec["queries"]
            for name, q in qs.items():
                spark_counts = tracer.job_counts(f"{self.name}-{i}-{name}")
                q["layers"]["spark_jobs"] = spark_counts["spark_jobs"]
                q["layers"]["spark_tasks"] = spark_counts["spark_tasks"]
            rec["coverage"] = min(q["coverage"] for q in qs.values())
            rec["layers"] = {
                "driver.py4j_calls": sum(q["layers"]["py4j_calls"] for q in qs.values()),
                "spark.jobs": sum(q["layers"]["spark_jobs"] for q in qs.values()),
                "spark.tasks": sum(q["layers"]["spark_tasks"] for q in qs.values()),
            }
            for name, q in qs.items():
                for key in ("build_s", "exec_s", "py4j_calls", "spark_tasks"):
                    rec["layers"][f"queries.{name}.{key}"] = q["layers"][key]
        return rec

    # ---- oracle ------------------------------------------------------------
    def _cache_key(self, name: str) -> str:
        import duckdb
        import pyspark

        data = [
            (t, os.stat(os.path.join(self.sf_dir, f"{t}.parquet")).st_size,
             os.stat(os.path.join(self.sf_dir, f"{t}.parquet")).st_mtime_ns)
            for t in tables.TABLE_NAMES
        ]
        blob = [self.registry[name].oracle, self.schemas[name], self.sf_dir, data,
                pyspark.__version__, duckdb.__version__]
        return hashlib.sha256(json.dumps(blob).encode()).hexdigest()

    def oracle_digests(self, spark) -> dict[str, tuple[int, str]]:
        """(rows, digest) of each query's DuckDB oracle, computed with the
        same digest expression after casting the oracle's columns to the
        Spark result's types. Oracle results depend only on the oracle SQL,
        the result schema and the data files, so they are cached under that
        key between runs."""
        from pyspark.sql.types import StructType

        cache_path = os.path.join(self.out_dir, "oracle_cache.json")
        try:
            with open(cache_path) as fh:
                cache = json.load(fh)
        except FileNotFoundError:
            cache = {}
        con = None
        out = {}
        for name in self.queries:
            key = self._cache_key(name)
            if key not in cache:
                if con is None:
                    import duckdb

                    con = duckdb.connect()
                    for t in tables.TABLE_NAMES:
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                        )
                result = con.execute(self.registry[name].oracle).arrow()
                odf = spark.createDataFrame(result)
                by_lower = {c.lower(): c for c in odf.columns}
                schema = StructType.fromJson(json.loads(self.schemas[name]))
                missing = [f.name for f in schema.fields if f.name.lower() not in by_lower]
                if missing:
                    out[name] = (-1, f"oracle lacks columns {missing}")
                    continue
                odf = odf.select([
                    F.col(f"`{by_lower[f.name.lower()]}`").cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ])
                row = odf.agg(*_digest(odf.columns)).first()
                cache[key] = [row["rows"], str(row["digest"])]
            out[name] = tuple(cache[key])
        if con is not None:
            con.close()
            tmp = cache_path + f".{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(cache, fh)
            os.replace(tmp, cache_path)
        return out

    def finish(self, spark, ops: list[dict]) -> None:
        """Check every pass's row counts and digests against the oracle."""
        oracle = self.oracle_digests(spark)
        for rec in ops:
            for name, q in rec.get("queries", {}).items():
                rec["problems"] += verify.query_problems(name, (q["rows"], q["digest"]), oracle[name])

    def end_to_end(self, timed: list[dict], ref_s) -> dict:
        walls = [ref_s(r) for r in timed]
        return {
            "job_s_p50": median(walls),
            # the result carries every end-to-end metric on every workload:
            # here the dataset's MB over the mean pass time
            "mb_per_s": self.dataset_mb * len(walls) / sum(walls),
            "suite_s": sum(
                median([ref_s(r["queries"][q]) for r in timed]) for q in self.queries
            ),
        }
