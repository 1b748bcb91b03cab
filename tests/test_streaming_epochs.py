"""Every foreachBatch service keeps its replay markers through one ledger
(streaming/epochs.py): an empty marker at the epoch a fresh batch arrives
as must stop the service with an error naming the marker — never skip the
batch or die without saying which file is at fault."""

import glob
import os
import re
import shutil
from datetime import datetime

import pytest

from snapshot_sender_spark.plans import delivery
from snapshot_sender_spark.sources import fixtures as fx
from snapshot_sender_spark.streaming import (
    dedup_stream,
    delivery_stream,
    media_dedup_stream,
    rollup,
    takedown_stream,
)

TABLE = "t_epoch_ledger_idx"


def _land(spark, input_dir, rows, schema):
    os.makedirs(input_dir, exist_ok=True)
    stage = input_dir + "_stage"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
    shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0],
                os.path.join(input_dir, "b0.parquet"))


def _text(spark, root):
    _land(spark, root + "/input", [(1, "a fresh document")], dedup_stream.DOC_SCHEMA)
    return root + "/acc/_epochs/epoch_0.committed", lambda: (
        dedup_stream.run_streaming_ingestion_dedup(
            spark, root + "/input", TABLE, root + "/acc", root + "/ckpt"
        )
    )


def _image(spark, root):
    _land(spark, root + "/input", [(1, b"png")], media_dedup_stream.MEDIA_SCHEMA)
    return root + "/acc/_epochs/epoch_0.committed", lambda: (
        media_dedup_stream.run_streaming_media_dedup(
            spark, root + "/input", TABLE, root + "/acc", root + "/ckpt"
        )
    )


def _video(spark, root):
    _land(spark, root + "/input", [(1, b"h264")], media_dedup_stream.MEDIA_SCHEMA)
    return root + "/acc/_epochs/epoch_0.committed", lambda: (
        media_dedup_stream.run_streaming_video_dedup(
            spark, root + "/input", TABLE, root + "/acc", root + "/ckpt"
        )
    )


def _takedown(spark, root):
    _land(spark, root + "/requests", [(1,)], takedown_stream.REQUEST_SCHEMA)
    return root + "/acc/_takedowns/batch_0.json", lambda: (
        takedown_stream.run_streaming_takedown(
            spark, root + "/requests", root + "/acc", TABLE, root + "/ckpt"
        )
    )


def _delivery(spark, root):
    f = fx.generate(root + "/gen", n_files=1, records_per_file=2, seed=81)
    landing = root + "/landing"
    os.makedirs(landing + "/meta_stream")
    shutil.copy(os.path.join(f.input_dir, f.files[0]), landing)
    shutil.copy(os.path.join(f.input_dir, "metadata.sidecar.jsonl"),
                landing + "/meta_stream/arrival_0.json")
    return root + "/status/_epoch_0.committed", lambda: (
        delivery_stream.run_streaming_delivery(
            spark, landing, root + "/out", root + "/status", root + "/ckpt",
            delivery.key_lookup_local,
        )
    )


def _rollup(spark, root):
    schema = "ts timestamp, event_type string, value double"
    _land(spark, root + "/input", [(datetime(2024, 1, 1), "view", 5.0)], schema)
    return root + "/rollup/_epochs/epoch_0.committed", lambda: (
        rollup.run_incremental_rollup(
            spark.readStream.schema(schema).parquet(root + "/input"),
            root + "/rollup", root + "/ckpt",
        )
    )


@pytest.mark.parametrize("service", [_text, _image, _video, _takedown, _delivery, _rollup],
                         ids=["text", "image", "video", "takedown", "delivery", "rollup"])
def test_empty_marker_stops_the_service_naming_it(spark, tmp_path, service):
    marker, run = service(spark, str(tmp_path))
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    open(marker, "w").close()
    try:
        with pytest.raises(Exception, match=re.escape(marker)):
            run()
    finally:
        for t in (TABLE, TABLE + "_sizes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert os.path.getsize(marker) == 0  # the marker is left for inspection
