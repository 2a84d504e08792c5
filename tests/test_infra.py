"""Checkpoint/resume, CLI, streaming."""

import json
import os

from pyspark.sql import functions as F

from xmlschema_spark.sources.fixtures import images_spec, make_images


def test_checkpoint_resume(spark, tmp_path):
    from xmlschema_spark.checkpoint import read_manifest, run_resumable
    spec = images_spec(with_payload=False)
    df = make_images(spark, 3000, rows_per_partition=1000, dirty=True)
    chk = str(tmp_path / "chk")
    s1 = run_resumable(df, spec, chk, run_id="r1")
    assert s1["validated_parts"] == 3 and not s1["skipped"]
    # resume with same input: nothing to do
    s2 = run_resumable(df, spec, chk, run_id="r2")
    assert s2["skipped"] is True
    # grow the table: only NEW partitions validated
    df2 = make_images(spark, 5000, rows_per_partition=1000, dirty=True)
    s3 = run_resumable(df2, spec, chk, run_id="r3")
    assert s3["validated_parts"] == 2
    m = read_manifest(spark, chk)
    assert m.count() == 5
    assert m.agg(F.sum("n_rows")).collect()[0][0] == 5000


def test_checkpoint_spec_change_invalidates(spark, tmp_path):
    from xmlschema_spark.checkpoint import run_resumable
    df = make_images(spark, 1000, rows_per_partition=500, dirty=False)
    chk = str(tmp_path / "chk2")
    spec_a = images_spec(with_payload=False)
    run_resumable(df, spec_a, chk)
    spec_b = images_spec(with_payload=False)
    spec_b.columns[1].max_inclusive = 100   # tighter w bound
    s = run_resumable(df, spec_b, chk)
    assert s["validated_parts"] == 2        # re-validated under new spec


def test_cli_end_to_end(spark, tmp_path, capsys):
    from xmlschema_spark.cli import main
    data = str(tmp_path / "imgs")
    make_images(spark, 2000, rows_per_partition=1000, dirty=True) \
        .write.parquet(data)
    spec_file = str(tmp_path / "spec.json")
    with open(spec_file, "w") as f:
        f.write(images_spec(with_payload=False).to_json())
    out = str(tmp_path / "out")
    rc = main(["--table", data, "--spec", spec_file, "--output", out])
    captured = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and captured["failed_partitions"] == 2
    assert captured["violations"] > 0
    v = spark.read.parquet(f"{out}/violations")
    assert v.count() == captured["violations"]


def test_streaming_row_checks(spark, tmp_path):
    from xmlschema_spark.streaming.validate_stream import validate_stream
    src = str(tmp_path / "src")
    make_images(spark, 2000, rows_per_partition=1000, dirty=True,
                with_bytes=False).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    spec = images_spec(with_payload=False)
    q = validate_stream(stream, spec, str(tmp_path / "chk"),
                        str(tmp_path / "out"))
    q.awaitTermination(120)
    viols = spark.read.parquet(str(tmp_path / "out" / "violations"))
    assert viols.count() > 0
    assert "batch_id" in viols.columns


def test_streaming_watermarked_dedup(spark, tmp_path):
    from xmlschema_spark.streaming.validate_stream import watermarked_dedup
    src = str(tmp_path / "ev")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    deduped = watermarked_dedup(stream, ["user_id"], "ts")
    out = str(tmp_path / "out")
    q = (deduped.writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "chk"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    n_users = spark.read.parquet(src).select("user_id").distinct().count()
    assert got.count() == n_users          # first-seen per key survives
    assert got.select("user_id").distinct().count() == n_users
