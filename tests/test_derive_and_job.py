"""Derived-transcripts generator + spark-submit job smoke test."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from lnex_spark.data.derive import transcripts_from_documents


def test_derive_shape_and_determinism(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = transcripts_from_documents(docs, "chennai")
    assert t.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    n = t.count()
    assert n == docs.count()
    # deterministic across invocations and partitionings
    a = sorted(map(tuple, t.collect()))
    b = sorted(map(tuple, transcripts_from_documents(docs.repartition(7), "chennai").collect()))
    assert a == b
    # skew: hot conversation holds ~20% of turns
    hot = t.filter(F.col("conv_id") == "chennai-c000000").count()
    assert abs(hot / n - 0.2) < 0.02
    # turn_idx contiguous per conv in dense mode
    bad = (
        t.groupBy("conv_id")
        .agg(F.min("turn_idx").alias("mn"), F.max("turn_idx").alias("mx"), F.count("*").alias("n"))
        .filter((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1))
        .count()
    )
    assert bad == 0


def test_derive_replicas(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = transcripts_from_documents(docs, "chennai", replicas=3, dense_turn_idx=False)
    assert t.count() == docs.count() * 3
    # (conv_id, turn_idx) unique even without the dense window
    assert t.select("conv_id", "turn_idx").distinct().count() == t.count()


def test_run_kg_job_smoke(tmp_path, capsys):
    """The spark-submit entrypoint end-to-end (local smoke), including
    a second invocation that must be a no-op resume."""
    from jobs.run_kg import main

    out = str(tmp_path / "kg")
    manifest = str(tmp_path / "manifest")
    argv = [
        "--transcripts", "/root/testdata/sf0.001/documents.parquet",
        "--derive-from-documents",
        "--out", out,
        "--manifest", manifest,
        "--buckets", "4",
    ]
    main(argv)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["processed_buckets"] == 4 and first["mention_triples"] > 0

    main(argv)  # resume: everything already done
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["processed_buckets"] == 0
    assert second["mention_triples"] == first["mention_triples"]


def test_spark_submit_pyfiles_launch(tmp_path):
    """The ACTUAL launch mode from the north rule: ``spark-submit
    --py-files lnex_spark.zip jobs/run_kg.py``, as a subprocess.  The
    entry script is copied OUTSIDE the repo (its sys.path insert then
    points at tmp, where no lnex_spark package exists), so every
    lnex_spark import — driver-side and inside executors' UDFs — must
    resolve from the shipped zip; the repo checkout is not on any
    path. Asserts the job completes on the launcher's master and
    materializes triples."""
    import shutil
    import subprocess

    repo = Path(__file__).resolve().parent.parent
    subprocess.run(["sh", str(repo / "tools" / "package.sh")], check=True, capture_output=True)
    zip_path = repo / "lnex_spark.zip"
    assert zip_path.is_file()

    jobs_dir = tmp_path / "jobs"
    jobs_dir.mkdir()
    shutil.copy(repo / "jobs" / "run_kg.py", jobs_dir / "run_kg.py")

    out = tmp_path / "kg"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zip_path),
            str(jobs_dir / "run_kg.py"),
            "--transcripts", "/root/testdata/sf0.001/documents.parquet",
            "--derive-from-documents",
            "--out", str(out),
            "--manifest", str(tmp_path / "manifest"),
            "--buckets", "2",
        ],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["processed_buckets"] == 2 and report["mention_triples"] > 0
    assert report["master"] == "local[2]"  # the launcher's master, not local[*]
    assert (out / "mention_triples").is_dir()

