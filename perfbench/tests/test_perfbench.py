"""Tests for the benchmark's generator, span attribution and metric names.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import gen
import numpy as np
import pyarrow.parquet as pq
import pytest
import run
from spans import StatusStore, Tracer
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_bytes(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_same_seed_same_bytes(tmp_path, name):
    for sub, seed in (("a", 5), ("b", 5), ("c", 6)):
        WORKLOADS[name](seed, str(tmp_path)).generate(str(tmp_path / sub))
    a, b, c = (_tree_bytes(tmp_path / s) for s in "abc")
    assert a and a == b
    assert a != c
    assert run._same_bytes(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not run._same_bytes(str(tmp_path / "a"), str(tmp_path / "c"))


def test_events_keep_the_fixture_shape():
    t = gen.events_table(3, 50_000).to_pandas()
    days = t["ts"].dt.normalize()
    lo = days.min()
    # the incremental star entry's gates: span over 19 days, late rows on day 5
    assert (days.max() - lo).days > 19
    assert ((days == lo + np.timedelta64(5, "D")) & (t["event_id"] % 11 == 0)).any()
    # late arrivals: some rows are older than the row exported before them
    assert (t["ts"].diff().dt.total_seconds() < -86_400).sum() > 0.01 * len(t)
    # skewed users: the top 1% of users own far more than 1% of events
    counts = t["user_id"].value_counts()
    top = counts.iloc[: max(len(counts) // 100, 1)].sum()
    assert top > 0.15 * len(t)


def test_event_chunks_are_export_sized(tmp_path):
    paths = gen.write_event_chunks(1, 25_000, str(tmp_path))
    assert [pq.read_metadata(p).num_rows for p in paths] == [10_000, 10_000, 5_000]


def test_documents_use_corpus_vocabulary_with_near_duplicates():
    d = gen.documents_table(4, 2_000).to_pandas()
    words = {w for text in d["text"] for w in text.split()}
    assert words <= set(gen.VOCAB) | {"dup"}
    dups = d["text"].str.endswith(" dup").sum()
    assert 0.5 * gen.NEAR_DUP_FRAC * len(d) < dups < 1.5 * gen.NEAR_DUP_FRAC * len(d)
    assert (d["n_chars"] == d["text"].str.len()).all()


def test_embeddings_are_unit_vectors():
    e = gen.embeddings_table(4, 100).to_pandas()
    norms = np.linalg.norm(np.stack(e["embedding"].to_list()), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)
    assert len(e["embedding"][0]) == gen.EMB_DIM


def test_printed_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    names = run.per_layer_names(WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == names
    assert all(m["unit"] == run._unit(m["name"]) for m in spec["per_layer"])
    assert len(names) <= 128 and all(len(n) <= 64 for n in names)


def test_peak_rss_reset_drops_an_earlier_peak():
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import time; x = bytearray(64 << 20); x[::4096] = b'1' * len(x[::4096]);"
            " del x; print('ok', flush=True); time.sleep(60)",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "ok"
        rss = run.PeakRss(child.pid)
        high = rss.mb()
        rss.reset()
        assert high > rss.mb() + 48
    finally:
        child.kill()
        child.wait(timeout=10)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_streaming_jobs_land_in_their_span(spark, tmp_path):
    """Micro-batches run on the stream's own thread: a job group set on
    the caller's thread misses them, the span's job-id window does not."""
    from glamira_end_to_end_data_pipeline_spark.streaming import run_incremental_load_once

    src = tmp_path / "src"
    gen.write_event_chunks(2, 3_000, str(src))
    schema = spark.read.parquet(str(src)).schema
    tracer = Tracer(StatusStore(spark), enabled=True)
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller thread")
    try:
        with tracer.span("streaming.load"):
            run_incremental_load_once(
                spark, str(src), str(tmp_path / "t"), str(tmp_path / "a"),
                str(tmp_path / "c"), schema,
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    (span,) = tracer.spans
    in_group = len(sc.statusTracker().getJobIdsForGroup("caller"))
    assert span.counters["jobs"] > in_group
    assert span.counters["stages"] >= span.counters["jobs"] - in_group
    assert span.counters["output_mb"] > 0


def test_span_instances_do_not_share_counters(spark):
    tracer = Tracer(StatusStore(spark), enabled=True)
    for n in (1, 3):
        with tracer.span("same.name"):
            for _ in range(n):
                spark.range(1000).selectExpr("sum(id)").collect()
    one, three = (s.counters["jobs"] for s in tracer.spans)
    assert one > 0 and three == 3 * one


def test_disabled_tracer_records_nothing(spark):
    tracer = Tracer(StatusStore(spark), enabled=False)
    with tracer.span("x"):
        spark.range(10).collect()
    assert tracer.spans == []

