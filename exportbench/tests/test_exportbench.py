"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest exportbench/tests -q

The Spark test composes the traced run on tiny inputs and checks that
it counts the same rows at every boundary as `export()`'s manifest and
as `minhash_dedup`, and that the event-log fold yields every per-layer
metric and reconciles the traced wall.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_pinned_to_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS


def test_per_layer_names_pinned_to_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.metric_units()


def test_workloads_pinned_to_benchmark_json():
    from workloads import WORKLOADS

    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_osm_corpus_is_a_function_of_the_seed():
    a = corpus.osm_rows(3, 200, 50, 4)
    assert a == corpus.osm_rows(3, 200, 50, 4)
    assert a != corpus.osm_rows(4, 200, 50, 4)
    for r1, r2 in zip(corpus.concave_aoi(3), corpus.concave_aoi(3)):
        np.testing.assert_array_equal(r1, r2)


def test_text_corpus_is_a_function_of_the_seed():
    a = corpus.text_rows(3, 300, 0.2)
    assert a == corpus.text_rows(3, 300, 0.2)
    assert a[1] != corpus.text_rows(4, 300, 0.2)[1]
    assert len(a[2]) == 60


def test_planted_near_duplicates_clear_the_threshold():
    ids, texts, planted = corpus.text_rows(5, 400, 0.2)
    text = dict(zip(ids, texts))
    assert all(corpus.shingle_jaccard(text[d], text[s]) >= 0.8 for d, s in planted.items())


def test_points_in_aoi_respects_the_hole():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    hole = np.array([[4, 4], [4, 6], [6, 6], [6, 4], [4, 4]], dtype=float)
    lon = np.array([1.0, 5.0, 11.0, 9.5])
    lat = np.array([1.0, 5.0, 5.0, 9.5])
    assert corpus.points_in_aoi(lon, lat, [outer, hole]).tolist() == [True, False, False, True]


def test_driver_high_water_mark_resets():
    big = b"\x01" * (256 << 20)
    del big
    before = run._vmhwm_kb(os.getpid())
    run.reset_driver_hwm()
    assert run._vmhwm_kb(os.getpid()) < before - (200 << 10)


def test_union_of_intervals():
    assert layers._union([(0, 2), (1, 3), (5, 6)]) == 4


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("exportbench"))
    run.confine_to(work, 1)
    event_dir = os.path.join(work, "events")
    os.makedirs(event_dir)
    spark = run.start_session(2, work, event_dir)
    yield spark, work, event_dir
    spark.stop()


def test_traced_composition_counts_match_the_program(traced_session):
    from osm_export_tool_python_spark.operators.dedup import minhash_dedup
    from workloads import CheckFailed, ExportPoly, NearDupDocs

    spark, work, event_dir = traced_session
    ex = ExportPoly(os.path.join(work, "export"), 11)
    ex.sizes = dict(n_nodes=600, n_ways=150, n_rels=8)
    ex.make_inputs()
    man = ex.call(spark)
    ex.check(man)
    ex.clean()
    rec_export = layers.traced_call(spark, ex, 0)
    ex.clean()
    rows = rec_export["rows"]
    by_theme = {e["theme"]: e["rows"] for e in man["entries"]}
    gpkg_rows = sum(r for t, r in by_theme.items() if t != "*")
    assert rows["themes"] == man["metrics"]["themed_features"]
    assert rows["sinks"] == gpkg_rows
    assert rows["tiles"] == by_theme["*"]
    assert rows["binary_sinks"] == gpkg_rows + by_theme["*"]
    assert rows["decode"] == ex.n_docs

    dd = NearDupDocs(os.path.join(work, "dedup"), 11)
    dd.n_docs = 400
    dd.make_inputs()
    kept = dd.call(spark)
    dd.check(kept)
    rec_dedup = layers.traced_call(spark, dd, 1)
    assert rec_dedup["rows"]["dedup"] == len(kept)
    assert len(kept) == minhash_dedup(spark.read.parquet(dd.docs_path)).count()
    assert rec_dedup["extra"]["dedup.verified_pairs"] == dd.n_docs - len(kept)

    # the full-size corpus clears dedup's exchange-reuse gate, 400 docs do not
    with pytest.raises(CheckFailed):
        dd.check_inputs(spark)
    full = NearDupDocs(os.path.join(work, "dedup_full"), 11)
    full.make_inputs()
    full.check_inputs(spark)

    app_id = spark.sparkContext.applicationId
    spark.stop()
    groups, intervals = layers.fold_event_log(layers._event_file(event_dir, app_id))
    for rec in (rec_export, rec_dedup):
        m = layers.call_metrics(groups, intervals, rec)
        assert set(layers.metric_units()) - set(m) <= {"session.wall_s", "session.start_s",
                                                       "session.task_cpu_s", "session.py_bytes",
                                                       "session.shuffle_bytes", "session.spill_bytes",
                                                       "session.failed_tasks", "session.rows_out"}
        assert m["driver.gap_s"] >= 0
        assert abs(m["trace.residual_s"]) < 0.05 * m["trace.wall_s"]
    folded = layers.layer_metrics(event_dir, app_id, rec_export, 1.0, 2.0, 0.5)
    assert {k: v["unit"] for k, v in folded.items()} == layers.metric_units()
    assert all(isinstance(v["value"], (int, float)) for v in folded.values())
    m = layers.call_metrics(groups, intervals, rec_export)
    assert m["clip.py_bytes"] > 0 and m["decode.task_cpu_s"] > 0
    assert m["dedup.wall_s"] == 0
    m = layers.call_metrics(groups, intervals, rec_dedup)
    assert m["dedup.wall_s"] > 0 and m["clip.wall_s"] == 0
