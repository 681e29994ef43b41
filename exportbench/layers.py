"""The traced run: the benchmark composes the export (or the dedup)
from the program's layer functions, runs each layer's calls under its
own Spark job group, and folds the uncompressed event log into
per-layer numbers.

The composition mirrors `plans.export.export()` step by step, with one
difference that makes each layer's work its own: every lazy layer
output (decoded entities, assembled and prefiltered features, clipped
features, themed rows) is materialized at the layer boundary with the
store `export()` resolves (`lineage.resolve_auto`).  The extra
materializations are what `trace.overhead_s` reports: the traced wall
minus the wall of the `export()` (or `minhash_dedup()`) call timed just
before it, in the same session and at the same JIT warmth.  Both calls
run with the event log on, so the event log's own cost is in both
walls and not in the difference; it shows as the gap between `wall_s`
of a `--trace 0` run and the timed calls of a `--trace 1` run (printed
with the run's details as `timed_s`).  The overhead can be negative:
the composition and `export()` do not run the same Spark plans.

Per layer, from the event log (stages of the layer's job group):
  wall_s         union of the layer's stage intervals
  task_cpu_s     executor CPU time of its tasks
  py_bytes       bytes sent to and returned from Python workers
  shuffle_bytes  shuffle bytes written plus read
  spill_bytes    memory plus disk bytes spilled
  failed_tasks   tasks that did not end in success
and from the composition itself:
  rows_out       rows the layer hands on
The traced wall reconciles as
  trace.wall_s = sum(<layer>.wall_s) + driver.gap_s + trace.residual_s
where `driver.gap_s` is the traced wall no stage covers and the
residual is what stages outside any layer's job group covered.

Which end-to-end metric each layer metric should move:
  decode.*, assemble.*, themes.*     wall_s on export_poly; flat on near_dup_docs
  clip.py_bytes, clip.wall_s         wall_s on export_poly (the classify UDF and cut)
  tiles.*, sinks.*                   wall_s on export_poly
  binary_sinks.*                     wall_s and peak_rss_mb on export_poly
  lineage.stored_mb                  peak_rss_mb on export_poly
  dedup.*                            wall_s on near_dup_docs only
  session.*                          setup_s on both workloads
  driver.gap_s                       wall_s on export_poly
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

LAYERS = (
    "session", "decode", "assemble", "lineage", "clip", "themes",
    "tiles", "sinks", "binary_sinks", "dedup",
)
STAT = ("wall_s", "task_cpu_s", "py_bytes", "shuffle_bytes", "spill_bytes",
        "failed_tasks", "rows_out")
EXTRA = {
    "session.start_s": "s",
    "session.py_start_s": "s",
    "lineage.stored_mb": "MB",
    "lineage.parquet_arm": "count",
    "tiles.fanout": "ratio",
    "sinks.bytes_written": "bytes",
    "sinks.files": "count",
    "binary_sinks.fetch_wait_s": "s",
    "binary_sinks.write_s": "s",
    "binary_sinks.bytes_written": "bytes",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "driver.gap_s": "s",
    "trace.wall_s": "s",
    "trace.residual_s": "s",
    "trace.overhead_s": "s",
}
STAT_UNIT = {"wall_s": "s", "task_cpu_s": "s", "py_bytes": "bytes",
             "shuffle_bytes": "bytes", "spill_bytes": "bytes",
             "failed_tasks": "count", "rows_out": "count"}


def metric_units():
    """Every per-layer metric name with its unit, in print order."""
    out = {"%s.%s" % (l, s): STAT_UNIT[s] for l in LAYERS for s in STAT}
    out.update(EXTRA)
    return out


class Tracer:
    """Job groups and counts of one traced call."""

    def __init__(self, spark, prefix):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.rows = {}
        self.extra = {}

    @contextmanager
    def layer(self, name):
        self.sc.setJobGroup("%s:%s" % (self.prefix, name), name)
        try:
            yield
        finally:
            self.sc.setJobGroup(self.prefix, "between layers")

    def add_rows(self, name, n):
        self.rows[name] = self.rows.get(name, 0) + n


class TimedIter:
    """Wraps an iterator and adds the time spent waiting on it."""

    def __init__(self):
        self.wait = 0.0

    def wrap(self, it):
        it = iter(it)
        while True:
            t0 = time.perf_counter()
            try:
                row = next(it)
            except StopIteration:
                self.wait += time.perf_counter() - t0
                return
            self.wait += time.perf_counter() - t0
            yield row


def _tree_bytes(path, suffix):
    files = glob.glob(os.path.join(path, "**", "*" + suffix), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def _stored_mb(sc):
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / float(1 << 20)


def traced_export(spark, wl, tr):
    """`export()` of an `ExportPoly` workload, layer by layer."""
    import math

    from pyspark.sql import functions as F

    from osm_export_tool_python_spark import lineage
    from osm_export_tool_python_spark.functions.compile import (
        any_theme_tag_predicate, closed_way_is_polygon_col,
    )
    from osm_export_tool_python_spark.operators import assemble
    from osm_export_tool_python_spark.operators.clip import AOI, clip_features
    from osm_export_tool_python_spark.operators.themes import (
        prefilter, theme_fanout, theme_output,
    )
    from osm_export_tool_python_spark.operators.tiles import tile_features
    from osm_export_tool_python_spark.plans.binary_sinks import (
        GeoPackageWriter, write_mbtiles,
    )
    from osm_export_tool_python_spark.plans.export import partition_lineage
    from osm_export_tool_python_spark.plans.sinks import make_filename, wkt_column
    from osm_export_tool_python_spark.sources import decode

    themes = list(wl.mapping.themes)
    stored = []

    with tr.layer("lineage"):
        meta = decode.with_entity_meta(spark.read.parquet(wl.docs_path))
        ckpt = lineage.resolve_auto(meta, "auto")

    def keep(df):
        df = lineage.eager_checkpoint(df, ckpt)
        stored.append(df)
        return df

    with tr.layer("decode"):
        entities = keep(decode.entities_table(meta))
        tr.add_rows("decode", entities.count())

    # assemble.assemble_features with mapping pruning, plus the
    # any-theme prefilter export() applies to its output
    with tr.layer("assemble"):
        nodes = decode.nodes_from_entities(entities)
        members = decode.rel_members_from_entities(entities).where(
            any_theme_tag_predicate(themes, ("polygon",))
        )
        member_ids = members.select(F.col("way_id").alias("orig_id")).dropDuplicates(["orig_id"])
        way_pred = any_theme_tag_predicate(themes, ("line", "polygon"))
        way_entities = entities.where(F.col("src") == "way")
        kept_ways = way_entities.where(way_pred).unionByName(
            way_entities.where(~way_pred).join(member_ids, "orig_id", "left_semi")
        )
        wcoords = keep(assemble.way_coords(
            decode.way_refs_from_entities(kept_ways), nodes,
            decode.ways_from_entities(kept_ways),
        ))
        feats = (
            assemble.point_features(nodes.where(any_theme_tag_predicate(themes, ("point",))))
            .unionByName(assemble.line_features(wcoords))
            .unionByName(assemble.closed_way_polygon_features(wcoords))
            .unionByName(assemble.relation_polygon_features(
                members.where(closed_way_is_polygon_col("tags")), wcoords
            ))
        )
        feats = keep(prefilter(feats, wl.mapping))
        tr.add_rows("assemble", feats.count())

    with tr.layer("clip"):
        clipped = keep(clip_features(feats, AOI(wl.aoi)))
        tr.add_rows("clip", clipped.count())

    with tr.layer("themes"):
        themed = keep(theme_fanout(clipped, wl.mapping))
        tr.add_rows("themes", themed.count())

    with tr.layer("lineage"):
        tr.extra["lineage.stored_mb"] = _stored_mb(spark.sparkContext)
        tr.extra["lineage.parquet_arm"] = 1 if ckpt == "parquet" else 0

    gpkg_dir = os.path.join(wl.out, "gpkg")
    with tr.layer("sinks"):
        for theme in themes:
            path = os.path.join(gpkg_dir, make_filename(theme.name))
            theme_output(themed, theme).select("*", wkt_column()).drop(
                "xs", "ys", "ring_offsets", "part_offsets"
            ).write.mode("overwrite").parquet(path)
            tr.add_rows("sinks", sum(partition_lineage(spark, path).values()))
        themed.groupBy("theme", "geom_type").agg(F.count("*").alias("n")).collect()

    z0, z1 = wl.tile_zooms
    tiles_path = os.path.join(wl.out, "tiles")
    with tr.layer("tiles"):
        uniq = themed.dropDuplicates(["osm_id", "src", "geom_type"])
        n_out = max(spark.sparkContext.defaultParallelism // 2, 1)
        tile_features(uniq, z0, z1, exact=True).repartitionByRange(
            n_out, "z", "x", "y"
        ).write.mode("overwrite").parquet(tiles_path)
        n_tiles = sum(partition_lineage(spark, tiles_path).values())
        tr.add_rows("tiles", n_tiles)
        tr.extra["tiles.fanout"] = n_tiles / float(max(uniq.count(), 1))

    files, size = _tree_bytes(wl.out, ".parquet")
    tr.extra["sinks.files"] = files
    tr.extra["sinks.bytes_written"] = size

    fetch = TimedIter()
    gpkg_path = os.path.join(gpkg_dir, "export.gpkg")
    mb_path = os.path.join(wl.out, "tiles.mbtiles")
    with tr.layer("binary_sinks"):
        t0 = time.perf_counter()
        writer = GeoPackageWriter(gpkg_path)
        try:
            for theme in themes:
                tr.add_rows("binary_sinks", writer.write_layer(
                    make_filename(theme.name), theme.keys,
                    fetch.wrap(theme_output(themed, theme).toLocalIterator()),
                    with_osm_id=theme.osm_id,
                ))
        finally:
            writer.close()
        tiles_df = spark.read.parquet(tiles_path)
        ext = tiles_df.where(F.col("z") == z1).agg(
            F.min("x"), F.min("y"), F.max("x"), F.max("y")
        ).first()
        n = 1 << z1

        def lat(y):
            return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))

        bounds = (ext[0] / n * 360.0 - 180.0, lat(ext[3] + 1),
                  (ext[2] + 1) / n * 360.0 - 180.0, lat(ext[1]))
        write_mbtiles(mb_path, fetch.wrap(tiles_df.toLocalIterator()), bounds, z0, z1)
        tr.add_rows("binary_sinks", n_tiles)
        tr.extra["binary_sinks.fetch_wait_s"] = fetch.wait
        tr.extra["binary_sinks.write_s"] = time.perf_counter() - t0 - fetch.wait
        tr.extra["binary_sinks.bytes_written"] = (
            os.path.getsize(gpkg_path) + os.path.getsize(mb_path)
        )

    with tr.layer("lineage"):
        lineage.release(*stored)


def traced_dedup(spark, wl, tr):
    """`minhash_dedup()` of a `NearDupDocs` workload, with its
    candidate and verified pairs materialized and counted."""
    from pyspark.sql import functions as F

    from osm_export_tool_python_spark import lineage
    from osm_export_tool_python_spark.operators.dedup import (
        jaccard_verify, lsh_candidate_pairs,
    )

    docs = spark.read.parquet(wl.docs_path)
    with tr.layer("dedup"):
        cands = lineage.eager_local_checkpoint(lsh_candidate_pairs(docs))
        n_cand = cands.count()
        verified = lineage.eager_local_checkpoint(jaccard_verify(cands, docs, threshold=0.8))
        n_ver = verified.count()
        dupes = verified.select(F.col("id_b").alias("__dup")).distinct()
        kept = docs.join(dupes, docs["doc_id"] == dupes["__dup"], "left_anti")
        tr.add_rows("dedup", len(kept.select("doc_id").collect()))
    with tr.layer("lineage"):
        lineage.release(cands, verified)
    tr.extra["dedup.candidate_pairs"] = n_cand
    tr.extra["dedup.verified_pairs"] = n_ver
    tr.extra["dedup.verify_yield"] = n_ver / float(max(n_cand, 1))


COMPOSITIONS = {"export_poly": traced_export, "near_dup_docs": traced_dedup}


def traced_call(spark, wl, index):
    """Run the traced composition once; returns its record."""
    tr = Tracer(spark, "t%d" % index)
    start = time.time()
    t0 = time.perf_counter()
    COMPOSITIONS[wl.name](spark, wl, tr)
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("idle", "between calls")
    return {"prefix": tr.prefix, "wall_s": wall, "start_ms": start * 1e3,
            "end_ms": start * 1e3 + wall * 1e3, "rows": tr.rows, "extra": tr.extra}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def fold_event_log(path):
    """{job group: totals} and {job group: [stage intervals ms]} from
    one uncompressed event log file."""
    stage_group, groups, intervals = {}, {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if si.get("Submission Time") and si.get("Completion Time"):
                    intervals.setdefault(stage_group.get(si["Stage ID"]), []).append(
                        (si["Submission Time"], si["Completion Time"])
                    )
            elif ev == "SparkListenerTaskEnd":
                g = groups.setdefault(stage_group.get(e["Stage ID"]), {
                    "task_cpu_s": 0.0, "py_bytes": 0, "shuffle_bytes": 0,
                    "spill_bytes": 0, "failed_tasks": 0, "py_start_s": 0.0,
                })
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    g["failed_tasks"] += 1
                m = e.get("Task Metrics") or {}
                g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_bytes"] += (sw.get("Shuffle Bytes Written", 0)
                                       + sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = a.get("Name"), a.get("Update")
                    if upd is None:
                        continue
                    if name in ("data sent to Python workers", "data returned from Python workers"):
                        g["py_bytes"] += int(upd)
                    elif name == "time to start Python workers":  # a "timing" metric: ms
                        g["py_start_s"] += int(upd) / 1e3
    return groups, intervals


def _event_file(event_dir, app_id):
    files = glob.glob(os.path.join(event_dir, "*%s*" % app_id, "events_*")) or glob.glob(
        os.path.join(event_dir, "*%s*" % app_id)
    )
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError("no event log for %s under %s" % (app_id, event_dir))
    return sorted(files)[0]


def call_metrics(groups, intervals, rec):
    """Per-layer numbers of one traced call."""
    zero = {"task_cpu_s": 0.0, "py_bytes": 0, "shuffle_bytes": 0,
            "spill_bytes": 0, "failed_tasks": 0, "py_start_s": 0.0}
    out = {}
    layer_walls = 0.0
    for layer in LAYERS:
        if layer == "session":
            continue
        key = "%s:%s" % (rec["prefix"], layer)
        g = groups.get(key, zero)
        wall = _union(intervals.get(key, [])) / 1e3
        layer_walls += wall
        out["%s.wall_s" % layer] = wall
        for s in ("task_cpu_s", "py_bytes", "shuffle_bytes", "spill_bytes", "failed_tasks"):
            out["%s.%s" % (layer, s)] = g[s]
        out["%s.rows_out" % layer] = rec["rows"].get(layer, 0)
    lo, hi = rec["start_ms"], rec["end_ms"]
    mine = [iv for key, ivs in intervals.items()
            if key and key.split(":")[0] == rec["prefix"] for iv in ivs]
    covered = _union([(max(a, lo), min(b, hi)) for a, b in mine if b > lo and a < hi]) / 1e3
    out["driver.gap_s"] = rec["wall_s"] - covered
    out["trace.wall_s"] = rec["wall_s"]
    out["trace.residual_s"] = rec["wall_s"] - layer_walls - out["driver.gap_s"]
    for name in EXTRA:
        out.setdefault(name, rec["extra"].get(name, 0))
    return out


def layer_metrics(event_dir, app_id, rec, untraced_wall, setup, session_start):
    """Every per-layer metric of the run's traced call."""
    groups, intervals = fold_event_log(_event_file(event_dir, app_id))
    values = call_metrics(groups, intervals, rec)
    out = {name: {"value": values.get(name, 0), "unit": unit}
           for name, unit in metric_units().items()}
    out["session.wall_s"]["value"] = setup
    out["session.start_s"]["value"] = session_start
    # the set-up's tiny call ran under the "setup" job group
    tiny = groups.get("setup")
    if tiny:
        for s in ("task_cpu_s", "py_bytes", "shuffle_bytes", "spill_bytes", "failed_tasks",
                  "py_start_s"):
            out["session.%s" % s]["value"] = tiny[s]
    out["trace.overhead_s"]["value"] = out["trace.wall_s"]["value"] - untraced_wall
    return out
