"""The benchmark's workloads: seeded inputs, the timed call, and the
independent check of every call's output.

Each workload is one user request repeated in a closed loop by one
client: `call()` runs it through the program's public entry point and
`check()` verifies what it produced without going through Spark.
"""

from __future__ import annotations

import os
import shutil
import sqlite3

import corpus
from osm_export_tool_python_spark.functions.mapping import Mapping
from osm_export_tool_python_spark.operators.dedup import (
    _REUSE_EXCHANGE_MIN_BYTES,
    minhash_dedup,
)
from osm_export_tool_python_spark.parallel import _plan_size_bytes
from osm_export_tool_python_spark.plans.export import export


class CheckFailed(Exception):
    pass


def _require(ok, what):
    if not ok:
        raise CheckFailed(what)


class ExportPoly:
    """`export()` of the seeded OSM corpus clipped to a seeded concave
    AOI with a hole: the distributed gpkg dataset, tiles z0-10, and the
    single-file `.gpkg` and `.mbtiles` written on the driver
    (`binary=True`)."""

    name = "export_poly"
    sizes = dict(n_nodes=5000, n_ways=1250, n_rels=60)
    tiny = dict(n_nodes=400, n_ways=100, n_rels=5)
    tile_zooms = (0, 10)
    warmup = 1

    def __init__(self, work, seed):
        self.work = work
        self.seed = seed
        self.mapping = Mapping(corpus.MAPPING_YAML)
        self.tiny_mapping = Mapping(corpus.POIS_YAML)
        self.aoi = corpus.concave_aoi(seed)
        self.out = os.path.join(work, "out")
        self.reference = None

    def make_inputs(self):
        self.docs_path = os.path.join(self.work, "docs")
        self.tiny_path = os.path.join(self.work, "docs_tiny")
        self.n_docs = corpus.osm_docs(self.docs_path, self.seed, **self.sizes)
        corpus.osm_docs(self.tiny_path, self.seed + 1, **self.tiny)
        self.expected_pois = corpus.expected_pois(self.seed, self.sizes["n_nodes"], self.aoi)
        self.expected_tiny_pois = corpus.expected_pois(self.seed + 1, self.tiny["n_nodes"])

    def size_note(self):
        return "%d docs (%d nodes, %d ways, %d relations)" % (
            self.n_docs, self.sizes["n_nodes"], self.sizes["n_ways"], self.sizes["n_rels"],
        )

    def clean(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def check_inputs(self, spark):
        pass

    def tiny_call(self, spark):
        """The set-up's warm call: the `pois` gpkg dataset of the whole
        tiny corpus, no AOI."""
        self.clean()
        man = export(
            spark, spark.read.parquet(self.tiny_path), self.tiny_mapping, self.out,
            resume=False, checkpoint="auto",
        )
        _require(self._rows(man)["pois"] == self.expected_tiny_pois, "tiny pois recount")
        self.clean()

    def call(self, spark):
        """The timed request; returns its manifest."""
        return export(
            spark, spark.read.parquet(self.docs_path), self.mapping, self.out,
            aoi_rings=self.aoi, formats=("gpkg", "tiles"),
            tile_zooms=self.tile_zooms, resume=False, binary=True,
            checkpoint="auto",
        )

    @staticmethod
    def _rows(man):
        return {e["theme"]: e["rows"] for e in man["entries"]}

    def units(self, man):
        """Documents exported: every input doc is decoded and assembled;
        the share the AOI keeps varies with the seed by about 10%, which
        a features-per-second rate would add to its spread."""
        return self.n_docs

    def check(self, man):
        rows = self._rows(man)
        _require(rows.get("pois") == self.expected_pois,
                 "pois rows %s != numpy recount %d" % (rows.get("pois"), self.expected_pois))
        summary = (sorted(rows.items()), sorted(man["metrics"].items()))
        if self.reference is None:
            self.reference = summary
        _require(summary == self.reference, "manifest differs from the run's first call")
        gpkg = [e for e in man["entries"] if e["format"] == "gpkg"]
        _require(len(gpkg) == len(self.mapping.themes), "one gpkg entry per theme")
        con = sqlite3.connect(gpkg[0]["binary"])
        try:
            for e in gpkg:
                layer = os.path.basename(e["path"])
                n = con.execute('SELECT COUNT(*) FROM "%s"' % layer).fetchone()[0]
                _require(n == e["rows"], "sqlite layer %s has %d rows, manifest %d"
                         % (layer, n, e["rows"]))
        finally:
            con.close()
        tiles = [e for e in man["entries"] if e["format"] == "tiles"]
        _require(len(tiles) == 1 and tiles[0]["rows"] > 0, "tiles written")
        con = sqlite3.connect(tiles[0]["binary"])
        try:
            n = con.execute("SELECT COUNT(*) FROM tiles").fetchone()[0]
        finally:
            con.close()
        _require(n == tiles[0]["rows"], "mbtiles rows %d != manifest %d" % (n, tiles[0]["rows"]))


class NearDupDocs:
    """`minhash_dedup(threshold=0.8)` over a seeded text corpus in which
    a fixed share of documents are planted near-duplicates."""

    name = "near_dup_docs"
    # enough docs that the corpus's Catalyst size estimate clears
    # dedup's 2 MiB exchange-reuse gate, so the timed calls take the
    # repartition branch a large corpus takes
    n_docs = 7200
    dup_share = 0.2
    tiny_docs = 200
    warmup = 1

    def __init__(self, work, seed):
        self.work = work
        self.seed = seed

    def make_inputs(self):
        self.docs_path = os.path.join(self.work, "text")
        self.tiny_path = os.path.join(self.work, "text_tiny")
        doc_ids, texts, planted = corpus.near_dup_docs(
            self.docs_path, self.seed, self.n_docs, self.dup_share
        )
        corpus.near_dup_docs(self.tiny_path, self.seed + 1, self.tiny_docs, self.dup_share)
        self.all_ids = set(doc_ids)
        text = dict(zip(doc_ids, texts))
        # planted pairs whose exact 3-shingle Jaccard clears the threshold
        self.findable = {
            d for d, s in planted.items() if corpus.shingle_jaccard(text[d], text[s]) >= 0.8
        }
        self.planted = set(planted)

    def size_note(self):
        return "%d docs, %d planted near-duplicates" % (self.n_docs, len(self.planted))

    def clean(self):
        pass

    def check_inputs(self, spark):
        est = _plan_size_bytes(spark.read.parquet(self.docs_path))
        if est is None or est < _REUSE_EXCHANGE_MIN_BYTES:
            raise CheckFailed("corpus size estimate %s is below the %d-byte reuse gate"
                              % (est, _REUSE_EXCHANGE_MIN_BYTES))

    def _dedup(self, spark, path):
        kept = minhash_dedup(spark.read.parquet(path), threshold=0.8)
        return [r[0] for r in kept.select("doc_id").collect()]

    def tiny_call(self, spark):
        kept = self._dedup(spark, self.tiny_path)
        _require(0 < len(kept) <= self.tiny_docs, "tiny dedup output")

    def call(self, spark):
        """The timed request; returns the kept doc ids."""
        return self._dedup(spark, self.docs_path)

    def units(self, kept):
        """Documents deduplicated: the whole input corpus."""
        return self.n_docs

    def check(self, kept):
        ids = set(kept)
        _require(len(ids) == len(kept) and ids <= self.all_ids, "kept ids are distinct input ids")
        dropped = self.all_ids - ids
        # only planted duplicates can reach Jaccard 0.8; LSH (16 hashes
        # in 4 bands) may miss a few of them, and at most 5% may be missed
        _require(dropped <= self.findable, "dropped a doc that is not a planted near-duplicate")
        _require(len(dropped) >= 0.95 * len(self.findable),
                 "dropped %d of %d findable near-duplicates" % (len(dropped), len(self.findable)))


WORKLOADS = {w.name: w for w in (ExportPoly, NearDupDocs)}
