"""Seeded benchmark inputs and the engine-independent answers they imply.

Every input is a pure function of (seed, size):

- `osm_docs` writes an interleaved-documents table (the engine's input
  schema, FIXTURES.md section 1).  Node geometry and node tags come
  from the synthesizer's per-id functions (`synth.node_lonlat`,
  `synth.entity_tags`), so the seed shifts the node-id window and with
  it the whole map.  Way and relation structure is drawn from a numpy
  generator seeded the same way.
- `concave_aoi` is the clip area.
- `near_dup_docs` writes a text corpus with a planted share of
  near-duplicates.

`expected_pois` and `shingle_jaccard` recompute what a correct run
must produce with numpy and plain Python only, never through Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osm_export_tool_python_spark.sources import synth

# the mapping `bench.py` times: one theme per geometry kind
MAPPING_YAML = (
    "buildings:\n  types: [polygons]\n  select: [name, building]\n"
    "  where: building = 'yes'\n"
    "roads:\n  types: [lines]\n  select: [highway, name]\n"
    "  where: highway IS NOT NULL\n"
    "pois:\n  types: [points]\n  select: [amenity, name]\n"
    "  where: amenity IS NOT NULL\n"
)

POIS_YAML = "pois:\n  types: [points]\n  select: [amenity, name]\n  where: amenity IS NOT NULL\n"

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)

# synth's compact placement maps each aligned block of 4096 node ids to
# one small map square it scatters by hash.  A corpus takes runs of RUN
# consecutive ids from consecutive blocks, starting at a seeded block,
# so its nodes spread over n_nodes / RUN squares and every seed draws
# a different set of squares.
BLOCK = 4096
RUN = 16


def node_ids(seed: int, n_nodes: int) -> np.ndarray:
    first_block = (int(seed) % 4096 + 1) << 12
    i = np.arange(n_nodes, dtype=np.uint64)
    return (np.uint64(first_block) + i // np.uint64(RUN)) * np.uint64(BLOCK) + i % np.uint64(RUN)


def _tag_spans(tags):
    return [
        {"kind": "tag", "text": "%s=%s" % kv, "media_ref": "", "offset": j}
        for j, kv in enumerate(tags)
    ]


def osm_rows(seed: int, n_nodes: int, n_ways: int, n_rels: int):
    """(doc_ids, spans) lists of one seeded OSM corpus."""
    rng = np.random.default_rng([int(seed), 1])
    nids = node_ids(seed, n_nodes)
    lon, lat = synth.node_lonlat(nids, compact=True)
    wkb = synth.point_wkb_hex(lon, lat)
    doc_ids, spans = [], []
    for i, tags in enumerate(synth.entity_tags(nids, salt_base=100)):
        s = _tag_spans(tags)
        s.append({"kind": "media", "text": "point", "media_ref": wkb[i], "offset": len(s)})
        doc_ids.append("node/%d" % nids[i])
        spans.append(s)

    # ways: 2..10 consecutive node ids of one run (spatially adjacent
    # on the compact curve); 45% closed into a star-shaped ring, 1% with
    # a dangling ref (the engine's counted 'incomplete way' dropout)
    way_base = int(nids[0])
    nref = rng.integers(2, 11, n_ways)
    start = rng.integers(0, n_nodes // RUN, n_ways) * RUN + rng.integers(0, RUN - 10, n_ways)
    u = rng.random(n_ways)
    broken, closed = u < 0.01, u >= 0.55
    way_tags = synth.entity_tags(np.arange(n_ways, dtype=np.uint64) + way_base, salt_base=300)
    closed_ids = []
    for w in range(n_ways):
        refs = list(range(int(start[w]), int(start[w]) + int(nref[w])))
        if broken[w]:
            refs[-1] = n_nodes + w
        elif closed[w]:
            ang = np.arctan2(lat[refs] - lat[refs].mean(), lon[refs] - lon[refs].mean())
            refs = [refs[j] for j in np.argsort(ang, kind="stable")]
            refs.append(refs[0])
            if len(refs) >= 4:
                closed_ids.append(w)
        s = _tag_spans(way_tags[w])
        off = len(s)
        s += [
            {"kind": "ref", "text": "", "media_ref": "node/%d" % (nids[r] if r < n_nodes else 1),
             "offset": off + j}
            for j, r in enumerate(refs)
        ]
        doc_ids.append("way/%d" % (way_base + w))
        spans.append(s)

    # multipolygon relations: one outer + 0..2 inner closed ways; 15%
    # take an arbitrary (maybe open) outer, the 'invalid area' path
    closed_ids = np.asarray(closed_ids, dtype=np.int64)
    rel_tags = synth.entity_tags(np.arange(n_rels, dtype=np.uint64) + way_base, salt_base=500)
    for r in range(n_rels):
        outer = int(rng.integers(0, n_ways)) if rng.random() < 0.15 else int(rng.choice(closed_ids))
        members = [("outer", outer)] + [
            ("inner", int(rng.choice(closed_ids))) for _ in range(int(rng.integers(0, 3)))
        ]
        s = [{"kind": "tag", "text": "type=multipolygon", "media_ref": "", "offset": 0}]
        s += [
            {"kind": "tag", "text": "%s=%s" % kv, "media_ref": "", "offset": j + 1}
            for j, kv in enumerate(rel_tags[r])
        ]
        off = len(s)
        s += [
            {"kind": "member", "text": role, "media_ref": "way/%d" % (way_base + w), "offset": off + j}
            for j, (role, w) in enumerate(members)
        ]
        doc_ids.append("rel/%d" % (way_base + r))
        spans.append(s)
    return doc_ids, spans


def _write(path: str, table: pa.Table) -> None:
    """One parquet file: a batch this small is one scan split anyway."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-000.parquet"))


def osm_docs(path: str, seed: int, n_nodes: int, n_ways: int, n_rels: int) -> int:
    """Write one seeded OSM corpus to `path`; returns its document count.
    Rows are shuffled (seeded) so entity kinds interleave."""
    doc_ids, spans = osm_rows(seed, n_nodes, n_ways, n_rels)
    order = np.random.default_rng([int(seed), 2]).permutation(len(doc_ids))
    table = pa.table(
        {
            "doc_id": pa.array([doc_ids[i] for i in order], pa.string()),
            "spans": pa.array([spans[i] for i in order], SPAN_TYPE),
        }
    )
    _write(path, table)
    return len(doc_ids)


def concave_aoi(seed: int):
    """A 14-point star (concave) around the map centre with a
    rectangular hole.  The seed turns the star and varies its radii and
    the hole by a few percent, so the AOI's area stays about the same."""
    rng = np.random.default_rng([int(seed), 3])
    cx, cy = 10.0, 22.5
    k = 14
    ang = np.linspace(0.0, 2 * np.pi, k, endpoint=False) + rng.uniform(0, 2 * np.pi / k)
    rad = np.where(np.arange(k) % 2 == 0, rng.uniform(30, 31, k), rng.uniform(15, 16, k))
    outer = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    h = rng.uniform(3.0, 3.5)
    hole = np.array(
        [[cx - h, cy - h], [cx - h, cy + h], [cx + h, cy + h], [cx + h, cy - h]]
    )
    return [np.vstack([outer, outer[:1]]), np.vstack([hole, hole[:1]])]


def points_in_aoi(lon, lat, rings) -> np.ndarray:
    """Even-odd ray casting over every ring (holes count as rings)."""
    inside = np.zeros(len(lon), dtype=bool)
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        for a, b, c, d in zip(x0, y0, x1, y1):
            crosses = (b > lat) != (d > lat)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = a + (lat - b) * (c - a) / (d - b)
            inside ^= crosses & (lon < xi)
    return inside


def expected_pois(seed: int, n_nodes: int, rings=None) -> int:
    """Rows of the `pois` theme a correct export writes: tagged nodes
    with an `amenity` tag whose point lies inside the AOI (if any)."""
    nids = node_ids(seed, n_nodes)
    lon, lat = synth.node_lonlat(nids, compact=True)
    has_amenity = np.array(
        [any(k == "amenity" for k, _v in t) for t in synth.entity_tags(nids, salt_base=100)]
    )
    if rings is not None:
        has_amenity &= points_in_aoi(lon, lat, rings)
    return int(has_amenity.sum())


# ---------------------------------------------------------------------------
# near-duplicate text corpus
# ---------------------------------------------------------------------------

VOCAB = 20000


def text_rows(seed: int, n_docs: int, dup_share: float):
    """(doc_ids, texts, planted) — `planted` maps each planted
    near-duplicate to the earlier doc it copies.  A duplicate replaces
    one token of its source, which keeps its 3-shingle Jaccard ~0.9."""
    rng = np.random.default_rng([int(seed), 4])
    n_dup = int(n_docs * dup_share)
    n_base = n_docs - n_dup
    lens = rng.integers(50, 90, n_base)
    words = ["w%d" % i for i in range(VOCAB)]
    toks = [rng.integers(0, VOCAB, n).tolist() for n in lens]
    texts = [" ".join(words[t] for t in tt) for tt in toks]
    src = rng.choice(n_base, n_dup, replace=False)
    planted = {}
    for j, s in enumerate(src):
        tt = list(toks[s])
        tt[int(rng.integers(0, len(tt)))] = int(rng.integers(0, VOCAB))
        texts.append(" ".join(words[t] for t in tt))
        planted[n_base + j] = int(s)
    doc_ids = ["d%07d" % i for i in range(n_docs)]
    return doc_ids, texts, {doc_ids[d]: doc_ids[s] for d, s in planted.items()}


def near_dup_docs(path: str, seed: int, n_docs: int, dup_share: float):
    """Write the seeded text corpus; returns `text_rows`' triple."""
    doc_ids, texts, planted = text_rows(seed, n_docs, dup_share)
    order = np.random.default_rng([int(seed), 5]).permutation(n_docs)
    _write(path, pa.table({
        "doc_id": pa.array([doc_ids[i] for i in order], pa.string()),
        "text": pa.array([texts[i] for i in order], pa.string()),
    }))
    return doc_ids, texts, planted


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)
