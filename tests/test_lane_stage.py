"""The forward Arrow stage equals the per-row kernel.

``tags_to_lanes_stage`` keys rows exactly, transforms each distinct key
once per task and fans the encoded rows out with Arrow ``take``. Every
output row here must equal ``_transform_row`` run on that row's own span
assembly output: replicated fixture documents (in-batch and cross-batch
duplicates), duplicate-key, bad-tag, tag-less and tag-permuted
documents, a per-row ``include_separators`` with NULLs, tag maps whose
naive ``k=v`` joins collide, and both the explicit-locale and the
fused-resolver paths, with Arrow batches forced small so one task sees
many batches.
"""

from __future__ import annotations

import contextlib

import numpy as np
import pyarrow as pa
import pytest

from osm2lanes_spark.core.locale import COUNTRIES
from osm2lanes_spark.fixtures import geography as G
from osm2lanes_spark.fixtures.golden import load_cases, tags_to_spans
from osm2lanes_spark.operators.lane_transform import (_row_keys,
                                                      _transform_row,
                                                      tags_to_lanes_stage)
from osm2lanes_spark.operators.span_assembly import with_tags
from osm2lanes_spark.spatial import cells as C
from osm2lanes_spark.spatial.joins import make_locale_resolver

LEVEL = 10
REPLICAS = 3
BATCH_ROWS = 7

SCHEMA = ("doc_id string, "
          "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
          "iso_3166_2 string, driving_side string, include_separators boolean, "
          "lon double, lat double")


def _tag(text: str, offset: int) -> dict:
    return {"kind": "tag", "text": text, "media_ref": None, "offset": offset}


def _spans(*texts: str) -> list[dict]:
    return [_tag(t, i) for i, t in enumerate(texts)]


# naive "\n"- and ";"-joined k=v strings of each pair are equal
COLLIDING = [
    (_spans("highway=residential", "lanes=2"),
     _spans("highway=residential\nlanes=2")),
    (_spans("highway=residential", "name=Main St", "lanes=1"),
     _spans("highway=residential", "name=Main St;lanes=1")),
]

ODD = {
    "dup": _spans("highway=residential", "lanes=2", "lanes=3"),
    "bad": _spans("highway=residential", "lanes"),
    "notags": [{"kind": "media", "text": "", "media_ref": "media://x",
                "offset": 0}],
    "permuted": _spans("lanes=2", "highway=residential"),
}


def _documents() -> list[tuple]:
    """Fixture cases ×REPLICAS: replicas adjacent first (duplicates inside
    a batch), then a shuffled copy (duplicates across batches), then the
    odd documents (``permuted`` lists a residential road's tags in reverse
    order); include_separators cycles True, False, NULL. Last, each
    colliding pair alternates REPLICAS times with one locale and config, so
    only the tags tell them apart. Every row gets a point inside one of
    the countries."""
    cycle = (True, False, None)
    rng = np.random.default_rng(7)
    base = []
    for c in load_cases():
        base += [(c["case_id"], tags_to_spans(c["case_id"], c["tags"]),
                  c["iso_3166_2"], c["driving_side"])] * REPLICAS
    shuffled = [base[i] for i in rng.permutation(len(base))]
    rows = [(f"{cid}#{k}", spans, iso, side, cycle[k % 3])
            for k, (cid, spans, iso, side) in enumerate(base + shuffled)]
    for name, spans in ODD.items():
        rows += [(f"{name}#{r}", spans, "US-WA", "right", cycle[r % 3])
                 for r in range(REPLICAS)]
    for p, pair in enumerate(COLLIDING):
        for r in range(REPLICAS):
            rows += [(f"collide{p}.{q}#{r}", spans, "GB", "left", True)
                     for q, spans in enumerate(pair)]
    countries = sorted(COUNTRIES)
    out = []
    for k, (doc_id, spans, iso, side, inc) in enumerate(rows):
        lon, lat = G.doc_point(doc_id, countries[k % len(countries)])
        out.append((doc_id, spans, iso, side, inc, float(lon), float(lat)))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_documents(), SCHEMA).coalesce(2)


@contextlib.contextmanager
def _small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(BATCH_ROWS))
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _expected(docs, locale) -> dict:
    """doc_id → ``_transform_row`` of the row's span assembly output;
    ``locale(row)`` gives its (iso, side)."""
    rows = with_tags(docs).collect()
    out = {}
    for r in rows:
        iso, side = locale(r)
        out[r["doc_id"]] = _transform_row(
            r["tags"], iso, side, bool(r["include_separators"]),
            r["tags_error"])
    return out


def _assert_equal(result, expected: dict) -> dict:
    got = {r["doc_id"]: r.asDict(recursive=True) for r in result.collect()}
    assert set(got) == set(expected)
    for doc_id, want in expected.items():
        row = dict(got[doc_id])
        del row["doc_id"]
        assert row == want, doc_id
    return got


def test_stage_equals_row_kernel_explicit_locale(spark, docs):
    # bool(NULL) is False: a NULL include_separators keeps meaning False
    expected = _expected(docs, lambda r: (r["iso_3166_2"], r["driving_side"]))
    with _small_batches(spark):
        _assert_equal(tags_to_lanes_stage(docs.drop("lon", "lat")), expected)
    assert expected["dup#0"]["error"] == "duplicate_key"
    assert expected["bad#0"]["error"] == "bad_tag"
    for p in range(len(COLLIDING)):
        assert expected[f"collide{p}.0#0"] != expected[f"collide{p}.1#0"]


def test_stage_equals_row_kernel_fused_resolver(spark, docs):
    resolver = make_locale_resolver(G.all_country_polygons(), LEVEL)
    located = {}
    pdf = docs.select("doc_id", "lon", "lat").toPandas()
    lon = pdf["lon"].to_numpy(np.float64)
    lat = pdf["lat"].to_numpy(np.float64)
    iso, side = resolver(C.encode(lon, lat, LEVEL), lon, lat)
    for doc_id, i, s in zip(pdf["doc_id"], iso, side):
        located[doc_id] = (i, s)
    assert all(i is not None for i, _ in located.values())
    expected = _expected(docs, lambda r: located[r["doc_id"]])
    with _small_batches(spark):
        _assert_equal(tags_to_lanes_stage(
            docs.drop("iso_3166_2", "driving_side"),
            locale_resolver=resolver), expected)


def test_row_keys_are_exact():
    """Inputs that differ anywhere get different codes: entry boundaries,
    NULL vs empty strings, NULL vs empty maps, locale and config. Tag
    order is not part of the key: a permuted tag-set shares its twin's."""
    rows = [  # (tags, tags_error, iso, side, include_separators)
        ([("ab", "c")], None, None, None, True),
        ([("a", "bc")], None, None, None, True),
        ([("a", "b"), ("c", "")], None, None, None, True),
        ([("a", "b=c")], None, None, None, True),
        ([("a", None)], None, None, None, True),
        ([("a", "")], None, None, None, True),
        (None, "bad_tag", None, None, True),
        (None, "duplicate_key", None, None, True),
        (None, None, None, None, True),
        ([], None, None, None, True),
        ([], None, "", None, True),
        ([], None, None, "", True),
        ([], None, None, "left", True),
        ([], None, None, None, False),
        ([("ab", "c")], None, None, None, True),
        ([("c", ""), ("a", "b")], None, None, None, True),
    ]
    tags, err, iso, side, inc = zip(*rows)
    codes = _row_keys(pa.array(tags, pa.map_(pa.string(), pa.string())),
                      pa.array(err, pa.string()), pa.array(iso, pa.string()),
                      pa.array(side, pa.string()),
                      pa.array(inc)).indices.to_pylist()
    assert codes == list(range(len(rows) - 2)) + [0, 2]
