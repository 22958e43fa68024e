"""Arrow-batched lane transform stages.

The reference's public API is three pure functions
(`tags_to_lanes`, `lanes_to_tags`, locale builder — SURVEY.md §2.10);
here each becomes ONE Python stage over Arrow record batches.

The forward transform is a ``mapInArrow`` stage with dictionary fan-out:
each batch's rows get an exact key (tag entries or error, locale,
config) built in pyarrow and dictionary-encoded; the row kernel runs only
for distinct keys the task has not seen (allowed: the no-per-row-Python
mandate bans per-row *Spark* UDFs, not loops inside an Arrow batch); the
distinct rows are Arrow-encoded once and fanned out to every row with
``take``. The reverse transform is a ``mapInPandas`` row loop. No shuffle
is introduced — each stage is a pure narrow map, so it pipelines with the
scan and with downstream writes.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.compare import road_eq_expected
from ..core.lanes_to_tags import lanes_to_tags
from ..core.locale import Locale
from ..core.model import RoadError
from ..core.tags_to_lanes import tags_to_lanes
from ..schemas import ROAD_SCHEMA, TAGS_SCHEMA
from .span_assembly import with_tags

_ACCESS_MODES = ("foot", "bicycle", "taxi", "bus", "motor")

_ROAD_ARROW = to_arrow_schema(ROAD_SCHEMA)
# one transformed row: every ROAD_SCHEMA column but doc_id
_ROW_TYPE = pa.struct(list(_ROAD_ARROW)[1:])


def _norm_lane(lane: dict) -> dict:
    """Internal lane dict → full-key dict matching LANE_TYPE."""
    ms = lane.get("max_speed")
    access = lane.get("access")
    if access is not None:
        access = {
            m: (None if access.get(m) is None else
                {"access": access[m].get("access"),
                 "direction": access[m].get("direction")})
            for m in _ACCESS_MODES
        }
    markings = lane.get("markings")
    if markings is not None:
        markings = [{"style": m.get("style"), "width": m.get("width"),
                     "color": m.get("color")} for m in markings]
    return {
        "type": lane.get("type"),
        "direction": lane.get("direction"),
        "designated": lane.get("designated"),
        "width": lane.get("width"),
        "max_speed": None if ms is None else {"unit": ms[0], "value": ms[1]},
        "access": access,
        "semantic": lane.get("semantic"),
        "markings": markings,
    }


class _TransformCache:
    """Bounded memo of exact row key (tags, locale, config) → output row.

    OSM corpora are dominated by repeated tag-sets (a plain residential
    road tags identically millions of times), so the per-way transform is
    dictionary-encodable: the forward stage looks up each batch's distinct
    keys here, runs the kernel once per miss for the whole task, and
    Arrow-encodes the (read-only) result dicts once per batch before
    fanning them out. FIFO-bounded so skew can't grow worker memory.
    """

    __slots__ = ("cache", "max_size")

    def __init__(self, max_size: int = 65536):
        self.cache: dict = {}
        self.max_size = max_size

    def get(self, key):
        return self.cache.get(key)

    def put(self, key, value) -> None:
        if len(self.cache) >= self.max_size:
            self.cache.pop(next(iter(self.cache)))
        self.cache[key] = value


def _transform_row(tags: Optional[dict], iso: Optional[str],
                   driving_side: Optional[str], include_separators: bool,
                   tags_error: Optional[str] = None) -> dict:
    out = {"name": None, "ref": None, "highway": None, "lifecycle": None,
           "lit": None, "tracktype": None, "smoothness": None,
           "lanes": None, "warnings": None, "error": None}
    if tags is None:
        out["error"] = tags_error or "duplicate_key"
        return out
    locale = Locale.build(iso, driving_side)
    try:
        res = tags_to_lanes(dict(tags), locale,
                            include_separators=include_separators)
    except RoadError as e:
        out["error"] = e.kind
        return out
    except Exception as e:  # defensive: never kill the batch
        out["error"] = f"internal:{type(e).__name__}"
        return out
    road = res["road"]
    out.update(
        name=road["name"], ref=road["ref"], highway=road["highway"],
        lifecycle=road["lifecycle"], lit=road["lit"],
        tracktype=road["tracktype"], smoothness=road["smoothness"],
        lanes=[_norm_lane(l) for l in road["lanes"]],
        warnings=[f"{w['kind']}:{w['detail']}" for w in res["warnings"]],
    )
    return out


def _framed(arr: pa.Array) -> pa.Array:
    """Strings → self-delimiting ``<byte length>:<bytes>``; NULL → ``~``.

    A frame starts with a digit, so NULL can't read as a frame and any
    concatenation of framed values splits back into the same values: the
    joined key is exact, no hash stands in for equality."""
    lengths = pc.cast(pc.binary_length(arr), pa.string())
    return pc.fill_null(pc.binary_join_element_wise(lengths, arr, ":"), "~")


def _tag_codes(tags: pa.Array) -> pa.Array:
    """map<string,string> → one framed string per row: the framed
    key/value entries sorted by key (the kernel ignores tag order, so
    permuted tag-sets share a key); NULL map → ``~``."""
    entries_type = pa.list_(pa.struct([("key", tags.type.key_type),
                                       ("value", tags.type.item_type)]))
    as_list = tags.cast(entries_type)
    entries = as_list.flatten()
    lengths = pc.fill_null(pc.list_value_length(as_list), 0).to_numpy()
    owner = np.repeat(np.arange(len(tags), dtype=np.int32), lengths)
    order = pc.sort_indices(
        pa.table({"row": owner, "key": entries.field("key")}),
        sort_keys=[("row", "ascending"), ("key", "ascending")])
    entries = entries.take(order)
    entry_codes = pc.binary_join_element_wise(
        _framed(entries.field("key")), _framed(entries.field("value")), "")
    offsets = np.zeros(len(tags) + 1, np.int32)
    np.cumsum(lengths, out=offsets[1:])
    joined = pc.binary_join(pa.ListArray.from_arrays(offsets, entry_codes), "")
    return _framed(pc.if_else(pc.is_valid(tags), joined,
                              pa.scalar(None, pa.string())))


def _row_keys(tags, tags_error, iso, side, inc) -> pa.DictionaryArray:
    """Exact per-row transform key (tag entries or error, iso, side,
    include_separators), dictionary-encoded: ``indices`` are the row
    codes, ``dictionary`` the batch's distinct keys in first-seen order."""
    key = pc.binary_join_element_wise(
        _tag_codes(tags), _framed(tags_error), _framed(iso), _framed(side),
        pc.if_else(inc, "1", "0"), "")
    return pc.dictionary_encode(key)


def tags_to_lanes_stage(df: DataFrame, include_separators: bool = True,
                        locale_resolver=None) -> DataFrame:
    """documents(+locale columns) → ROAD_SCHEMA rows.

    Expects columns: ``doc_id``, ``spans`` and optionally ``iso_3166_2`` /
    ``driving_side`` (produced upstream by the spatial locale join or
    carried on the fixture) and a per-row ``include_separators`` (NULL
    reads False). Narrow map stage — no shuffle.

    ``locale_resolver``: optional fused spatial-locale resolution — a
    callable ``(cell:int64 ndarray, lon, lat ndarray) → (iso, side) object
    arrays`` (see ``spatial.joins.make_locale_resolver``). When given, the
    ``cell`` is computed JVM-side and locale resolves inside THIS Arrow
    stage, so the whole pipeline is one Python stage per task (two stacked
    Python runners per core measurably degrade throughput).

    Per Arrow batch the stage keys every row exactly (:func:`_row_keys`),
    runs the row kernel once per distinct key that misses the task's
    :class:`_TransformCache`, Arrow-encodes the distinct rows and fans
    them out to all rows with ``take``.
    """
    cols = ["doc_id", "tags", "tags_error"]
    has_iso = "iso_3166_2" in df.columns and locale_resolver is None
    has_side = "driving_side" in df.columns and locale_resolver is None
    has_inc = "include_separators" in df.columns  # per-row config override
    if has_iso:
        cols.append("iso_3166_2")
    if has_side:
        cols.append("driving_side")
    if has_inc:
        cols.append("include_separators")
    prepared = with_tags(df)
    if locale_resolver is not None:
        from ..spatial.joins import cell_expr
        prepared = prepared.withColumn(
            "cell", cell_expr(F.col("lon"), F.col("lat"),
                              locale_resolver.level))
        cols += ["cell", "lon", "lat"]
    prepared = prepared.select(*cols)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        memo = _TransformCache()
        for batch in batches:
            n = batch.num_rows
            if locale_resolver is not None:
                iso_np, side_np = locale_resolver(
                    batch.column("cell").to_numpy(zero_copy_only=False),
                    batch.column("lon").to_numpy(zero_copy_only=False),
                    batch.column("lat").to_numpy(zero_copy_only=False))
                iso = pa.array(iso_np, pa.string())
                side = pa.array(side_np, pa.string())
            else:
                no_locale = pa.nulls(n, pa.string())
                iso = batch.column("iso_3166_2") if has_iso else no_locale
                side = batch.column("driving_side") if has_side else no_locale
            if has_inc:
                inc = pc.fill_null(batch.column("include_separators"), False)
            else:
                inc = pa.array(np.full(n, include_separators))
            tags = batch.column("tags")
            err = batch.column("tags_error")
            encoded = _row_keys(tags, err, iso, side, inc)
            keys = encoded.dictionary.to_pylist()
            rows = [memo.get(k) for k in keys]
            missed = [c for c, row in enumerate(rows) if row is None]
            if missed:
                # codes number keys in first-seen order, so np.unique's
                # first indices are one input row per distinct key
                _, first = np.unique(encoded.indices.to_numpy(),
                                     return_index=True)
                at = pa.array(first[missed])
                for c, t, e, i, s, b in zip(
                        missed, tags.take(at).to_pylist(),
                        err.take(at).to_pylist(), iso.take(at).to_pylist(),
                        side.take(at).to_pylist(), inc.take(at).to_pylist()):
                    row = _transform_row(None if e is not None or t is None
                                         else dict(t), i, s, b, e)
                    memo.put(keys[c], row)
                    rows[c] = row
            fanned = pa.array(rows, type=_ROW_TYPE).take(encoded.indices)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), *fanned.flatten()],
                schema=_ROAD_ARROW)

    return prepared.mapInArrow(run, schema=ROAD_SCHEMA)


def _denorm_lane(lane: dict) -> dict:
    """Arrow row dict → internal sparse lane dict (inverse of _norm_lane)."""
    out = {"type": lane["type"]}
    for k in ("direction", "designated", "width", "semantic"):
        if lane.get(k) is not None:
            out[k] = lane[k]
    if lane.get("max_speed") is not None:
        out["max_speed"] = (lane["max_speed"]["unit"], lane["max_speed"]["value"])
    if lane.get("access") is not None:
        acc = {}
        for m in _ACCESS_MODES:
            v = lane["access"].get(m)
            if v is not None:
                a = {"access": v["access"]}
                if v.get("direction") is not None:
                    a["direction"] = v["direction"]
                acc[m] = a
        if acc:
            out["access"] = acc
    if lane.get("markings") is not None:
        out["markings"] = [
            {k: v for k, v in (("style", m["style"]), ("width", m["width"]),
                               ("color", m["color"])) if v is not None}
            for m in lane["markings"]
        ]
    return out


def lanes_to_tags_stage(df: DataFrame, check_roundtrip: bool = True) -> DataFrame:
    """ROAD_SCHEMA rows → tag maps (the reverse transform, L1-L10)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # numpy column access instead of pdf.iloc[i] row Series
            # construction — same conversion the forward stage got in
            # commit 8d17860 (measured faster); VERDICT r01 #4
            doc_np = pdf["doc_id"].to_numpy()
            hw_np = pdf["highway"].to_numpy()
            lc_np = pdf["lifecycle"].to_numpy()
            lanes_np = pdf["lanes"].to_numpy()
            iso_np = pdf["iso_3166_2"].to_numpy() if "iso_3166_2" in pdf else None
            side_np = pdf["driving_side"].to_numpy() if "driving_side" in pdf else None
            for i in range(len(pdf)):
                out = {"doc_id": doc_np[i], "tags": None, "error": None}
                try:
                    lanes = lanes_np[i]
                    lanes = [] if lanes is None else list(lanes)
                    road = {
                        "highway": hw_np[i],
                        "lifecycle": lc_np[i],
                        "lanes": [_denorm_lane(l) for l in lanes],
                    }
                    locale = Locale.build(
                        iso_np[i] if iso_np is not None else None,
                        side_np[i] if side_np is not None else None)
                    out["tags"] = lanes_to_tags(road, locale,
                                                check_roundtrip=check_roundtrip)
                except Exception as e:
                    out["error"] = f"{type(e).__name__}: {e}"
                rows.append(out)
            yield pd.DataFrame(rows, columns=[f.name for f in TAGS_SCHEMA.fields])

    cols = ["doc_id", "highway", "lifecycle", "lanes"]
    for extra in ("iso_3166_2", "driving_side"):
        if extra in df.columns:
            cols.append(extra)
    return df.select(*cols).mapInPandas(run, schema=TAGS_SCHEMA)


def arrow_lanes_to_internal(lanes) -> list[dict]:
    """Helper for tests: ROAD_SCHEMA lanes (Row/dict) → internal dicts."""
    out = []
    for lane in lanes:
        d = lane.asDict(recursive=True) if hasattr(lane, "asDict") else dict(lane)
        out.append(_denorm_lane(d))
    return out


__all__ = ["tags_to_lanes_stage", "lanes_to_tags_stage",
           "arrow_lanes_to_internal", "road_eq_expected"]
