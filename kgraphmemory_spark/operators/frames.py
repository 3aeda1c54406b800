"""Typed frames + slots — the reference's frame/slot construction surface
as set-oriented builders (SURVEY.md §1.1 frame/slot row, FIXTURES.md §2.2).

Mirrors /root/reference/kgraphmemory/kgraph_frame_bridge.py:
- ``create_frame_with_slots`` (:631-676) builds one KGFrame + N typed
  KGSlot nodes + Edge_hasKGSlot links per call; here ONE wide input row
  fans out to its frame row + slot rows in a single select/explode.
- typed slot classes KGTextSlot / KGDateTimeSlot / KGBooleanSlot /
  KGEntitySlot (:556-630): one value column non-null per slot row (the
  typed-slot union shape).
- relationship frames (:451-472) are the special case with two
  urn:hasSourceEntity / urn:hasDestinationEntity entity slots —
  ``materialize.build_frames``/``build_slots`` emit those; this module is the
  general n-ary case (biography frames etc., test/interaction_test.py:
  122-167: birth/death datetime slots + party text slot).

Frame and slot URIs are content-derived (sha over frame key + slot name),
replacing the reference's random URIGenerator — required for resume.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ids import sha_id

SLOT_CLASS_TEXT = "urn:kg:KGTextSlot"
SLOT_CLASS_DATETIME = "urn:kg:KGDateTimeSlot"
SLOT_CLASS_BOOLEAN = "urn:kg:KGBooleanSlot"
SLOT_CLASS_ENTITY = "urn:kg:KGEntitySlot"

_VALUE_COL = {
    SLOT_CLASS_TEXT: "text_value",
    SLOT_CLASS_DATETIME: "datetime_value",
    SLOT_CLASS_BOOLEAN: "boolean_value",
    SLOT_CLASS_ENTITY: "entity_value",
}


@dataclass(frozen=True)
class SlotSpec:
    """One typed slot: ``name`` (slot_type suffix), ``slot_class`` (one of
    the SLOT_CLASS_* constants), ``source_col`` in the input DataFrame."""

    name: str
    slot_class: str
    source_col: str


def build_typed_frames(
    rows: DataFrame,
    frame_type: str,
    key_col: str,
    slots: list[SlotSpec],
    name_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Wide rows → (frames, slots) in the reference's typed-slot encoding.

    frames: (frame_uri, frame_type, name)
    slots:  (slot_uri, frame_uri, slot_class, slot_type, text_value,
             datetime_value, boolean_value, entity_value) — exactly one
             value column non-null per row; NULL source values emit no slot
             (the reference skips unset optional slots, e.g. death date,
             test/interaction_test.py:141-152).
    """
    if not slots:
        raise ValueError("at least one SlotSpec required")
    for s in slots:
        if s.slot_class not in _VALUE_COL:
            raise ValueError(f"unknown slot class {s.slot_class!r}")

    furi = sha_id("frame", F.lit(frame_type), F.col(key_col).cast("string"))
    frames = rows.select(
        furi.alias("frame_uri"),
        F.lit(frame_type).alias("frame_type"),
        (F.col(name_col) if name_col else F.col(key_col).cast("string"))
        .alias("name"),
    )

    def slot_struct(s: SlotSpec) -> Column:
        val = F.col(s.source_col)
        cols = {
            "text_value": F.lit(None).cast("string"),
            "datetime_value": F.lit(None).cast("timestamp"),
            "boolean_value": F.lit(None).cast("boolean"),
            "entity_value": F.lit(None).cast("string"),
        }
        if s.slot_class == SLOT_CLASS_DATETIME:
            cols["datetime_value"] = val.cast("timestamp")
        elif s.slot_class == SLOT_CLASS_BOOLEAN:
            cols["boolean_value"] = val.cast("boolean")
        elif s.slot_class == SLOT_CLASS_ENTITY:
            cols["entity_value"] = val.cast("string")
        else:
            cols["text_value"] = val.cast("string")
        return F.when(val.isNotNull(), F.struct(
            F.lit(s.slot_class).alias("slot_class"),
            F.lit("urn:slot:" + s.name).alias("slot_type"),
            *[c.alias(k) for k, c in cols.items()],
        ))

    slot_rows = rows.select(
        furi.alias("frame_uri"),
        F.explode(
            F.filter(F.array(*[slot_struct(s) for s in slots]),
                     lambda x: x.isNotNull())
        ).alias("s"),
    ).select(
        sha_id("slot", F.col("frame_uri"), F.col("s.slot_type")).alias("slot_uri"),
        "frame_uri",
        F.col("s.slot_class").alias("slot_class"),
        F.col("s.slot_type").alias("slot_type"),
        F.col("s.text_value").alias("text_value"),
        F.col("s.datetime_value").alias("datetime_value"),
        F.col("s.boolean_value").alias("boolean_value"),
        F.col("s.entity_value").alias("entity_value"),
    )
    return frames, slot_rows


def frame_slot_values(frames: DataFrame, slots: DataFrame,
                      slot_types: list[str]) -> DataFrame:
    """Frame reconstruction with OPTIONAL slots (J2/J5): one output row per
    frame, one coalesced value column per requested slot type — the SPARQL
    OPTIONAL-per-slot query shape (kgraph_frame_bridge.py:289-323) as left
    joins."""
    out = frames
    for st in slot_types:
        short = st.rsplit(":", 1)[-1]
        sl = slots.where(F.col("slot_type") == st).select(
            "frame_uri",
            F.coalesce(
                F.col("text_value"),
                F.col("datetime_value").cast("string"),
                F.col("boolean_value").cast("string"),
                F.col("entity_value"),
            ).alias(short),
        )
        out = out.join(sl, "frame_uri", "left")
    return out
