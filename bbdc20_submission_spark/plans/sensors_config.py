"""Sensor vocabulary consumed by the mocap loader — the subset of the
reference's sensor tables that the main path actually reads
(``/root/reference/sensors.py:1-14, 24-27, 38-84``; the unused
TOP_LEVEL/EQUIVALENT/GROUP tables are intentionally not carried —
SURVEY §2.9).
"""

from __future__ import annotations

POSITION_TYPES = ("Position_X", "Position_Y", "Position_Z")
ROTATION_TYPES = ("Rotation_X", "Rotation_Z", "Rotation_W", "Rotation_Y")
ALL_TYPES = POSITION_TYPES + ROTATION_TYPES

# body-part -> subtraction reference (hand positions made chest-relative
# etc.); only pairs reachable from the main pipeline's sensor config
# plus the full-vocabulary variant.
REFERENCE_OF = {
    **{f"{s}{i}": "LHand" for s in ("LIndex", "LMiddle", "LPinky", "LRing", "LThumb") for i in (1, 2, 3)},
    **{f"{s}{i}": "RHand" for s in ("RIndex", "RMiddle", "RPinky", "RRing", "RThumb") for i in (1, 2, 3)},
    "LThigh": "Chest",
    "RThigh": "Chest",
    "LShin": "Chest",
    "RShin": "Chest",
    "LHand": "Chest",
    "RHand": "Chest",
    "LFArm": "LShoulder",
    "RFArm": "RShoulder",
    "LUArm": "LShoulder",
    "RUArm": "RShoulder",
    "LShoulder": "Chest",
    "RShoulder": "Chest",
    "Neck": "Chest",
    "LFoot": "Chest",
    "RFoot": "Chest",
}


def resolve_sensor_columns(use_sensors: dict[str, object]) -> list[str]:
    """Expand a use_sensors spec ({sensor: 'position'|'rotation'|'all'|
    [explicit types]}) into the ordered column list the reference
    produces (``load_data.py:185-200``)."""
    cols: list[str] = []
    for sensor, types in use_sensors.items():
        if types == "all":
            expanded = ALL_TYPES
        elif types == "position":
            expanded = POSITION_TYPES
        elif types == "rotation":
            expanded = ROTATION_TYPES
        else:
            expanded = tuple(types)  # explicit list
        cols.extend(f"{sensor}_{t}" for t in expanded)
    return cols


def subtraction_pairs(use_sensors: dict[str, object]) -> list[tuple[str, str]]:
    """(column, reference_column) pairs to subtract, honoring the
    reference's exemption: never subtract Chest_Position_Y or any
    Rotation reference column (``load_data.py:206-207``)."""
    pairs = []
    for col in resolve_sensor_columns(use_sensors):
        sensor, _, stype = col.partition("_")
        ref = REFERENCE_OF.get(sensor)
        if ref is None:
            continue
        ref_col = f"{ref}_{stype}"
        if ref_col == "Chest_Position_Y" or "Rotation" in ref_col:
            continue
        pairs.append((col, ref_col))
    return pairs
