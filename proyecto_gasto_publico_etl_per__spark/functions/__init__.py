"""Reusable column expressions (no UDFs — everything stays JVM-side)."""

from .cleaning import clean_text, label_or_placeholder, region_map_label
from .hashing import surrogate_key
from .money import DEC, dmoney, dsum

__all__ = [
    "clean_text",
    "label_or_placeholder",
    "region_map_label",
    "surrogate_key",
    "DEC",
    "dmoney",
    "dsum",
]
