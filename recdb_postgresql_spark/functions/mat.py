"""Shared-frame materialization and the one policy that decides it.

Catalyst inlines a reused DataFrame subtree once per consuming leg, so
a frame read by N legs is computed N times unless it is materialized
first. The forms:

- ``local``: ``localCheckpoint`` — executor-local blocks, lineage cut.
  Cheapest on one machine; a lost executor loses the frame.
- ``disk``: ``persist(DISK_ONLY)`` forced by a ``count()``. Lineage is
  kept and blocks spill to disk instead of competing with shuffle
  memory, which is what wins on shingle-scale frames.
- ``none``: the frame unchanged; every leg recomputes it. On a small
  input the duplicated legs overlap on idle cores and beat any
  materialization barrier.

``policy()`` picks the form from the call site's kind and the input's
size. Each threshold is the optimizer's ``sizeInBytes`` of the
``stress.py`` input at the smallest STRESS.json row where the
non-default form won. Below it, and for a size the optimizer does not
know (an RDD-backed frame reports ``Long.MaxValue``), a kind keeps
its default form: no input changes plan without evidence.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

VALID = ("local", "disk", "none")

USER_CF = "user_cf"    # on-the-fly user-CF: the full normalized ratings
ITEM_CF = "item_cf"    # on-the-fly item-CF: full ratings + trained model
SHINGLES = "shingles"  # lsh_verified_pairs' (id, shingle-hash) frame
DEFAULT = "default"    # every other shared frame

# sizeInBytes of the stress.py inputs (parquet written by local[4]):
# cf_share_x64 ratings, 4.67M rows: user-CF shared 1.34x faster
USER_CF_BYTES = 24_201_738
# cf_share_x128 ratings, 9.34M rows: item-CF shared 1.57x faster
# (at x64 it still lost, 0.81x)
ITEM_CF_BYTES = 50_666_451
# mat_policy_x64 (id, shingle-hash) frame, 320k docs: disk 1.39x
# faster than local on lsh_verified
SHINGLES_BYTES = 10_872_064
UNKNOWN_BYTES = 2 ** 63 - 1  # Spark's spark.sql.defaultSizeInBytes

# kind -> (form below the threshold, threshold, form at or above it)
_RULES = {
    USER_CF: ("none", USER_CF_BYTES, "local"),
    ITEM_CF: ("none", ITEM_CF_BYTES, "local"),
    SHINGLES: ("local", SHINGLES_BYTES, "disk"),
    DEFAULT: ("local", UNKNOWN_BYTES, "local"),
}


def size_of(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``: planning only, no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def policy(kind: str, source_bytes: int) -> str:
    """The storage form (``none`` | ``local`` | ``disk``) for a frame of
    ``kind`` whose input is ``source_bytes`` large."""
    below, threshold, above = _RULES[kind]
    return above if threshold <= source_bytes < UNKNOWN_BYTES else below


def materialize(df: DataFrame, storage: str | None = None,
                kind: str = DEFAULT) -> DataFrame:
    """Materialize ``df`` so downstream consumers share one computation,
    in the form ``policy(kind, size_of(df))`` picks; ``storage``
    forces a form instead."""
    mode = storage or policy(kind, size_of(df))
    if mode not in VALID:
        raise ValueError(f"storage must be one of {VALID}, got {mode!r}")
    if mode == "none":
        return df
    if mode == "disk":
        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()
        return out
    return df.localCheckpoint(eager=True)
