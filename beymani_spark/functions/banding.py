"""Banded candidate generation — the one copy of the LSH join engine.

Every near-duplicate and neighbour search in the engine has the same
shape: a per-row signature, split into bands (MinHash rows, SimHash bit
ranges, pHash hex bands, hyperplane bits), an equi-join on
``(band, sig)`` that turns band collisions into candidate pairs, and an
exact verification of each candidate. The sketch differs per modality;
the join, its ``src < dst`` and distinct invariants and the cache
lifetime do not, so they live here once:

- :func:`band_rows` — ``(_id, band, sig, *carry)``, one row per
  (row, band), via one ``posexplode``. The persisted band manifest and
  the stream side of stream-static joins use it directly.
- :func:`band_pairs` — the pigeonhole self-join: distinct ``(src, dst)``
  pairs with ``src < dst`` that share any band, the carried columns of
  each side as ``<c>_a`` / ``<c>_b``. The keyed frame is persisted with
  its band signatures already computed (both join sides read it; no
  digest runs twice) and the cache is pinned to the result.
- :func:`one_bit_probes` — a bit-string signature plus its one-bit
  flips, as codegen string expressions. Exploded on ONE side of a bucket
  join it pairs every row whose signatures differ in at most one bit,
  and each such pair matches exactly one probe, so the join needs no
  distinct.
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import caching


def _keyed(
    frame: DataFrame, id_col: str, sigs: Sequence[Column], carry: Sequence[str]
) -> DataFrame:
    return frame.select(
        F.col(id_col).alias("_id"), F.array(*sigs).alias("_sigs"), *carry
    )


def _explode(keyed: DataFrame, carry: Sequence[str]) -> DataFrame:
    return keyed.select("_id", F.posexplode("_sigs").alias("band", "sig"), *carry)


def band_rows(
    frame: DataFrame,
    id_col: str,
    sigs: Sequence[Column],
    carry: Sequence[str] = (),
) -> DataFrame:
    """(_id, band, sig, *carry): one row per (row, band signature); band
    is the signature's position in ``sigs``. Stateless and shuffle-free,
    so it serves streams as well as batch manifests."""
    return _explode(_keyed(frame, id_col, sigs, carry), carry)


def band_pairs(
    frame: DataFrame,
    id_col: str,
    sigs: Sequence[Column],
    carry: Sequence[str] = (),
) -> DataFrame:
    """Distinct candidate pairs (src, dst, *carry_a, *carry_b) with
    src < dst that share at least one band signature.

    The keyed frame — ids, computed band signatures and carried columns —
    is persisted before the self-join: both sides read it, and without
    the cache each side re-runs the upstream sketch (the signature
    aggregation, the perceptual-hash kernel), the dominant cost of every
    caller. The cache is |rows| x bands values, signature-sized at any
    scale; it is pinned to the result (``caching.release(result)`` after
    the final action)."""
    keyed = _keyed(frame, id_col, sigs, carry).persist()
    rows = _explode(keyed, carry)
    out = (
        rows.alias("a")
        .join(rows.alias("b"), ["band", "sig"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("src"),
            F.col("b._id").alias("dst"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )
    return caching.pin(out, keyed)


def one_bit_probes(sig: Column, n_bits: int, prefix_len: int = 0) -> list[Column]:
    """``sig`` followed by its ``n_bits`` one-bit flips. ``sig`` is a
    '0'/'1' string whose first ``prefix_len`` characters are a fixed tag
    (e.g. an LSH table id) that is never flipped; flip i toggles character
    ``prefix_len + i``."""
    flips = []
    for i in range(n_bits):
        pos = prefix_len + i
        flips.append(
            F.concat(
                F.substring(sig, 1, pos),
                F.when(F.substring(sig, pos + 1, 1) == "1", "0").otherwise("1"),
                F.substring(sig, pos + 2, n_bits - i - 1),
            )
        )
    return [sig, *flips]
