"""Seeded input generation for the benchmark workloads.

Runs without Spark: the package's ``synth`` generators only use the
session to wrap pandas frames, so a stub hands the frames straight back
and they are written as parquet. The measured program later receives
only these files. Same seed, same bytes.

Each generator returns a ``facts`` dict describing the input it wrote
(rows and distinct normalized streets per side, the vocabulary product
and the scoring tier it selects, block-pair counts).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from registry_address_matcher_spark.functions.normalize import normalize_py
from registry_address_matcher_spark.synth import (
    _corrupt_street,
    _street,
    make_registry_pair,
)

#: registry_batch rows per side
REGISTRY_ROWS = 4000
#: probe_stream build side: distinct streets, houses per street range
TOWN_STREETS = 250
TOWN_HOUSES = (10, 70)
#: probe_stream rows per probe file
PROBE_ROWS = 150
#: share of probe rows that are corrupted copies of a build-side row
PROBE_DUP_RATE = 0.85

#: tier thresholds of operators.fuzzy (ScaleConfig.scoring_dedup_max_pairs
#: and _DRIVER_SCORE_MAX_PAIRS), restated to label the inputs
_DIRECT_ABOVE = 500_000
_DRIVER_AT_MOST = 50_000

PROBE_SCHEMA = "ADDRESS_ID string, STREET_NAME string, HOUSE string, BUILDING string"


class _FrameSession:
    """Stands in for a SparkSession in ``synth``: frames pass through."""

    @staticmethod
    def createDataFrame(pdf, *_args, **_kwargs):
        return pdf


def _tier(product: int) -> str:
    if product > _DIRECT_ABOVE:
        return "direct"
    if product > _DRIVER_AT_MOST:
        return "spark"
    return "driver"


def _norm_streets(df: pd.DataFrame) -> set[str]:
    return {s for s in (normalize_py(v) for v in df["STREET_NAME"]) if s}


def _block_pairs(spr: pd.DataFrame, cad: pd.DataFrame) -> int:
    """Sum over (house, building) blocks of |spr| x |cad| on normalized keys."""

    def keyed(df):
        return df.assign(
            h=[normalize_py(v) for v in df["HOUSE"]],
            b=[normalize_py(v) for v in df["BUILDING"]],
        ).query("h != ''").groupby(["h", "b"]).size()

    a, b = keyed(spr), keyed(cad)
    both = a.index.intersection(b.index)
    return int((a[both] * b[both]).sum())


def registry_batch(out: str, seed: int) -> dict:
    """SPR/CAD pair with one distinct street per base entity."""
    spr, cad, labels = make_registry_pair(_FrameSession(), n_base=REGISTRY_ROWS, seed=seed)
    os.makedirs(out, exist_ok=True)
    spr.to_parquet(os.path.join(out, "spr.parquet"), index=False)
    cad.to_parquet(os.path.join(out, "cad.parquet"), index=False)
    labels.to_parquet(os.path.join(out, "labels.parquet"), index=False)
    va, vb = _norm_streets(spr), _norm_streets(cad)
    return {
        "rows_spr": len(spr),
        "rows_cad": len(cad),
        "streets_spr": len(va),
        "streets_cad": len(vb),
        "vocab_product": len(va) * len(vb),
        "tier": _tier(len(va) * len(vb)),
        "block_pairs": _block_pairs(spr, cad),
    }


def _town(rng: np.random.RandomState) -> pd.DataFrame:
    streets: list[str] = []
    seen: set[str] = set()
    while len(streets) < TOWN_STREETS:
        s = _street(rng)
        if s not in seen and normalize_py(s) not in seen:
            seen.update((s, normalize_py(s)))
            streets.append(s)
    rows = []
    for street in streets:
        for house in range(1, rng.randint(*TOWN_HOUSES) + 1):
            building = "" if rng.rand() < 0.8 else str(rng.randint(1, 4))
            rows.append((street, str(house), building))
    return pd.DataFrame(
        [
            {"ADDRESS_ID": f"CAD{i:06d}", "STREET_NAME": s, "HOUSE": h, "BUILDING": b}
            for i, (s, h, b) in enumerate(rows)
        ]
    ).astype(object)


def _probe_base(rng: np.random.RandomState, cad: pd.DataFrame) -> tuple[list[dict], list[tuple[int, str]]]:
    """PROBE_ROWS probe rows (without ids) and their (row, CAD id) labels:
    corrupted copies of random build rows, the rest unrelated streets at
    an existing house/building (negatives)."""
    rows, labels = [], []
    for j in range(PROBE_ROWS):
        c = cad.iloc[rng.randint(len(cad))]
        house = c["HOUSE"] if rng.rand() < 0.8 else f" {c['HOUSE']}."
        if rng.rand() < PROBE_DUP_RATE:
            street = _corrupt_street(rng, c["STREET_NAME"], rng.randint(0, 7))
            labels.append((j, c["ADDRESS_ID"]))
        else:
            street = _street(rng)
        rows.append({"STREET_NAME": street, "HOUSE": house, "BUILDING": c["BUILDING"]})
    return rows, labels


def probe_id(prefix: str, j: int) -> str:
    return f"{prefix}_{j:04d}"


def probe_row(address_id: str) -> int:
    """Row index of a probe id within its file (ids differ per file only
    by prefix, so every file carries the same rows)."""
    return int(address_id.rsplit("_", 1)[1])


def probe_frame(base: list[dict], prefix: str) -> pd.DataFrame:
    return pd.DataFrame(
        [{"ADDRESS_ID": probe_id(prefix, j), **r} for j, r in enumerate(base)]
    )[["ADDRESS_ID", "STREET_NAME", "HOUSE", "BUILDING"]].astype(object)


def probe_stream(out: str, seed: int, n_files: int) -> dict:
    """Town cadastre plus ``n_files`` probe files.

    Every probe file holds the same PROBE_ROWS rows under its own id
    prefix, so each micro-batch does the same work and has the same
    expected matches; ``reference.parquet`` holds them under prefix ``R``
    for the one-batch equivalence run."""
    rng = np.random.RandomState(seed)
    cad = _town(rng)
    base, labels = _probe_base(rng, cad)
    os.makedirs(os.path.join(out, "stage"), exist_ok=True)
    cad.to_parquet(os.path.join(out, "cad.parquet"), index=False)
    pd.DataFrame(labels, columns=["row", "cad_id"]).to_parquet(
        os.path.join(out, "labels.parquet"), index=False
    )
    probe_frame(base, "R").to_parquet(os.path.join(out, "reference.parquet"), index=False)
    for k in range(n_files):
        probe_frame(base, f"P{k:05d}").to_parquet(
            os.path.join(out, "stage", f"probe-{k:05d}.parquet"), index=False
        )
    probe = probe_frame(base, "R")
    va, vb = _norm_streets(probe), _norm_streets(cad)
    return {
        "rows_spr": len(probe),
        "rows_cad": len(cad),
        "streets_spr": len(va),
        "streets_cad": len(vb),
        "vocab_product": len(va) * len(vb),
        "tier": _tier(len(va) * len(vb)),
        "block_pairs": _block_pairs(probe, cad),
        "probe_files": n_files,
    }
