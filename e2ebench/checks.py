"""Output checks, run on every unit's written output (outside the timed
region). Each returns a list of error strings; empty means the unit passed."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

#: the 16-column match table of operators.exact.MATCH_COLUMNS, with the
#: types the pipeline writes
MATCH_SCHEMA = [
    ("ADDRESS_ID_SPR", pa.string()),
    ("STREET_NAME_SPR", pa.string()),
    ("HOUSE_SPR", pa.string()),
    ("BUILDING_SPR", pa.string()),
    ("FULL_ADDRESS_SPR", pa.string()),
    ("ADDRESS_ID_CAD", pa.string()),
    ("STREET_NAME_CAD", pa.string()),
    ("HOUSE_CAD", pa.string()),
    ("BUILDING_CAD", pa.string()),
    ("FULL_ADDRESS_CAD", pa.string()),
    ("MATCH_SCORE", pa.float64()),
    ("MATCH_TYPE", pa.string()),
    ("CANDIDATES_COUNT", pa.int32()),
    ("COMPLETENESS_SPR", pa.float64()),
    ("COMPLETENESS_CAD", pa.float64()),
    ("MATCH_TIMESTAMP", pa.timestamp("ns")),
]


def match_errors(table: pa.Table) -> list[str]:
    """Schema, no duplicated (SPR, CAD) pair, fuzzy top-1 per probe row."""
    errors = []
    got = [(f.name, f.type) for f in table.schema]
    if got != MATCH_SCHEMA:
        errors.append(f"match schema {got} != {MATCH_SCHEMA}")
        return errors
    df = table.select(["ADDRESS_ID_SPR", "ADDRESS_ID_CAD", "MATCH_TYPE"]).to_pandas()
    dup = df.duplicated(["ADDRESS_ID_SPR", "ADDRESS_ID_CAD"]).sum()
    if dup:
        errors.append(f"{dup} duplicated (SPR, CAD) pairs")
    fuzzy = df["MATCH_TYPE"].str.startswith("FUZZY_")
    multi = df.loc[fuzzy, "ADDRESS_ID_SPR"].duplicated().sum()
    if multi:
        errors.append(f"{multi} probe rows with more than one fuzzy match")
    both = set(df.loc[fuzzy, "ADDRESS_ID_SPR"]) & set(df.loc[~fuzzy, "ADDRESS_ID_SPR"])
    if both:
        errors.append(f"{len(both)} probe rows matched both exactly and fuzzily")
    return errors


def pair_f1(predicted: set, positives: set) -> float:
    """Pairwise F1 of predicted (SPR, CAD) pairs against labeled positives."""
    tp = len(predicted & positives)
    denom = 2 * tp + len(predicted - positives) + len(positives - predicted)
    return 2 * tp / denom if denom else 1.0


def cluster_errors(clusters: pa.Table, matches: pa.Table) -> list[str]:
    """Each node once; both ends of every match in one component; nodes
    are exactly the matched ids."""
    c = clusters.select(["node", "component"]).to_pandas()
    errors = []
    if c["node"].duplicated().any():
        errors.append("a node appears in more than one cluster row")
    comp = dict(zip(c["node"], c["component"]))
    m = matches.select(["ADDRESS_ID_SPR", "ADDRESS_ID_CAD"]).to_pandas()
    spr = "S:" + m["ADDRESS_ID_SPR"]
    cad = "C:" + m["ADDRESS_ID_CAD"]
    split = sum(comp.get(a) != comp.get(b) for a, b in zip(spr, cad))
    if split:
        errors.append(f"{split} matched pairs split across clusters")
    if set(comp) != set(spr) | set(cad):
        errors.append("cluster nodes differ from the matched ids")
    return errors


def comparable(table: pa.Table, row_of) -> list[tuple]:
    """Rows with the probe id replaced by its row index and the per-query
    timestamp dropped, sorted — equal across id prefixes iff the matches are."""
    df = table.drop(["MATCH_TIMESTAMP"]).to_pandas()
    df["ADDRESS_ID_SPR"] = [row_of(v) for v in df["ADDRESS_ID_SPR"]]
    return sorted(map(tuple, df.astype(object).where(pd.notna(df), None).values.tolist()))
