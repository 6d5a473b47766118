"""Spectral band matching (J2-J4).

Replicates the reference's ``MatchedPairReader._match_pair_bands``
(``/root/reference/homonim/matched_pair.py:224-341``): greedy min-cost
assignment of source to reference bands on *relative* center-wavelength
distance (threshold 0.1, ``matched_pair.py:36``), positional fallback when
counts match, truncation under ``force``, and RGB wavelength imputation from
colorinterp (``matched_pair.py:148-174``).

Band metadata is metadata-scale (tens of rows), so — like the reference —
the greedy core runs as driver-side numpy on collected metadata; the result
is a tiny plan-time mapping that downstream joins broadcast.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np
import pandas as pd

from homonim_spark.enums import BandMatchError

#: max relative center-wavelength distance for an auto-match
#: (reference ``matched_pair.py:36``)
MAX_REL_WAVELENGTH_DIFF = 0.1

#: standard R/G/B center wavelengths imputed from colorinterp
#: (reference ``matched_pair.py:148-174``)
RGB_CENTER_WAVELENGTHS = {"red": 0.650, "green": 0.560, "blue": 0.480}

ALPHA_NAMES = {"alpha"}
NON_DATA_SUFFIXES = ("_MASK", "_DIST")  # geedim masks (matched_pair.py:101-107)


def impute_wavelengths(
    wavelengths: List[Optional[float]], colorinterp: List[Optional[str]]
) -> List[Optional[float]]:
    """J4: fill missing center wavelengths from colorinterp; if nothing is
    tagged and there are exactly 3 bands, assume RGB order
    (``matched_pair.py:148-174``)."""
    out = list(wavelengths)
    for i, (wl, ci) in enumerate(zip(out, colorinterp)):
        if wl is None and ci and ci.lower() in RGB_CENTER_WAVELENGTHS:
            out[i] = RGB_CENTER_WAVELENGTHS[ci.lower()]
    if all(v is None for v in out) and len(out) == 3:
        out = [RGB_CENTER_WAVELENGTHS[c] for c in ("red", "green", "blue")]
    return out


def greedy_match(dist: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Greedy min-cost assignment: repeatedly take the globally smallest
    remaining (src, ref) distance, retiring its row and column — numerically
    identical to the reference's masked-argmin loop
    (``matched_pair.py:252-279``).

    Returns (match_dist, match_idx): per src band, the matched ref index and
    its distance (NaN = unmatched).
    """
    n_src = dist.shape[0]
    match_idx = np.full(n_src, np.nan)
    match_dist = np.full(n_src, np.nan)
    d = np.ma.array(dist, mask=np.isnan(dist))
    while not d.mask.all():
        min_dist = d.min(axis=1)
        row = int(np.ma.argmin(min_dist))
        col = int(np.ma.argmin(d[row, :]))
        match_idx[row] = col
        match_dist[row] = float(min_dist[row])
        d[:, col] = np.ma.masked
        d[row, :] = np.ma.masked
    return match_dist, match_idx


def filter_data_bands(bands: pd.DataFrame) -> pd.DataFrame:
    """E6: drop alpha and geedim mask/dist bands
    (``utils.py:255-270``, ``matched_pair.py:101-107``)."""
    def keep(row) -> bool:
        name = (row.get("name") or "")
        ci = (row.get("colorinterp") or "")
        return ci.lower() not in ALPHA_NAMES and not name.endswith(NON_DATA_SUFFIXES)

    return bands[bands.apply(keep, axis=1)].reset_index(drop=True)


def match_bands(
    src_bands: pd.DataFrame,
    ref_bands: pd.DataFrame,
    force: bool = False,
) -> pd.DataFrame:
    """J2/J3: match source to reference bands.

    Input frames carry columns ``band`` (int index), and optionally ``name``,
    ``colorinterp``, ``center_wavelength``.  Returns a mapping DataFrame
    ``(src_band, ref_band, match_dist)``.

    Semantics follow ``matched_pair.py:224-341``: wavelength greedy match
    (skipped under ``force``), error if a match exceeds the 0.1 relative
    threshold, positional fallback for unmatched bands when counts agree,
    first-N truncation under ``force``, error otherwise.
    """
    src_bands = filter_data_bands(src_bands.copy())
    ref_bands = filter_data_bands(ref_bands.copy())

    if len(src_bands) > len(ref_bands) and not force:
        raise BandMatchError("reference has fewer bands than source")

    for df in (src_bands, ref_bands):
        if "center_wavelength" not in df:
            df["center_wavelength"] = None
        if "colorinterp" not in df:
            df["colorinterp"] = None
        df["center_wavelength"] = impute_wavelengths(
            list(df["center_wavelength"]), list(df["colorinterp"])
        )

    src_wl = np.array([np.nan if v is None else float(v) for v in src_bands["center_wavelength"]])
    ref_wl = np.array([np.nan if v is None else float(v) for v in ref_bands["center_wavelength"]])

    n_src = len(src_bands)
    match_ref = np.full(n_src, np.nan)
    match_dist = np.full(n_src, np.nan)

    if (~np.isnan(src_wl)).any() and (~np.isnan(ref_wl)).any() and not force:
        abs_dist = np.abs(src_wl[:, None] - ref_wl[None, :])
        rel_dist = abs_dist / src_wl[:, None]
        match_dist, match_idx = greedy_match(rel_dist)
        over = match_dist > MAX_REL_WAVELENGTH_DIFF
        if over.any():
            raise BandMatchError(
                f"bands {list(np.where(over)[0])} could not be auto-matched within "
                f"{MAX_REL_WAVELENGTH_DIFF} relative wavelength distance"
            )
        ok = ~np.isnan(match_idx)
        match_ref[ok] = match_idx[ok]

    if np.isnan(match_ref).sum() > max(0, n_src - min(n_src, len(ref_bands))) or (
        np.isnan(match_ref).any()
    ):
        unmatched = np.isnan(match_ref)
        used = set(int(v) for v in match_ref[~unmatched])
        free_ref = [i for i in range(len(ref_bands)) if i not in used]
        if n_src == len(ref_bands):
            for i, ri in zip(np.where(unmatched)[0], free_ref):
                match_ref[i] = ri
        elif force:
            for i, ri in zip(np.where(unmatched)[0], free_ref[: unmatched.sum()]):
                match_ref[i] = ri
        elif unmatched.any():
            raise BandMatchError(
                "could not match bands: counts differ, wavelength metadata "
                "missing, and force=False"
            )

    ok = ~np.isnan(match_ref)
    return pd.DataFrame({
        "src_band": src_bands.loc[ok, "band"].astype(int).values,
        "ref_band": ref_bands.iloc[match_ref[ok].astype(int)]["band"].astype(int).values,
        "match_dist": match_dist[ok],
    })
