"""Closed-form coordinate transforms (pure numpy — no GDAL/proj).

The reference reprojects CRS-mismatched pairs through a ``WarpedVRT``
(``/root/reference/homonim/utils.py:190-209``) and tests WGS84-vs-projected
fixtures (``/root/reference/tests/conftest.py:377-517``).  This module gives
the engine's ingest regrid the same capability for the common public CRSs
without GDAL: geographic WGS84 (EPSG:4326), spherical Web-Mercator
(EPSG:3857), ellipsoidal UTM (EPSG:326xx/327xx, Transverse Mercator via
the 6th-order Krüger series — the standard closed-form used by every
GeographicLib-derived implementation; max error well under 1 mm inside a
zone), and the MODIS sinusoidal grid (the reference tutorial's MODIS↔UTM
pairing).

All functions are vectorized over numpy arrays; everything pivots through
lon/lat degrees.  Axis convention follows the affine-transform convention
already used by ``operators.ingest``: (x, y) = (easting/lon, northing/lat).
"""

from __future__ import annotations

import numpy as np

# WGS84 ellipsoid
_A = 6378137.0
_F = 1.0 / 298.257223563
_E2 = _F * (2 - _F)

# Web-Mercator sphere radius (EPSG:3857 uses the semi-major axis)
_R = 6378137.0

# MODIS sinusoidal sphere radius (the SR-ORG:6974 / "+proj=sinu
# +R=6371007.181" authalic sphere used by every MODIS land product)
_R_SINU = 6371007.181

# --- Krüger series coefficients (3rd flattening n, 6th order) ---------------
_N = _F / (2 - _F)
_N2, _N3, _N4, _N5, _N6 = _N**2, _N**3, _N**4, _N**5, _N**6

# rectifying radius
_A1 = _A / (1 + _N) * (1 + _N2 / 4 + _N4 / 64 + _N6 / 256)

# forward (geographic → TM) alpha and reverse beta coefficients
_ALPHA = [
    _N / 2 - 2 * _N2 / 3 + 5 * _N3 / 16 + 41 * _N4 / 180 - 127 * _N5 / 288
    + 7891 * _N6 / 37800,
    13 * _N2 / 48 - 3 * _N3 / 5 + 557 * _N4 / 1440 + 281 * _N5 / 630
    - 1983433 * _N6 / 1935360,
    61 * _N3 / 240 - 103 * _N4 / 140 + 15061 * _N5 / 26880
    + 167603 * _N6 / 181440,
    49561 * _N4 / 161280 - 179 * _N5 / 168 + 6601661 * _N6 / 7257600,
    34729 * _N5 / 80640 - 3418889 * _N6 / 1995840,
    212378941 * _N6 / 319334400,
]
_BETA = [
    _N / 2 - 2 * _N2 / 3 + 37 * _N3 / 96 - _N4 / 360 - 81 * _N5 / 512
    + 96199 * _N6 / 604800,
    _N2 / 48 + _N3 / 15 - 437 * _N4 / 1440 + 46 * _N5 / 105
    - 1118711 * _N6 / 3870720,
    17 * _N3 / 480 - 37 * _N4 / 840 - 209 * _N5 / 4480 + 5569 * _N6 / 90720,
    4397 * _N4 / 161280 - 11 * _N5 / 504 - 830251 * _N6 / 7257600,
    4583 * _N5 / 161280 - 108847 * _N6 / 3991680,
    20648693 * _N6 / 638668800,
]

_K0 = 0.9996            # UTM central-meridian scale
_FE = 500000.0          # false easting
_FN_S = 10000000.0      # false northing (southern hemisphere)


def lonlat_to_webmercator(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = _R * np.radians(lon)
    y = _R * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    return x, y


def webmercator_to_lonlat(x, y):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / _R)
    lat = np.degrees(2 * np.arctan(np.exp(y / _R)) - np.pi / 2)
    return lon, lat


def lonlat_to_utm(lon, lat, zone: int, south: bool = False):
    """Ellipsoidal transverse Mercator (Krüger series) — EPSG:326{zone} /
    327{zone}."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam0 = np.radians(zone * 6.0 - 183.0)
    phi = np.radians(lat)
    lam = np.radians(lon) - lam0

    # conformal latitude
    e = np.sqrt(_E2)
    t = np.sinh(np.arctanh(np.sin(phi)) - e * np.arctanh(e * np.sin(phi)))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))

    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xi = xi + a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta = eta + a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)

    x = _FE + _K0 * _A1 * eta
    y = _K0 * _A1 * xi + (_FN_S if south else 0.0)
    return x, y


def utm_to_lonlat(x, y, zone: int, south: bool = False):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lam0 = np.radians(zone * 6.0 - 183.0)
    xi = (y - (_FN_S if south else 0.0)) / (_K0 * _A1)
    eta = (x - _FE) / (_K0 * _A1)

    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xi_p = xi_p - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p = eta_p - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)

    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))  # conformal latitude
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))

    # conformal → geographic latitude by fixed-point (converges ~4 iters)
    e = np.sqrt(_E2)
    phi = chi.copy()
    for _ in range(6):
        phi = np.arcsin(np.tanh(
            np.arctanh(np.sin(chi)) + e * np.arctanh(e * np.sin(phi))))
    return np.degrees(lam + lam0), np.degrees(phi)


def lonlat_to_sinusoidal(lon, lat):
    """Spherical sinusoidal (MODIS grid): x = R·λ·cosφ, y = R·φ — the CRS
    of the reference tutorial's MODIS NBAR reference imagery (paired there
    with UTM aerial source via a WarpedVRT, ``utils.py:190-209``)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    phi = np.radians(lat)
    x = _R_SINU * np.radians(lon) * np.cos(phi)
    y = _R_SINU * phi
    return x, y


def sinusoidal_to_lonlat(x, y):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    phi = y / _R_SINU
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = x / (_R_SINU * np.cos(phi))
    return np.degrees(lam), np.degrees(phi)


def _lcc_consts(a, f, lat1, lat2, lat0):
    """Snyder ellipsoidal LCC-2SP projection constants (n, F, ρ0/a)."""
    e = np.sqrt(f * (2 - f))

    def m(phi):
        s = np.sin(phi)
        return np.cos(phi) / np.sqrt(1 - e * e * s * s)

    def t(phi):
        s = np.sin(phi)
        return (np.tan(np.pi / 4 - phi / 2)
                / ((1 - e * s) / (1 + e * s)) ** (e / 2))

    p1, p2, p0 = np.radians([lat1, lat2, lat0])
    n = (np.log(m(p1)) - np.log(m(p2))) / (np.log(t(p1)) - np.log(t(p2)))
    F_ = m(p1) / (n * t(p1) ** n)
    return e, n, F_, F_ * t(p0) ** n, t


# Lambert Conformal Conic 2SP national grids with closed-form support:
# EPSG → (a, f, lat1, lat2, lat0, lon0, false_easting, false_northing).
# Both use GRS80 (a = WGS84 semi-major; f differs in the 10th digit).
_GRS80_F = 1.0 / 298.257222101
_LCC = {
    2154: (_A, _GRS80_F, 49.0, 44.0, 46.5, 3.0, 700000.0, 6600000.0),
    # RGF93 / Lambert-93 (France)
    3978: (_A, _GRS80_F, 49.0, 77.0, 49.0, -95.0, 0.0, 0.0),
    # NAD83 / Canada Atlas Lambert
}


def lonlat_to_lcc(lon, lat, epsg: int):
    """Ellipsoidal Lambert Conformal Conic 2SP forward (Snyder 15-1..15-10):
    ρ = a·F·t(φ)ⁿ, x = FE + ρ·sin(n·Δλ), y = FN + ρ0 − ρ·cos(n·Δλ)."""
    a, f, lat1, lat2, lat0, lon0, fe, fn = _LCC[epsg]
    e, n, F_, rho0_a, t = _lcc_consts(a, f, lat1, lat2, lat0)
    lon = np.asarray(lon, np.float64)
    phi = np.radians(np.asarray(lat, np.float64))
    rho = a * F_ * t(phi) ** n
    th = n * np.radians(lon - lon0)
    return fe + rho * np.sin(th), fn + a * rho0_a - rho * np.cos(th)


def lcc_to_lonlat(x, y, epsg: int):
    """Inverse LCC-2SP: ρ′/θ from (x, y), then φ by the standard fixed-point
    iteration on t′ (converges to double precision in < 10 rounds)."""
    a, f, lat1, lat2, lat0, lon0, fe, fn = _LCC[epsg]
    e, n, F_, rho0_a, _t = _lcc_consts(a, f, lat1, lat2, lat0)
    dx = np.asarray(x, np.float64) - fe
    dy = a * rho0_a - (np.asarray(y, np.float64) - fn)
    rho = np.sign(n) * np.hypot(dx, dy)
    theta = np.arctan2(np.sign(n) * dx, np.sign(n) * dy)
    tp = (rho / (a * F_)) ** (1.0 / n)
    phi = np.pi / 2 - 2 * np.arctan(tp)
    for _ in range(10):
        s = e * np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(
            tp * ((1 - s) / (1 + s)) ** (e / 2))
    return np.degrees(theta / n) + lon0, np.degrees(phi)


# Albers equal-area conic 2SP grids:
# EPSG → (a, f, lat1, lat2, lat0, lon0, false_easting, false_northing).
_AEA = {
    5070: (_A, _GRS80_F, 29.5, 45.5, 23.0, -96.0, 0.0, 0.0),
    # NAD83 / Conus Albers (the USGS national analysis grid)
}


def _aea_consts(a, f, lat1, lat2, lat0):
    """Snyder ellipsoidal Albers constants (e, n, C, ρ0/a, q(φ))."""
    e2 = f * (2 - f)
    e = np.sqrt(e2)

    def q(phi):
        s = np.sin(phi)
        return (1 - e2) * (s / (1 - e2 * s * s)
                           - np.log((1 - e * s) / (1 + e * s)) / (2 * e))

    def m(phi):
        s = np.sin(phi)
        return np.cos(phi) / np.sqrt(1 - e2 * s * s)

    p1, p2, p0 = np.radians([lat1, lat2, lat0])
    n = (m(p1) ** 2 - m(p2) ** 2) / (q(p2) - q(p1))
    C = m(p1) ** 2 + n * q(p1)
    return e, e2, n, C, np.sqrt(C - n * q(p0)) / n, q


def lonlat_to_albers(lon, lat, epsg: int):
    """Ellipsoidal Albers equal-area conic 2SP forward (Snyder 14-1..14-4):
    ρ = a·sqrt(C − n·q(φ))/n, θ = n·Δλ."""
    a, f, lat1, lat2, lat0, lon0, fe, fn = _AEA[epsg]
    e, e2, n, C, rho0_a, q = _aea_consts(a, f, lat1, lat2, lat0)
    lon = np.asarray(lon, np.float64)
    phi = np.radians(np.asarray(lat, np.float64))
    rho = a * np.sqrt(C - n * q(phi)) / n
    th = n * np.radians(lon - lon0)
    return fe + rho * np.sin(th), fn + a * rho0_a - rho * np.cos(th)


def albers_to_lonlat(x, y, epsg: int):
    """Inverse Albers: q from ρ, then φ by Snyder's 3-4 fixed-point
    iteration (converges to double precision in < 10 rounds)."""
    a, f, lat1, lat2, lat0, lon0, fe, fn = _AEA[epsg]
    e, e2, n, C, rho0_a, _q = _aea_consts(a, f, lat1, lat2, lat0)
    dx = np.asarray(x, np.float64) - fe
    dy = a * rho0_a - (np.asarray(y, np.float64) - fn)
    rho = np.hypot(dx, dy)
    theta = np.arctan2(np.sign(n) * dx, np.sign(n) * dy)
    qv = (C - (rho * n / a) ** 2) / n
    phi = np.arcsin(np.clip(qv / 2, -1, 1))
    for _ in range(10):
        s = np.sin(phi)
        e_s = e * s
        phi = phi + (1 - e2 * s * s) ** 2 / (2 * np.cos(phi)) * (
            qv / (1 - e2) - s / (1 - e2 * s * s)
            + np.log((1 - e_s) / (1 + e_s)) / (2 * e))
    return np.degrees(theta / n) + lon0, np.degrees(phi)


# Polar stereographic grids (ellipsoidal, variant B — standard parallel):
# EPSG → (south?, lat_ts, lon0, false_easting, false_northing).  WGS84.
_PS = {
    3413: (False, 70.0, -45.0, 0.0, 0.0),   # NSIDC Sea Ice Polar North
    3031: (True, -71.0, 0.0, 0.0, 0.0),     # Antarctic Polar Stereographic
}
_E = np.sqrt(_E2)


def _ps_t(phi):
    s = np.sin(phi)
    return (np.tan(np.pi / 4 - phi / 2)
            / ((1 - _E * s) / (1 + _E * s)) ** (_E / 2))


def _ps_consts(lat_ts):
    pc = np.radians(abs(lat_ts))
    s = np.sin(pc)
    m_c = np.cos(pc) / np.sqrt(1 - _E2 * s * s)
    return m_c, _ps_t(pc)


def lonlat_to_polar_stereo(lon, lat, epsg: int):
    """Ellipsoidal polar stereographic, standard-parallel variant (Snyder
    21-34..21-41): ρ = a·m_c·t(φ)/t_c; the south aspect mirrors φ and the
    y axis."""
    south, lat_ts, lon0, fe, fn = _PS[epsg]
    m_c, t_c = _ps_consts(lat_ts)
    lon = np.asarray(lon, np.float64)
    phi = np.radians(np.asarray(lat, np.float64))
    if south:
        phi = -phi
    rho = _A * m_c * _ps_t(phi) / t_c
    th = np.radians(lon - lon0)
    x = fe + rho * np.sin(th)
    y = (fn + rho * np.cos(th)) if south else (fn - rho * np.cos(th))
    return x, y


def polar_stereo_to_lonlat(x, y, epsg: int):
    south, lat_ts, lon0, fe, fn = _PS[epsg]
    m_c, t_c = _ps_consts(lat_ts)
    dx = np.asarray(x, np.float64) - fe
    dy = np.asarray(y, np.float64) - fn
    rho = np.hypot(dx, dy)
    tp = rho * t_c / (_A * m_c)
    phi = np.pi / 2 - 2 * np.arctan(tp)
    for _ in range(10):
        s = _E * np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(tp * ((1 - s) / (1 + s)) ** (_E / 2))
    lam = np.arctan2(dx, dy) if south else np.arctan2(dx, -dy)
    if south:
        phi = -phi
    return np.degrees(lam) + lon0, np.degrees(phi)


def _parse(crs: str):
    c = crs.upper().replace(" ", "")
    if c in ("EPSG:4326", "WGS84", "CRS:84"):
        return ("lonlat",)
    if c in ("EPSG:3857", "EPSG:900913"):
        return ("webmerc",)
    if c.startswith("EPSG:326") and len(c) == 10:
        return ("utm", int(c[8:]), False)
    if c.startswith("EPSG:327") and len(c) == 10:
        return ("utm", int(c[8:]), True)
    if c in ("SINUSOIDAL", "SR-ORG:6974", "ESRI:54008", "MODIS"):
        return ("sinu",)
    if c.startswith("EPSG:") and c[5:].isdigit() and int(c[5:]) in _LCC:
        return ("lcc", int(c[5:]))
    if c.startswith("EPSG:") and c[5:].isdigit() and int(c[5:]) in _PS:
        return ("ps", int(c[5:]))
    if c.startswith("EPSG:") and c[5:].isdigit() and int(c[5:]) in _AEA:
        return ("aea", int(c[5:]))
    raise ValueError(
        f"unsupported CRS {crs!r}: closed-form transforms cover EPSG:4326, "
        "EPSG:3857, UTM EPSG:326xx/327xx, the MODIS sinusoidal grid and "
        f"LCC-2SP grids {sorted(_LCC)} (anything else needs a pre-warped "
        "input, like the reference's WarpedVRT)")


def to_lonlat(crs: str, x, y):
    kind = _parse(crs)
    if kind[0] == "lonlat":
        return np.asarray(x, np.float64), np.asarray(y, np.float64)
    if kind[0] == "webmerc":
        return webmercator_to_lonlat(x, y)
    if kind[0] == "sinu":
        return sinusoidal_to_lonlat(x, y)
    if kind[0] == "lcc":
        return lcc_to_lonlat(x, y, kind[1])
    if kind[0] == "ps":
        return polar_stereo_to_lonlat(x, y, kind[1])
    if kind[0] == "aea":
        return albers_to_lonlat(x, y, kind[1])
    return utm_to_lonlat(x, y, kind[1], kind[2])


def from_lonlat(crs: str, lon, lat):
    kind = _parse(crs)
    if kind[0] == "lonlat":
        return np.asarray(lon, np.float64), np.asarray(lat, np.float64)
    if kind[0] == "webmerc":
        return lonlat_to_webmercator(lon, lat)
    if kind[0] == "sinu":
        return lonlat_to_sinusoidal(lon, lat)
    if kind[0] == "lcc":
        return lonlat_to_lcc(lon, lat, kind[1])
    if kind[0] == "ps":
        return lonlat_to_polar_stereo(lon, lat, kind[1])
    if kind[0] == "aea":
        return lonlat_to_albers(lon, lat, kind[1])
    return lonlat_to_utm(lon, lat, kind[1], kind[2])


def transform_points(src_crs: str, dst_crs: str, x, y):
    """(x, y) in ``src_crs`` → (x, y) in ``dst_crs``, pivoting via lon/lat."""
    if src_crs == dst_crs:
        return np.asarray(x, np.float64), np.asarray(y, np.float64)
    lon, lat = to_lonlat(src_crs, x, y)
    return from_lonlat(dst_crs, lon, lat)
