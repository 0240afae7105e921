"""Deterministic gazetteer fixture: entity → (lat, lon).

Per FIXTURES.md §2: includes points exactly on country borders and on cell
boundaries (ray-casting tie-break tests) plus invalid coordinates mirroring
`ContributionGeometry.invalid` (`/root/reference/ohsome-contributions/src/
main/java/org/heigit/ohsome/contributions/contrib/
ContributionGeometry.java:193-195` — lon ∉ [-180,180] or lat ∉ [-90,90]).

The first HOT_ENTITIES entries are "mega-cell" hotspots: the pages generator
weights them heavily so a few H3/zxy cells dominate — exercising the salted
two-level aggregation path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (entity, lat, lon) — coordinates sit inside/around the synthetic countries
# in sources/countries.py (lon/lat rectangles etc. in the [0, 40]² area).
GAZETTEER: list[tuple[str, float, float]] = [
    # hot entities first (dense urban hotspots — skew drivers)
    ("Alpha_City", 12.3, 7.6),
    ("Beta_Metro", 12.31, 7.61),
    ("Gamma_Hub", 12.29, 7.59),
    # regular entities spread across countries
    ("Delta_Town", 21.5, 14.2),
    ("Epsilon_Village", 3.3, 3.9),
    ("Zeta_Port", 28.7, 33.1),
    ("Eta_Springs", 35.5, 5.5),
    ("Theta_Falls", 8.8, 26.5),
    ("Iota_Ridge", 17.0, 28.0),
    ("Kappa_Bay", 5.0, 15.0),
    ("Lambda_Mesa", 30.0, 12.0),
    ("Mu_Crossing", 25.0, 25.0),
    ("Nu_Heights", 14.5, 21.0),
    ("Xi_Harbor", 2.0, 36.0),
    ("Omicron_Flats", 38.0, 20.0),
    ("Pi_Junction", 10.0, 10.0),  # exactly on AAA/BBB shared border (lon=10)
    ("Rho_Corner", 20.0, 20.0),  # exactly on a country corner
    ("Sigma_Edge", 0.0, 22.5),  # on zxy cell boundary (lat=0)
    ("Tau_Meridian", 15.0, 0.0),  # on lon=0 cell boundary
    ("Upsilon_Isle", -40.0, -60.0),  # in no country (ocean)
    ("Phi_Outpost", -75.0, 150.0),  # in no country
    ("Chi_Nowhere", 95.0, 10.0),  # INVALID lat (>90)
    ("Psi_Void", 10.0, 185.0),  # INVALID lon (>180)
    ("Omega_Anchor", 6.5, 6.5),  # inside the hole of CCC's donut → not in CCC
]

HOT_ENTITIES = 3  # first K entities receive ~60% of all mentions


def gazetteer_rows() -> list[tuple[str, float, float]]:
    return list(GAZETTEER)


def gazetteer_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(GAZETTEER, "entity string, lat double, lon double")
