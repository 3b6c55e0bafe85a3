"""GeoJSON export for the map layer.

The reference serves binned sample markers to its Leaflet map as JSON
(public path ``bpaotu/otu/views.py`` map endpoints). The distributed
work — filtering + 2-D grid binning — is the ``map_binning_2d``
operator; this writer serializes its bounded cell grid into a standard
GeoJSON ``FeatureCollection`` of cell-center Points (RFC 7946), the
format every web map ingests directly.

The grid is dimension-bounded (lat/lon cells at fixed resolution), so
the features come to the driver in one bounded Arrow collect: at most
``MAX_FEATURES + 1`` rows, and a grid past ``MAX_FEATURES`` raises
:class:`TooManyFeatures` instead of writing a partial map. The driver
sorts the rows by (lat, lon) the way Spark's ascending ``orderBy``
does — nulls first, NaN above every number — so the file is the one a
Spark-side sort would write, without the range-partitioning sort jobs.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

# A 1° grid over the whole globe is 64,800 cells; a map past this many
# markers is an unbinned export, not a grid.
MAX_FEATURES = 100_000


class TooManyFeatures(ValueError):
    """The cell frame holds more than ``MAX_FEATURES`` rows."""


def _spark_order(table: pa.Table, cols: tuple[str, ...]) -> pa.Array:
    """Row indices of ``table`` in Spark's ascending ``orderBy(*cols)``
    order: nulls first, and on floating columns NaN after every number
    (Arrow alone would put NaN with the nulls). The sort is stable."""
    keys = []
    for c in cols:
        if pa.types.is_floating(table.column(c).type):
            # null stays null (sorts first), NaN → True (sorts last)
            table = table.append_column(f"__nan_{c}", pc.is_nan(table.column(c)))
            keys.append((f"__nan_{c}", "ascending"))
        keys.append((c, "ascending"))
    return pc.sort_indices(table, sort_keys=keys, null_placement="at_start")


def write_geojson_points(
    cells: DataFrame,
    path: str,
    lon_col: str,
    lat_col: str,
    property_cols: tuple[str, ...],
) -> int:
    """Serialize a bounded cell/marker DataFrame into a GeoJSON
    FeatureCollection file; returns the feature count."""
    table = cells.select(lon_col, lat_col, *property_cols).limit(MAX_FEATURES + 1).toArrow()
    if table.num_rows > MAX_FEATURES:
        raise TooManyFeatures(
            f"{path}: the cell frame holds more than MAX_FEATURES = {MAX_FEATURES} rows"
        )
    rows = table.take(_spark_order(table, (lat_col, lon_col))).to_pylist()
    with open(path, "w") as f:
        f.write('{"type": "FeatureCollection", "features": [')
        for i, row in enumerate(rows):
            feature = {
                "type": "Feature",
                "geometry": {
                    "type": "Point",
                    "coordinates": [row[lon_col], row[lat_col]],
                },
                "properties": {c: row[c] for c in property_cols},
            }
            if i:
                f.write(", ")
            f.write(json.dumps(feature, sort_keys=True))
        f.write("]}")
    return len(rows)
