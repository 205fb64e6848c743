"""Viz-edge adapters (SURVEY §7.2 step 6; reference lifecycle §3.2).

The reference materializes every query to a client pandas frame
(cursor.fetchall -> pd.DataFrame, ipynb:36-41) and joins geo shapes
client-side with geopandas (ipynb:2678: map_df.set_index('NAME_1')
.join(...)). Here the contract is: ALL relational work happens in the
engine; only the final, already-aggregated result crosses to the
client — via Arrow — and the geo join receives that small frame.

The adapter never imports geopandas: it joins through the pandas API
(``set_index(...).join(...)``), which a geopandas GeoDataFrame also
implements, so the caller's frame type comes back unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def to_pandas(df: DataFrame):
    """Arrow-backed client handoff (S11). Call on AGGREGATED results —
    this is the one deliberate collect point of the engine."""
    return df.toPandas()


def join_geo(
    result: DataFrame,
    geo_frame,
    result_key: str,
    geo_key: str,
    how: str = "left",
):
    """Reference J2 (ipynb:2678,3117,3558): attach query results to a
    client-side geo layer by region name.

    ``geo_frame``: a pandas or geopandas frame already on the driver
    (shapefiles are a client artifact, not engine data). Returns the
    same type as ``geo_frame`` with the result columns attached — ready
    for choropleth rendering.
    """
    pdf = to_pandas(result)
    joined = geo_frame.set_index(geo_key).join(pdf.set_index(result_key), how=how)
    return joined.reset_index()


def color_scale_bounds(result: DataFrame, value_col: str) -> tuple[float, float]:
    """Reference A5 (ipynb:2679): min/max for the choropleth color scale,
    computed IN the engine (one aggregate) instead of on the client."""
    from pyspark.sql import functions as F

    row = result.agg(
        F.min(value_col).alias("mn"), F.max(value_col).alias("mx")
    ).first()
    return (row["mn"], row["mx"])
