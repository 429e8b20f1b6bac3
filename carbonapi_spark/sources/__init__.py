"""Series storage: the Parquet lake replacing the reference's zipper layer,
plus projections of the driver testdata into series form."""

from carbonapi_spark.sources.lake import SeriesLake, tags_sql
from carbonapi_spark.sources.testdata import events_series_lake, load_tables

__all__ = ["SeriesLake", "tags_sql", "events_series_lake", "load_tables"]
