"""gridfia_spark — a from-scratch PySpark-native spatial-join + tiling engine
with the query capabilities of mihiarc/gridfia (see SURVEY.md)."""

from gridfia_spark import zipcache  # noqa: F401  (installs the zip-directory guard)

__version__ = "0.1.0"
