"""gents_spark — a PySpark-native time-series rollup + retention engine.

A from-scratch re-expression of the capabilities of AgentOxygen/GenTS
(reference at /root/reference, studied in SURVEY.md) on Spark:

- continuous aggregates (count/sum/min/max/exact percentiles) per
  (source, time bucket)  — GenTS analog: per-group per-slice output
  planning, ``gents/timeseries.py:411-527``
- tiered downsampling raw -> 1m -> 1h -> 1d with retention expiry
  — GenTS analog: year-width slice windows, ``gents/hfcollection.py:903-1005``
- LOCF / linear gap-fill over a generated bucket spine (new vs reference)
- Gorilla XOR + delta-of-delta payload codec in columnar Arrow UDFs
  — GenTS analog: netCDF zlib compression knob, ``gents/timeseries.py:617-658``
- checkpoint + lineage-manifest resume via anti-join
  — GenTS analog: integrity-check skip, ``gents/timeseries.py:136-142``
- chunk-grain co-partitioning that spreads a hot source over its chunks,
  plus sketch percentiles for hot buckets (new vs reference)

Everything is DataFrame/SQL; the only Python execution is vectorized
pandas/Arrow UDFs (codec, multimodal stubs).
"""

__version__ = "0.2.0"

from gents_spark.session import get_spark  # noqa: F401
