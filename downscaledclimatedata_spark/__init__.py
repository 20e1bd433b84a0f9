"""downscaledclimatedata_spark — a PySpark-native analytics engine.

A from-scratch engine with the query and data-processing capabilities of
the reference climate-data pipeline (atmsillinois/DownscaledClimateData):
discovery -> manifest, incremental ingest with cursor + idempotency,
format conversion, catalog construction, plus the relational operator
surface and large-scale training-data-pipeline operators (dedup,
similarity search, text analysis) expressed as DataFrame ops over
Parquet.

Design rules (see SURVEY.md §4/§7):
- declarative DataFrame/SQL plans; Catalyst does pushdown/pruning/broadcast
- UDFs only for genuine I/O (download/decode); everything else native exprs
- every operator designed to be checkable against a DuckDB oracle
"""

__version__ = "0.3.0"
