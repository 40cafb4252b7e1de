"""noaa_oracle_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of tee8z/noaa-oracle.

The reference (read-only at /root/reference) answers analytical weather queries
by running DuckDB SQL over append-only Parquet snapshots
(crates/oracle/src/db/weather_data.rs). This package re-expresses every
operator in that surface — plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) — as idiomatic
Spark DataFrame plans: declarative, Catalyst-optimized, partition-pruned, and
designed for a 1000-executor cluster even though tests run on local[32].

Layout:
    session     SparkSession factory with load-bearing defaults (UTC, AQE)
    schemas     canonical StructTypes for observations/forecasts snapshots
    sources     snapshot catalog (date-dir pruning, 1-day lookback), schema-
                merging reader, snapshot writer
    functions   scalar weather expressions (Magnus humidity, METAR precip
                classification, unit conversion, clamps)
    operators   reusable relational operators (distinct_on, lead-chains,
                carry-forward fill, conditional rollups)
    queries     the four reference weather queries as pure DataFrame functions
    sql         DuckDB-dialect → Spark SQL rewriter for /raw parity
    scoring     contest scoring kernel + outcome enumeration + winner pick
    eventstore  single-writer event tables held as Arrow snapshots
    pipeline    training-data ops: dedup (exact/minhash/simhash/jaccard),
                ANN similarity search, text analysis, multimodal columns
    streaming   Structured Streaming variants of snapshot ingestion
"""

__version__ = "0.1.0"
