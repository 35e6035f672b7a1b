"""processor_edf_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Pennsieve/processor-EDF.

The reference (/root/reference) is a single-file, single-threaded EDF batch
processor (~1,070 LoC numpy/pandas).  This package re-expresses its data
model and every operator in SURVEY.md §2 as idiomatic PySpark — DataFrame /
Spark SQL declarative plans that Catalyst/Tungsten optimize and scale to a
multi-executor cluster — plus the large-scale training-data operators
(dedup, similarity search, text analysis, multimodal plumbing) a 100 TB
pipeline needs.

Layout
------
- ``session``     SparkSession factory tuned for the target cluster
- ``schemas``     canonical long-format / channel-metadata schemas
- ``sources``     EDF decode (record-aligned slices of the file listing +
                  mapInPandas UDTF), parquet
- ``operators``   calibration, timestamp synthesis, sessionization, channel
                  registry (band join), aggregations, dedup, similarity, text
- ``functions``   scalar epoch/time helpers (reference utils.py parity)
- ``sinks``       parquet/JSON sinks + bit-compatible .ts.bin writer
- ``streaming``   Structured Streaming session windows + append-mode registry
- ``pipeline``    end-to-end EDF → channels+samples dataflow
"""

__version__ = "0.1.0"

from processor_edf_spark.pipeline import (  # noqa: E402,F401
    build_channel_metadata,
    channel_dicts,
    process_edf_directory,
    validate_channels,
)
from processor_edf_spark.session import get_spark  # noqa: E402,F401

__all__ = [
    "get_spark",
    "process_edf_directory",
    "build_channel_metadata",
    "channel_dicts",
    "validate_channels",
]
