"""ts_process_spark — a PySpark-native time-series rollup, downsample and
retention engine with the query/data-processing capabilities of
SCECcode/ts-process (reference, read-only, at /root/reference/).

This is NOT a port.  The reference is a single-node NumPy/SciPy + Fortran
seismogram toolkit; this package recasts *what it computes* — Butterworth
filtering, resampling/interpolation to a common dt, baseline correction,
taper/pad/cut, rotation, peak & response-spectrum extraction — as
distributed continuous aggregates over tables of multi-turn conversation
transcripts `(conv_id, turn_idx, role, text, tool, ts)`, cascaded through
retention tiers (raw → 1m → 1h → 1d) with linear-interpolation gap-fill,
Gorilla XOR / delta-of-delta compression inside vectorized Arrow UDFs,
explicit partitioning/skew handling and checkpoint-resumable backfill.

Layout
------
- ``session``            Spark session factory (AQE, Arrow, UTC, tuned shuffle)
- ``datagen``            deterministic distributed synthetic-data generators
- ``functions.codecs``   Gorilla XOR + delta-of-delta NumPy bit codecs
- ``functions.dsp``      pure-NumPy signal kernels (butter/filtfilt/taper/...)
- ``functions.{jpeg,flac,mp3,avi}`` native media codecs (NumPy, no codec library)
- ``operators.gapfill``  linear-interp gap fill of missing turn timestamps
- ``operators.rollup``   the raw→1m→1h→1d tier cascade
- ``operators.analytics``ts-process kernel surface as DataFrame transforms
- ``operators.dedup``    exact/MinHash-LSH/SimHash/Jaccard dedup
- ``operators.similarity`` embedding ANN (brute-force + LSH-bucketed)
- ``operators.textstats`` language-ID, quality score, token count, fingerprints
- ``operators.{multimodal,sampling,skew}`` media payloads + features,
                         id-keyed sampling / mixing, chunked grouped kernels
- ``sources.formats``    seismogram interchange formats as Spark sources/sinks
- ``plans.backfill``     lineage-tracked, resumable tier backfill driver
- ``plans.curation``     stage-resumable curation pipeline with lineage
- ``streaming.ingest``   Structured Streaming raw→1m path + sessionization
- ``queries_*``          the query registry and its DuckDB oracles
"""

__version__ = "0.1.0"
