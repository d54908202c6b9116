"""aidc_2018_timeseries_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of NervanaSystems/aidc-2018-timeseries.

The reference repo is a time-series deep-learning tutorial; its
"query engine" is the dataset pipeline layer (windowing, labeling,
normalization, splitting — see SURVEY.md §2). This package re-expresses
that capability surface Spark-first:

- long-format series DataFrames ``(series_id, t, features...)`` instead of
  driver-memory ``list[np.ndarray]`` trajectories,
- window specs + higher-order array functions instead of
  ``np.lib.stride_tricks.as_strided``,
- Catalyst/Tungsten instead of the ngraph transformer,
- Structured Streaming for the streaming extension,
- plus the LLM-data-pipeline operators (dedup, similarity search,
  text analysis, multimodal columns) designed for 100 TB scale.
"""

__version__ = "0.1.0"
