from aidc_2018_timeseries_spark.functions.hashing import hash64, hash64_seeded, word_fingerprint
from aidc_2018_timeseries_spark.functions.vectors import dot, l2_norm

__all__ = ["hash64", "hash64_seeded", "word_fingerprint", "dot", "l2_norm"]
