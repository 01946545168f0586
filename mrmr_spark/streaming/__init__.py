from mrmr_spark.streaming.dedup import streaming_exact_dedup, with_content_fingerprint  # noqa: F401
from mrmr_spark.streaming.sessions import streaming_sessionize  # noqa: F401
