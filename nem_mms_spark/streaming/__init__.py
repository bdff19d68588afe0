from nem_mms_spark.streaming.incremental import (  # noqa: F401
    incremental_encode,
)
