from nem_mms_spark.jobs.decode import decode_blocks  # noqa: F401
from nem_mms_spark.jobs.verify import verify_roundtrip  # noqa: F401
