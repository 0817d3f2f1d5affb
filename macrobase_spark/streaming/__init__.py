from macrobase_spark.streaming.validate import (  # noqa: F401
    batch_processor,
    stream_duplicate_clips,
    validate_stream,
    windowed_violation_rates,
)
from macrobase_spark.streaming.windowed import (  # noqa: F401
    count_sliding_window,
    count_tumbling_window,
    moving_average,
    windowed_explain,
)
