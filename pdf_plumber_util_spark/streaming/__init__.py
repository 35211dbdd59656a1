from .events import (  # noqa: F401
    stream_events,
    hourly_counts_stream,
    session_stream,
)
from .extraction import (  # noqa: F401
    stream_pages,
    streaming_extract,
)
from .dedup import dedup_stream  # noqa: F401
