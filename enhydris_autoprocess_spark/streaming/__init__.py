from .dedup_stream import streaming_exact_dedup  # noqa: F401
from .gap_monitor import streaming_gap_events  # noqa: F401
from .neardup_stream import streaming_minhash_neardup  # noqa: F401
from .session_stream import streaming_sessionize  # noqa: F401
