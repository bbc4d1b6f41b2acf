from .events import stream_stream_attribution
from .sessions import sessionize_batch

__all__ = ["sessionize_batch", "stream_stream_attribution"]
