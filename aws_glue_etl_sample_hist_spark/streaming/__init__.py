from .jobs import stream_events_sessionize, stream_events_windowed

__all__ = ["stream_events_windowed", "stream_events_sessionize"]
