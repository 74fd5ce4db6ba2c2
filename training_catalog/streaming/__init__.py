from .events import windowed_event_counts

__all__ = ["windowed_event_counts"]
