from .incremental import (  # noqa: F401
    read_transcript_stream,
    annotate_stream,
)
