from .incremental import annotate_stream  # noqa: F401
