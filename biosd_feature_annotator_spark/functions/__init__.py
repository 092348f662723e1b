from .text import norm_text, conversation_stats  # noqa: F401
