"""Native Catalyst column expressions (no UDFs)."""

from .columns import (  # noqa: F401
    clamp_conf_col,
    has_devanagari_col,
    payload_kind_col,
    slugify_col,
    spans_with_text_col,
)
