"""Sources & sinks (SURVEY §2.1, S1–S12)."""

from .tables import TABLE_NAMES, load_table  # noqa: F401
