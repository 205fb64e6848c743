"""Sources & sinks (SURVEY §2.1, S1-S13)."""
