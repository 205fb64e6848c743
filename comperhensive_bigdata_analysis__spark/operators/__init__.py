"""Reusable distributed operators (dedup, similarity, relational, merge,
skew helpers, graph connectivity, curation)."""
