"""Dataflow operators: extraction, multi-pass blocking, pair scoring, ranking,
connected-components clustering; off-path record dedup and cosine top-k."""
