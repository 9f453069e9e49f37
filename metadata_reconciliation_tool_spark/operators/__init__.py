"""Dataflow operators: extraction, multi-pass blocking, pair scoring, ranking,
connected-components clustering."""
