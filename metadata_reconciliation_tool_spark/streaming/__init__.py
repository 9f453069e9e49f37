"""Structured Streaming ingest: ``ingest_stream`` feeds each micro-batch of
new transcripts to ``IncrementalRecon.ingest_batch`` inside ``foreachBatch``."""
