"""Pipeline assembly, the resumable digest-driven incremental run, and run
provenance (header JSON, skew metrics)."""
