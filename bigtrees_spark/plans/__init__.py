"""Pipeline assembly, the resumable digest-driven incremental run, and the
RunScope (run-scoped caches, stage tags, skew and the status-store run
report with its provenance header)."""
