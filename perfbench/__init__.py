"""Same-box benchmark of the pboh_spark engine (see run.py)."""
