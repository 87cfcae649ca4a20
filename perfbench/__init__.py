"""Layer-traced benchmark of the gbdc_spark feature engine (see README.md)."""
