"""The crick_spark benchmark; see README.md."""
