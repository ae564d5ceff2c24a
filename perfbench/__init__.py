"""End-to-end benchmark of the ot_spark pipeline; see README.md."""
