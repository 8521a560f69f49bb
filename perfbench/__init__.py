"""Oracle-checked benchmark of the bright_spark code-search engine."""
