"""Cold-and-warm benchmark of XML ingest and the query registry (see README.md)."""
