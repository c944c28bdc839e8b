"""CDC-ingest + query benchmark for the engine (see README.md)."""
