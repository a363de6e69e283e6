"""Repository benchmark for the Spark RAG engine; see run.py and NOTES.md."""
