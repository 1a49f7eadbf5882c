"""The lakeshed benchmark (see NOTES.md; entry point: run.py)."""
