"""End-to-end benchmark of the ETL engine (see run.py)."""
