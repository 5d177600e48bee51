"""ETL-engine benchmark: see README.md and run.py."""
