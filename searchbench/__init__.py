"""Search benchmark for mr_mpi_blast_spark (see run.py)."""
