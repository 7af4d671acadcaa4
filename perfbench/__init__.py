"""Layer-attributed benchmark of the sparrow_ipc_spark codec engine (see run.py)."""
