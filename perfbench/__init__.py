"""nreadspark's benchmark; see ``perfbench/run.py``."""
