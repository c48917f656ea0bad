"""bfokg benchmark package: see run.py and METHODOLOGY.md."""
