"""End-to-end and per-layer benchmark for oaxaca_blinder_rs_spark (see README.md)."""
