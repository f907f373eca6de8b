"""Extraction benchmark for pdf_parser_spark.

Run from the repository root:

    python3 perfbench/run.py --workload curate_chunks --seed 1 --seconds 10 --trace 0

The benchmark drives the program only through its public functions, builds
its inputs from `corpus.generate_rows`, checks every output row against the
goldens of those inputs, and prints one JSON result line. See
perfbench/README.md for the workloads, the metrics and the recorded baseline.
"""
