"""Structured Streaming operators that no job runs yet (see
``tests/test_reachability.py``). A ``readStream`` frame validates through
``operators.validate.validate`` like any other DataFrame."""
