"""End-to-end and per-layer benchmark of the loader; see README.md."""

import sys
import time

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"perfbench {time.perf_counter() - _T0:7.2f} {msg}", file=sys.stderr, flush=True)
