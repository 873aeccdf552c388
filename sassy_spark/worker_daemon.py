"""Custom pyspark worker daemon: pre-imports the heavy scientific stack
in the daemon parent so every forked worker inherits the pages
copy-on-write instead of re-importing (and re-faulting ~50 MB) per
worker. In this sandbox VM concurrent first-touch page faults serialize
(~70x collapse at 32-way), so import-once-fork-many is a large win; on
any machine it still cuts worker cold-start.

Enable with spark.python.daemon.module=sassy_spark.worker_daemon.
"""

import numpy  # noqa: F401
import pandas  # noqa: F401

try:  # engine kernel: also warms numpy ufunc machinery. cbanded loads
    # (and on a cold cache builds) the compiled scoring kernel here, once,
    # so forked workers inherit the mapped library
    from sassy_spark.kernel import cbanded, myers  # noqa: F401
except ImportError:  # pragma: no cover - engine not on worker path
    pass

import pyarrow  # noqa: F401

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
