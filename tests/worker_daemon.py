"""Spark's Python worker daemon for the test session: ``pyspark.daemon``
with the package imported first.

Every Python worker call runs ``importlib.invalidate_caches()``, and the
package's zip re-read guard (``subgraph_extractor_spark.session``) only
reaches workers that import the package.  Most UDFs under test are
closures pickled by value that never do, so without this each of their
calls re-reads ``pyspark.zip`` and the Spark jars (160-420 ms).  Importing
the package here, and reading each archive once, before the daemon forks
gives every worker the guard from its first call.

``conftest.py`` selects it through ``spark.python.daemon.module``.
"""

import importlib

import subgraph_extractor_spark  # noqa: F401  (installs the guard)

importlib.invalidate_caches()

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
