"""The stat stamp that tells a file unchanged since it was last read.

Shared by ``worker_daemon`` (zip archives) and ``sources.read_parquet``
(parquet schemas).  It lives apart from ``worker_daemon`` so that
importing the engine never loads the daemon module: ``python -m
sparkml_som_spark.worker_daemon`` must find it absent from
``sys.modules``, or ``runpy`` warns at every session start.
"""

import os


def stat_stamp(path) -> tuple[int, int, int]:
    """(mtime ns, size, inode) of ``path``; a rewrite changes it."""
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino
