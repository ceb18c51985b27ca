"""PySpark-native HTML→text extraction engine.

A from-scratch reimplementation of the semantics of
``jugglerchris/rust-html2text`` (reference at /root/reference, v0.17.1),
re-expressed Spark-first: the rendering engine is a pure-Python scalar
transform (``rust_html2text_spark.engine``) executed as vectorized
pandas/Arrow UDFs over DataFrames of Common-Crawl-style pages
(``rust_html2text_spark.operators``), with partitioning / skew / lineage /
resume handled at the DataFrame level.
"""

import sys as _sys

__all__ = ["html_to_text", "Config", "plain_config", "TooNarrow"]
__version__ = "0.1.0"

# Every package UDF imports this package on the worker, inside a task:
# its function either references a package module or imports one.  There
# the zip importers stop re-reading their archives.  PySpark calls
# importlib.invalidate_caches() before every task, and on Python < 3.13
# each zipimporter on sys.path then re-parses its archive's central
# directory in pure Python: ~0.2 s per task for pyspark.zip, the py4j zip
# and the spark-core jar.  The archives never change while a worker is
# alive (Spark does not rewrite them in place), and a py-file added later
# is a new sys.path entry that gets a new importer, so the re-read finds
# nothing new.  CPython 3.13 made this method lazy for the same reason.
# The task that first imports the package has already paid it once.  A
# driver has no task context, so its importers are left alone.
_taskcontext = _sys.modules.get("pyspark.taskcontext")
if _taskcontext is not None and _taskcontext.TaskContext.get() is not None:
    import zipimport as _zipimport

    _zipimport.zipimporter.invalidate_caches = lambda self: None


def __getattr__(name):  # lazy to keep `import rust_html2text_spark` light
    if name in __all__:
        from rust_html2text_spark.engine import api

        return getattr(api, name)
    raise AttributeError(name)
