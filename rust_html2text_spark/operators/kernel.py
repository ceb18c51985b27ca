"""The one Arrow-batch boundary between Spark and the per-row engine.

Every Python extraction operator is `map_kernel` around a `setup()`
closure.  The adapter owns what each operator used to repeat by hand:
the worker's GC threshold, payload coercion, the NULL-payload row, the
exception → error-string map, column assembly, passthrough columns, and
the plan tail, which is always scan → mapInPandas.  Partitioning is
the caller's: the kernel runs on the input's own partitions.

The operator supplies only `setup()`.  It runs on the worker after the
bootstrap, imports its engine entry point there, and returns
`row_fn(data, row, *args)`: `data` is the payload as bytes, `row` the
output row pre-filled with the url, the raw payload size and zero/NULL
defaults, and `args` the values of the input's remaining columns (a
per-row width, a charset label).  `row_fn` yields the payload's output
rows: a 1:1 kernel fills `row` and yields it once; a link kernel yields
one new row per edge.  A 1:1 kernel that raises still emits `row`, with
whatever lineage it filled before the failure and `error` set.

The package reaches the workers' import path through the session, not
through this adapter: `plans/session.get_spark` puts its own checkout on
the workers' PYTHONPATH, and a shipped `--py-files` zip comes ahead of it.
Importing the package on a worker also stops the per-task re-read of the
zip importers' archives (`rust_html2text_spark/__init__.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructType


def map_kernel(
    pages: DataFrame,
    setup,
    schema: StructType,
    *,
    payload: str = "html",
    passthrough: tuple = (),
    defaults: dict | None = None,
) -> DataFrame:
    """mapInPandas of `setup`'s row function over `pages` (url, payload,
    per-row argument and passthrough columns) → `schema`.

    A row with a NULL payload becomes a `NullInput` error row; a kernel
    exception becomes an error row (RenderError → its class name,
    PdfError → `PdfError:<message>` cut to 200 chars, anything else →
    `Fail:<Class>`).  A schema without an `error` column (the link
    kernels) emits no row for either.  Error rows carry 0 in bigint
    columns and NULL elsewhere, overridden by `defaults`.  The first
    `*_bytes` column other than `text_bytes` gets the raw payload size;
    `text_bytes` is the UTF-8 size of `text`.

    The kernel runs on `pages`' own partitions.  A caller whose file
    layout concentrates expensive rows spreads them first with
    `df.repartition(n, F.xxhash64("url"))` (operators/render.render_pages
    has the measurements)."""
    template = {
        f.name: 0 if isinstance(f.dataType, LongType) else None
        for f in schema.fields
        if f.name not in passthrough
    }
    template.update(defaults or {})
    columns = list(template)
    size_col = next(
        (c for c in columns if c.endswith("_bytes") and c != "text_bytes"), None
    )
    has_error = "error" in template
    has_text_bytes = "text_bytes" in template
    args = [c for c in pages.columns if c not in ("url", payload, *passthrough)]
    fields = schema.fieldNames()

    def kernel_batches(batches):
        import gc

        # The engine allocates heavily but (with the DOM back-pointers
        # broken) produces no cyclic garbage; raising the gen-0 threshold
        # buys ~10% throughput in the worker.
        gc.set_threshold(200_000, 50, 50)
        import pandas as pd

        from rust_html2text_spark.engine.errors import RenderError

        def error_string(e: Exception) -> str:
            if isinstance(e, RenderError):
                return type(e).__name__
            # imported here, not up front: an HTML worker never loads pdfparse
            from rust_html2text_spark.engine.pdfparse import PdfError

            if isinstance(e, PdfError):
                return f"PdfError:{e}"[:200]
            return f"Fail:{type(e).__name__}"

        row_fn = setup()
        for batch in batches:
            out = {c: [] for c in columns}
            inputs = zip(batch["url"], batch[payload], *(batch[c] for c in args))
            for url, data, *extra in inputs:
                row = dict(template, url=url)
                if data is None:
                    if not has_error:
                        continue
                    row["error"] = "NullInput"
                    rows = (row,)
                else:
                    data = data.encode("utf-8") if isinstance(data, str) else bytes(data)
                    if size_col is not None:
                        row[size_col] = len(data)
                    try:
                        rows = list(row_fn(data, row, *extra))
                    except Exception as e:  # never kill the task
                        if not has_error:
                            continue  # an unusable page contributes no edges
                        row["error"] = error_string(e)
                        rows = (row,)
                for r in rows:
                    if has_text_bytes and r["text"] is not None:
                        r["text_bytes"] = len(r["text"].encode("utf-8"))
                    for c in columns:
                        out[c].append(r[c])
            for c in passthrough:
                out[c] = batch[c]
            yield pd.DataFrame({c: out[c] for c in fields})

    return pages.mapInPandas(kernel_batches, schema)
