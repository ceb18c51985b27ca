"""Idempotent, resumable output sink (north-rule requirement).

Iceberg gives atomic snapshot commits natively; on plain Parquet we get the
same property with bucket-grained idempotent writes:

- the url space is split into `num_buckets` stable buckets
  (`pmod(xxhash64(url), num_buckets)`);
- each bucket is rendered and written to `out/bucket=<i>/` followed by an
  atomic manifest append (`_manifest/<i>.json`) recording lineage
  (row/byte/error counts) and the run's layout (`num_buckets`, `mode`,
  `width`);
- `run_with_resume` skips buckets already in the manifest, so a re-run
  after a crash reprocesses only missing buckets and never duplicates
  output; a re-run with another layout raises instead, since its bucket
  `i` is not the committed bucket `i`;
- when every bucket is committed, a table-level snapshot
  (`_manifest/_snapshot-<id>.json`, chained via `parent_id`, with a
  `_current` pointer swapped by atomic rename) records the aggregate
  lineage — the Iceberg snapshot-log analogue: readers pin `_current`,
  writers only ever add files then swing the pointer.

At 10^12 docs each bucket is still thousands of tasks; the bucket is a
commit/checkpoint unit, not a parallelism unit.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F


def _manifest_dir(out_path: str) -> str:
    return os.path.join(out_path, "_manifest")


def completed_buckets(out_path: str) -> set[int]:
    mdir = _manifest_dir(out_path)
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for name in os.listdir(mdir):
        if name.endswith(".json") and name[:-5].isdigit():
            done.add(int(name[:-5]))
    return done


def current_snapshot(out_path: str) -> dict | None:
    """The snapshot `_current` points at, or None before the first full
    commit."""
    cur = os.path.join(_manifest_dir(out_path), "_current")
    if not os.path.exists(cur):
        return None
    with open(cur) as fh:
        snap_name = fh.read().strip()
    with open(os.path.join(_manifest_dir(out_path), snap_name)) as fh:
        return json.load(fh)


def _commit_snapshot(out_path: str, num_buckets: int, width: int) -> dict:
    """Aggregate all bucket manifests into a table-level snapshot and swing
    the `_current` pointer (both writes are atomic renames)."""
    mdir = _manifest_dir(out_path)
    totals = {"rows": 0, "errors": 0, "html_bytes": 0, "text_bytes": 0}
    for b in range(num_buckets):
        with open(os.path.join(mdir, f"{b}.json")) as fh:
            m = json.load(fh)
        for k in totals:
            totals[k] += m[k]
    parent = current_snapshot(out_path)
    snap = {
        "snapshot_id": (parent["snapshot_id"] + 1) if parent else 1,
        "parent_id": parent["snapshot_id"] if parent else None,
        "committed_at": time.time(),
        "buckets": num_buckets,
        "width": width,
        **totals,
    }
    name = f"_snapshot-{snap['snapshot_id']}.json"
    tmp = os.path.join(mdir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(snap, fh)
    os.rename(tmp, os.path.join(mdir, name))
    ptr_tmp = os.path.join(mdir, "._current.tmp")
    with open(ptr_tmp, "w") as fh:
        fh.write(name)
    os.rename(ptr_tmp, os.path.join(mdir, "_current"))
    return snap


def _check_layout(out_path: str, done: set[int], layout: dict) -> None:
    """Raise if a committed bucket was written under another layout."""
    for b in sorted(done):
        with open(os.path.join(_manifest_dir(out_path), f"{b}.json")) as fh:
            committed = json.load(fh)
        for key, want in layout.items():
            if key in committed and committed[key] != want:
                raise ValueError(
                    f"{out_path}: bucket {b} was committed with {key}="
                    f"{committed[key]!r}, this run has {key}={want!r}; resume "
                    "with the same settings or write to a new output path"
                )


def _as_manifest_value(kwargs: dict | None):
    """`kwargs` as a manifest stores it (a JSON round trip, so a resume
    compares like with like); a value JSON cannot hold is named by its
    qualified name, which stays the same from one process to the next."""

    def name(obj):
        kind = obj if hasattr(obj, "__qualname__") else type(obj)
        return f"{kind.__module__}.{kind.__qualname__}"

    return json.loads(json.dumps(kwargs or {}, sort_keys=True, default=name))


def run_with_resume(
    pages: DataFrame,
    out_path: str,
    width: int = 80,
    num_buckets: int = 16,
    config_kwargs: dict | None = None,
    render_kwargs: dict | None = None,
    operator=None,
    bytes_col: str = "html_bytes",
    mode: str = "render",
) -> dict:
    """Run all pending buckets through `operator` (default: the full
    render); returns summary lineage.  `operator` is any DataFrame →
    DataFrame extraction whose output has url/error/text_bytes plus an
    input-size column named `bytes_col` (render/extract: html_bytes,
    pdf: pdf_bytes) — the whole idempotent-resume + lineage-metrics
    machinery is shared across the extraction tier.  `mode` names the
    operator in the manifests; a resume whose `num_buckets`, `mode`,
    `width`, `config_kwargs` or `render_kwargs` differs from a committed
    bucket's raises ValueError.  A caller that passes its own `operator`
    passes the kwargs it built the operator with, so they are checked
    too."""
    from rust_html2text_spark.operators.render import render_pages

    if operator is None:
        def operator(part):
            return render_pages(
                part,
                width=width,
                config_kwargs=config_kwargs,
                render_kwargs=render_kwargs,
            )

    os.makedirs(_manifest_dir(out_path), exist_ok=True)
    done = completed_buckets(out_path)
    layout = {
        "num_buckets": num_buckets,
        "mode": mode,
        "width": width,
        "config_kwargs": _as_manifest_value(config_kwargs),
        "render_kwargs": _as_manifest_value(render_kwargs),
    }
    _check_layout(out_path, done, layout)
    summary = {"buckets_total": num_buckets, "buckets_skipped": len(done), "rows": 0}

    bucketed = pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(num_buckets))
    )
    for b in range(num_buckets):
        if b in done:
            continue
        part = bucketed.filter(F.col("bucket") == b).drop("bucket")
        rendered = operator(part)
        bucket_path = os.path.join(out_path, f"bucket={b}")
        rendered.write.mode("overwrite").parquet(bucket_path)

        # per-file lineage rows for the metrics table (the Iceberg
        # manifest-entry analogue: committed file → row/byte/error counts),
        # written BEFORE the bucket manifest rename so a crash between the
        # two is repaired by the idempotent re-run overwrite
        out_df = rendered.sparkSession.read.parquet(bucket_path)
        metrics = (
            out_df.groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count("*").alias("rows"),
                F.sum(
                    F.when(F.col("error").isNull(), 0).otherwise(1)
                ).alias("errors"),
                F.sum(bytes_col).alias("html_bytes"),
                F.sum("text_bytes").alias("text_bytes"),
            )
            .withColumn("bucket", F.lit(b))
        )
        metrics_path = os.path.join(out_path, "_metrics", f"bucket={b}")
        metrics.write.mode("overwrite").parquet(metrics_path)
        file_rows = rendered.sparkSession.read.parquet(metrics_path).collect()
        stats = {
            "rows": sum(r["rows"] for r in file_rows),
            "errors": sum(int(r["errors"] or 0) for r in file_rows),
            "html_bytes": sum(int(r["html_bytes"] or 0) for r in file_rows),
            "text_bytes": sum(int(r["text_bytes"] or 0) for r in file_rows),
        }
        manifest = {
            "bucket": b,
            "rows": stats["rows"],
            "errors": stats["errors"],
            "html_bytes": stats["html_bytes"],
            "text_bytes": stats["text_bytes"],
            "n_files": len(file_rows),
            **layout,
            "committed_at": time.time(),
        }
        if "encoding_source" in out_df.columns:
            # charset-sniff lineage: the per-batch histogram of how each
            # row's encoding was decided (bom/http/meta/fallback) — a
            # drifting mix across batches is the first mojibake signal a
            # crawl operator sees, so it belongs in the job summary, not
            # only in per-row columns.  O(#distinct sources) rows.
            enc_rows = (
                out_df.groupBy("encoding_source").count().collect()
            )
            hist = {
                str(r["encoding_source"]): int(r["count"]) for r in enc_rows
            }
            manifest["encoding_sources"] = hist
            agg = summary.setdefault("encoding_sources", {})
            for k, v in hist.items():
                agg[k] = agg.get(k, 0) + v
        tmp = os.path.join(_manifest_dir(out_path), f".{b}.json.tmp")
        final = os.path.join(_manifest_dir(out_path), f"{b}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, final)  # atomic commit
        summary["rows"] += stats["rows"]
    if len(completed_buckets(out_path)) == num_buckets and summary["rows"] > 0:
        summary["snapshot_id"] = _commit_snapshot(out_path, num_buckets, width)[
            "snapshot_id"
        ]
    elif len(completed_buckets(out_path)) == num_buckets:
        snap = current_snapshot(out_path)
        if snap is None:  # crash between last bucket and snapshot commit
            snap = _commit_snapshot(out_path, num_buckets, width)
        summary["snapshot_id"] = snap["snapshot_id"]
    return summary
