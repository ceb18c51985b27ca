"""Multi-executor deployment test: real executor JVMs (local-cluster mode)
with the package shipped via the --py-files zip — the north rule's
`spark-submit --py-files` path, minus only the network."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

pytest.importorskip("pyspark")

REPO = Path(__file__).resolve().parents[1]


def test_local_cluster_render(tmp_path):
    subprocess.run(["sh", str(REPO / "scripts/package_pyfiles.sh")], check=True)
    script = f"""
import sys, os
os.chdir({str(tmp_path)!r})  # workers must not rely on cwd
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.appName("cluster-test")
    .master("local-cluster[2,2,1024]")
    .config("spark.submit.pyFiles", {str(REPO / 'dist/rust_html2text_spark.zip')!r})
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.executor.memory", "1g")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile({str(REPO / 'dist/rust_html2text_spark.zip')!r})
from rust_html2text_spark.sources.corpus import load_pages
from rust_html2text_spark.operators.render import render_pages
pages = load_pages(spark, "/root/testdata/sf0.001").limit(100)
stats = render_pages(pages, width=80).agg(
    F.count("*").alias("n"),
    F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("err"),
).collect()[0]
assert stats["n"] == 100 and stats["err"] == 0, stats

# WARC ingest through real executors: write archives driver-side, read
# them back distributed, render, and compare against the parquet path
from rust_html2text_spark.sources.warc import read_warc_pages, write_warc_file
rows = pages.collect()
for part in range(2):
    write_warc_file(
        f"part-{{part}}.warc.gz",
        [(r["url"], r["warc_ts"], bytes(r["html"])) for r in rows[part*50:(part+1)*50]],
    )
warc_pages = read_warc_pages(spark, os.path.join(os.getcwd(), "*.warc.gz"))
wstats = render_pages(warc_pages, width=80).agg(
    F.count("*").alias("n"),
    F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("err"),
).collect()[0]
assert wstats["n"] == 100 and wstats["err"] == 0, wstats

# the mixed HTML+PDF router through real executors: the kernel adapter
# must load both engines from the shipped zip (checked at the end), and
# the texts must match the driver-side engine calls
from rust_html2text_spark.engine.api import html_to_text
from rust_html2text_spark.engine.pdftext import extract_pdf_ex
from rust_html2text_spark.operators.pdf import extract_mixed_pages
from rust_html2text_spark.sources.pdfcorpus import build_pdf
payloads = [(r["url"], bytes(r["html"])) for r in rows[:6]] + [
    (f"https://p.example/{{i}}.pdf", build_pdf(i, f"pdf body {{i}} " * 40, "srcA"))
    for i in range(1, 7)  # doc 4 is an encrypted RC4 lane
]
mixed = spark.createDataFrame(payloads, "url string, html binary").repartition(3)
got = {{r["url"]: r for r in extract_mixed_pages(mixed, width=80).collect()}}
assert len(got) == 12, sorted(got)
for url, data in payloads:
    r = got[url]
    assert r["error"] is None and r["input_bytes"] == len(data), r
    if url.endswith(".pdf"):
        assert r["kind"] == "pdf" and r["text"] == extract_pdf_ex(data)["text"], r
    else:
        assert r["kind"] == "html" and r["text"] == html_to_text(data, 80), r

# the crawl loop through real executors: robots gate (mapInPandas rules
# parse must import from the shipped zip on the workers, checked at the
# end) + sitemap parse
from rust_html2text_spark.functions.robots import frontier_allowed, robots_rules
from rust_html2text_spark.functions.sitemap import sitemap_entries
from rust_html2text_spark.sources.corpus import (
    robots_for_frontier, sitemaps_from_documents, load_documents,
)
edges = spark.createDataFrame(
    [("u", f"https://www.h{{i % 4}}.example.com/up/{{i}}" if i % 2
      else f"https://www.h{{i % 4}}.example.com/doc/{{i}}", "html")
     for i in range(40)],
    "url string, target string, kind string",
)
gated = frontier_allowed(edges, robots_rules(robots_for_frontier(edges)))
g = gated.agg(
    F.count("*").alias("n"),
    F.sum(F.when(F.col("allowed"), 0).otherwise(1)).alias("blocked"),
).collect()[0]
assert g["n"] == 40 and g["blocked"] == 20, g  # every /up/ edge blocked
sm = sitemap_entries(
    sitemaps_from_documents(load_documents(spark, "/root/testdata/sf0.001"))
).count()
assert sm > 500, sm

# the copy of the package each kind of UDF ran: the zip shipped to the
# worker's own executor, both in the kernel adapter and in a plain
# mapInPandas — never the checkout or the driver's copy of the zip
from pyspark import SparkFiles
from pyspark.sql.types import StringType, StructField, StructType
from rust_html2text_spark.operators.kernel import map_kernel

def setup():
    from pyspark import SparkFiles
    import rust_html2text_spark.engine.api as api

    def row_fn(data, row):
        row["path"], row["root"] = api.__file__, SparkFiles.getRootDirectory()
        yield row

    return row_fn

def robots_file(batches):
    import pandas as pd
    from pyspark import SparkFiles
    import rust_html2text_spark.functions.robots as robots
    for b in batches:
        yield pd.DataFrame(
            {{"path": robots.__file__, "root": SparkFiles.getRootDirectory()}},
            index=b.index,
        )

schema = StructType(
    [StructField(c, StringType()) for c in ("url", "path", "root", "error")]
)
paths = {{(r["path"], r["root"]) for r in map_kernel(mixed, setup, schema).collect()}}
paths |= {{
    (r["path"], r["root"])
    for r in edges.repartition(4).mapInPandas(robots_file, "path string, root string").collect()
}}
print("WORKER_PATHS", sorted(paths))
assert len(paths) >= 2, paths
for p, root in paths:
    assert p.startswith(os.path.join(root, "rust_html2text_spark.zip") + "/"), (p, root)
    assert root != SparkFiles.getRootDirectory(), (p, root)
print("MULTI_EXECUTOR_OK")
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "MULTI_EXECUTOR_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
