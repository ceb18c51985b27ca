"""plans/session.get_spark: which master it runs on, how many shuffle
partitions it plans, and the one way the package reaches the Python
workers (the session's executor PYTHONPATH), checked from a driver whose
cwd is outside the checkout."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

pytest.importorskip("pyspark")

REPO = Path(__file__).resolve().parents[1]


def _driver_env() -> dict:
    """The test process's environment without a PYTHONPATH: the package
    must reach the workers through the session, not through a variable
    the driver happens to carry."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return env


@pytest.fixture
def builder_options(monkeypatch):
    """get_spark → the options its builder would start the session with
    (no JVM)."""
    from pyspark.sql import SparkSession

    from rust_html2text_spark.plans.session import get_spark

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    return get_spark


@pytest.mark.parametrize(
    "master, partitions",
    [
        ("local", "1"),
        ("local[3]", "3"),
        ("local[*]", "32"),
        ("local[4,4]", "4"),
        ("local[*,3]", "32"),
        ("local-cluster[2,2,1024]", "2"),
        ("spark://h.example:7077", None),
        ("yarn", None),
    ],
)
def test_get_spark_shuffle_partitions(builder_options, master, partitions):
    opts = builder_options(master=master)
    assert opts["spark.master"] == master
    assert opts.get("spark.sql.shuffle.partitions") == partitions


def test_get_spark_default_master_and_worker_path(builder_options, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    opts = builder_options()
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "3"
    assert opts["spark.executorEnv.PYTHONPATH"] == str(REPO)
    opts = builder_options(
        master="local[2]",
        shuffle_partitions=5,
        extra_conf={"spark.executorEnv.PYTHONPATH": "/elsewhere"},
    )
    assert opts["spark.sql.shuffle.partitions"] == "5"
    assert opts["spark.executorEnv.PYTHONPATH"] == "/elsewhere"


def test_get_spark_keeps_spark_submit_master(tmp_path):
    """Under spark-submit, get_spark() runs on the submitter's --master
    and sizes the shuffle from it."""
    script = tmp_path / "job.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from rust_html2text_spark.plans.session import get_spark
spark = get_spark()
print("MASTER", spark.sparkContext.master,
      spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""
    )
    out = subprocess.run(
        ["spark-submit", "--master", "local[2]", str(script)],
        cwd=tmp_path,
        env=_driver_env(),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "MASTER local[2] 2" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_workers_import_package_from_any_cwd(tmp_path):
    """A get_spark session started outside the checkout runs every kind
    of Python UDF on fresh workers: a mapInPandas over module helpers, a
    pandas UDF, a formerly self-bootstrapping mapInPandas and the
    map_kernel adapter, in that order (a worker that has not yet run
    anything else must import the package too); the workers import the
    driver's checkout."""
    script = f"""
import hashlib, sys
sys.path.insert(0, {str(REPO)!r})
from rust_html2text_spark.plans.session import get_spark
spark = get_spark(master="local[2]")
spark.sparkContext.setLogLevel("ERROR")

from rust_html2text_spark.functions.multimodal import (
    AUDIO_RATE, _audio_samples, _image_array, png_encode, synthesize_media, wav_encode,
)
docs = spark.range(6).withColumnRenamed("id", "doc_id").repartition(2)
media = {{r["media_id"]: r for r in synthesize_media(docs).collect()}}
assert sorted(media) == list(range(6)), sorted(media)
for d, r in media.items():
    want = (
        ("image", png_encode(_image_array(d))),
        ("audio", wav_encode(_audio_samples(d), AUDIO_RATE)),
        ("video", hashlib.sha256(str(d).encode()).digest() * 4),
    )[d % 3]
    assert (r["kind"], bytes(r["payload"])) == want, d

from rust_html2text_spark.functions.dedup import _bloom_positions, bloom_probe_udf
nb, k = 1 << 12, 4
bits = bytearray(nb // 8)
for key in ("https://seen.example/1", "https://seen.example/2"):
    for pos in _bloom_positions(key, nb, k):
        bits[pos >> 3] |= 1 << (pos & 7)
probe = bloom_probe_udf(bytes(bits), k)
keys = [f"https://seen.example/{{i}}" for i in range(1, 9)] + [None]
probed = spark.createDataFrame([(u,) for u in keys], "url string").repartition(2)
hits = {{r["url"]: r["hit"] for r in probed.select("url", probe("url").alias("hit")).collect()}}
for u in keys:
    want = None if u is None else all(
        bits[p >> 3] >> (p & 7) & 1 for p in _bloom_positions(u, nb, k)
    )
    assert hits[u] == want, (u, hits[u], want)
assert hits["https://seen.example/1"] and hits["https://seen.example/2"]

from rust_html2text_spark.functions.robots import parse_robots_rules, robots_rules
from rust_html2text_spark.sources.corpus import robots_txt_for_host
hosts = ["www.a.example.com", "bb.example.com"]
robots = spark.createDataFrame(
    [(h, robots_txt_for_host(h)) for h in hosts], "host string, robots_txt string"
).repartition(2)
rules = sorted(
    (r["host"], r["pattern"], r["allow"]) for r in robots_rules(robots).collect()
)
want = sorted(
    (h, p, a) for h in hosts for p, a in parse_robots_rules(robots_txt_for_host(h), "*")
)
assert rules and rules == want, (rules, want)

from rust_html2text_spark.engine.api import html_to_text
from rust_html2text_spark.operators.render import render_pages
htmls = [f"<h1>Page {{i}}</h1><p>{{'word ' * (i + 3)}}</p>".encode() for i in range(6)]
pages = spark.createDataFrame(
    [(f"https://h.example/{{i}}", h) for i, h in enumerate(htmls)],
    "url string, html binary",
).repartition(2)
got = {{r["url"]: r for r in render_pages(pages, width=40).collect()}}
assert len(got) == 6, sorted(got)
for i, h in enumerate(htmls):
    r = got[f"https://h.example/{{i}}"]
    assert r["error"] is None and r["text"] == html_to_text(h, 40), r

def where(batches):
    import pandas as pd
    import rust_html2text_spark
    for b in batches:
        yield pd.DataFrame({{"path": [rust_html2text_spark.__file__] * len(b)}})

paths = {{r["path"] for r in spark.range(4).repartition(2).mapInPandas(where, "path string").collect()}}
print("WORKER_PATHS", sorted(paths))
assert paths == {{{str(REPO / "rust_html2text_spark" / "__init__.py")!r}}}, paths
print("ANY_CWD_OK")
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=_driver_env(),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ANY_CWD_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-3000:]


def test_workers_ignore_a_decoy_package_in_cwd(tmp_path):
    """A driver whose cwd holds another `rust_html2text_spark/` still
    runs the checkout's code on the workers: `python -m pyspark.daemon`
    would put that cwd first on the workers' sys.path, and get_spark's
    PYTHONSAFEPATH keeps it off."""
    decoy = tmp_path / "rust_html2text_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text("DECOY = True\n")
    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from rust_html2text_spark.plans.session import get_spark
spark = get_spark(master="local[1]")
spark.sparkContext.setLogLevel("ERROR")

def where(batches):
    import pandas as pd
    import rust_html2text_spark
    for b in batches:
        yield pd.DataFrame({{"path": [rust_html2text_spark.__file__] * len(b)}})

paths = {{r["path"] for r in spark.range(2).mapInPandas(where, "path string").collect()}}
print("WORKER_PATHS", sorted(paths))
assert paths == {{{str(REPO / "rust_html2text_spark" / "__init__.py")!r}}}, paths
print("DECOY_IGNORED")
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=_driver_env(),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "DECOY_IGNORED" in out.stdout, out.stdout[-2000:] + out.stderr[-3000:]


def test_package_udf_stops_zip_rereads(tmp_path):
    """On a fresh local[2] session, a worker that has run only a plain
    mapInPandas re-reads its zip archives' directories when PySpark
    invalidates the import caches; once a package UDF (the robots rule
    parser, a mapInPandas over functions/robots.py) has run on it, the
    next task's invalidation re-reads none.  The driver's importers are
    left alone."""
    script = f"""
import sys, zipimport
sys.path.insert(0, {str(REPO)!r})
from rust_html2text_spark.plans.session import get_spark
from rust_html2text_spark.functions.robots import robots_rules
spark = get_spark(master="local[2]")
spark.sparkContext.setLogLevel("ERROR")

def probe(batches):
    import importlib, os, sys, zipimport
    import pandas as pd
    reads = []
    read_directory = zipimport._read_directory
    def counting(path):
        reads.append(path)
        return read_directory(path)
    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    for _ in batches:
        pass
    yield pd.DataFrame({{
        "pid": [os.getpid()],
        "reads": [len(reads)],
        "package": ["rust_html2text_spark" in sys.modules],
    }})

one = spark.range(1).coalesce(1)
schema = "pid long, reads long, package boolean"
(before,) = one.mapInPandas(probe, schema).collect()
robots = spark.createDataFrame(
    [("h.example", "User-agent: *\\nDisallow: /private")],
    "host string, robots_txt string",
).coalesce(1)
assert [r["pattern"] for r in robots_rules(robots).collect()] == ["/private"]
(after,) = one.mapInPandas(probe, schema).collect()
print("PROBES", before, after)
assert before["pid"] == after["pid"]
assert not before["package"] and before["reads"] > 0
assert after["package"] and after["reads"] == 0
assert "lambda" not in repr(zipimport.zipimporter.invalidate_caches)
print("ZIP_OK")
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=_driver_env(),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ZIP_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-3000:]
