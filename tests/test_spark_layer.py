"""Spark-layer tests: operator/engine parity, corpus determinism, resumable
sink, and the streaming path.  One shared local session keeps this fast."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

pyspark = pytest.importorskip("pyspark")

SF_DIR = "/root/testdata/sf0.001"

FIXTURES = json.loads(
    (Path(__file__).parent / "fixtures/goldens.json").read_text()
)["fixtures"]


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def test_render_operator_matches_engine(spark):
    """mapInPandas render == direct engine call, row by row, over real
    fixture HTML (plumbing parity; byte-identity itself is pinned by
    tests/test_goldens.py)."""
    from rust_html2text_spark.engine.api import html_to_text
    from rust_html2text_spark.engine.errors import RenderError
    from rust_html2text_spark.operators.render import render_pages

    cases = [
        (f"u{i}", f["html"].encode("utf-8"))
        for i, f in enumerate(FIXTURES)
        if "expected" in f and not f.get("config", {}).get("xml")
    ][:60]
    df = spark.createDataFrame(cases, "url string, html binary")
    out = {r["url"]: r for r in render_pages(df, width=40).collect()}
    assert len(out) == len(cases)
    for url, html in cases:
        try:
            expected = html_to_text(html, 40)
            assert out[url]["text"] == expected, url
            assert out[url]["error"] is None
        except RenderError as e:
            assert out[url]["error"] == type(e).__name__
            assert out[url]["text"] is None


def test_corpus_deterministic(spark):
    from rust_html2text_spark.sources.corpus import load_pages

    a = sorted(load_pages(spark, SF_DIR).collect())
    b = sorted(load_pages(spark, SF_DIR).collect())
    assert a == b
    assert all(r.url.startswith("https://") for r in a[:5])
    assert all(isinstance(r.html, (bytes, bytearray)) for r in a[:5])


def test_url_hash_spread_same_results(spark):
    """The caller-side recipe for a layout that clusters giant pages
    (spread by url hash, then render) changes no output row."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages

    pages = load_pages(spark, SF_DIR, oversize_every=50)
    default = render_pages(pages, width=80)
    spread = render_pages(pages.repartition(4, F.xxhash64("url")), width=80)
    a = sorted((r.url, r.text) for r in default.collect())
    b = sorted((r.url, r.text) for r in spread.collect())
    assert a == b


def test_resumable_sink(spark, tmp_path):
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.sources.sink import completed_buckets, run_with_resume

    pages = load_pages(spark, SF_DIR).limit(80).cache()
    out = str(tmp_path / "out")
    s1 = run_with_resume(pages, out, num_buckets=4)
    assert s1["buckets_skipped"] == 0
    assert completed_buckets(out) == {0, 1, 2, 3}
    total = spark.read.parquet(f"{out}/bucket=*").count()
    assert total == 80

    s2 = run_with_resume(pages, out, num_buckets=4)
    assert s2["buckets_skipped"] == 4
    assert s2["rows"] == 0

    # snapshot committed once all buckets are in; no-op run reuses it
    from rust_html2text_spark.sources.sink import current_snapshot

    snap = current_snapshot(out)
    assert snap is not None and snap["rows"] == 80 and snap["snapshot_id"] == 1
    assert s2["snapshot_id"] == 1

    # simulate a crash before bucket 2's commit
    (tmp_path / "out/_manifest/2.json").unlink()
    s3 = run_with_resume(pages, out, num_buckets=4)
    assert s3["buckets_skipped"] == 3
    assert spark.read.parquet(f"{out}/bucket=*").count() == 80
    # repair run advances the snapshot chain
    snap2 = current_snapshot(out)
    assert snap2["snapshot_id"] == 2 and snap2["parent_id"] == 1
    assert snap2["rows"] == 80


def test_streaming_matches_batch(spark, tmp_path):
    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.streaming.pipeline import (
        start_extraction_stream,
        stream_pages,
    )

    pages = load_pages(spark, SF_DIR).limit(50)
    inp = str(tmp_path / "in")
    pages.write.parquet(inp)

    q = start_extraction_stream(
        stream_pages(spark, inp),
        str(tmp_path / "outp"),
        str(tmp_path / "ckpt"),
        width=80,
    )
    q.processAllAvailable()
    q.stop()

    streamed = sorted(
        (r.url, r.text)
        for r in spark.read.parquet(str(tmp_path / "outp")).collect()
    )
    batch = sorted(
        (r.url, r.text) for r in render_pages(pages, width=80).collect()
    )
    assert streamed == batch


def test_simhash_udf_matches_reference(spark):
    from rust_html2text_spark.functions.dedup import simhash, simhash_py

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    rows = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    for r in docs.collect():
        assert rows[r.doc_id] == simhash_py(r.text)


def test_python_page_synthesis_matches_spark(spark):
    """The single-process corpus replica (used to precompute the driver's
    render-golden oracle outside Spark) must be byte-identical to the Spark
    expression pipeline in sources/corpus.py."""
    from rust_html2text_spark.sources.corpus import load_pages, synthesize_page_py

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    spark_pages = {
        r.url: bytes(r.html) for r in load_pages(spark, SF_DIR).collect()
    }
    assert len(spark_pages) == len(docs)
    for d in docs:
        url, html = synthesize_page_py(d.doc_id, d.text, d.source)
        assert spark_pages[url] == html, url


def test_training_pipeline_langs_filter(spark):
    from rust_html2text_spark.functions.pipeline import training_pipeline
    from rust_html2text_spark.sources.corpus import load_pages

    pages = load_pages(spark, SF_DIR)
    n_all = training_pipeline(pages, langs=None).count()
    n_en = training_pipeline(pages, langs=("en",)).count()
    n_none = training_pipeline(pages, langs=("xx",)).count()
    assert n_none == 0
    assert 0 < n_en <= n_all


def test_simhash_near_dups_guaranteed_recall(spark):
    """With B = max_hamming + 1 bands, the banded candidate set provably
    contains every pair within the threshold (pigeonhole) — so the banded
    result must EQUAL the exact all-pairs answer."""
    from rust_html2text_spark.functions.dedup import simhash, simhash_near_dups

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for max_h in (3, 8):
        banded = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups(docs, max_hamming=max_h).collect()
        }
        sims = [
            (r.doc_id, r.simhash)
            for r in simhash(docs).collect()
            if r.simhash is not None
        ]
        exact = set()
        for i in range(len(sims)):
            for j in range(i + 1, len(sims)):
                (ida, ha), (idb, hb) = sims[i], sims[j]
                if ida > idb:
                    ida, idb, ha, hb = idb, ida, hb, ha
                d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
                if d <= max_h:
                    exact.add((ida, idb, d))
        assert banded == exact, f"max_hamming={max_h}"


def test_simhash_near_dups_max_bucket_matches_python_banding(spark):
    """With max_bucket, the pairs are exactly those of a pure-Python
    banding of simhash_py that drops every (band, key) bucket holding
    more than max_bucket docs, then keeps the pairs within max_hamming."""
    from collections import Counter, defaultdict
    from itertools import accumulate

    from rust_html2text_spark.functions.dedup import (
        simhash_band_widths,
        simhash_near_dups,
        simhash_py,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    max_h, cap = 8, 20
    sims = {
        r.doc_id: simhash_py(r.text) & ((1 << 64) - 1)
        for r in docs.select("doc_id", "text").collect()
        if r.text is not None
    }
    widths = simhash_band_widths(max_h)
    buckets = defaultdict(list)
    for doc_id, h in sims.items():
        for band, (off, w) in enumerate(zip(accumulate(widths, initial=0), widths)):
            buckets[band, (h >> off) & ((1 << w) - 1)].append(doc_id)
    sizes = Counter(len(m) for m in buckets.values())
    assert any(n > cap for n in sizes) and any(1 < n <= cap for n in sizes)
    expected = set()
    for members in buckets.values():
        if len(members) > cap:
            continue
        for a in members:
            for b in members:
                d = bin(sims[a] ^ sims[b]).count("1")
                if a < b and d <= max_h:
                    expected.add((a, b, d))
    got = simhash_near_dups(docs, max_hamming=max_h, max_bucket=cap).collect()
    assert len(got) == len({(r.doc_a, r.doc_b) for r in got})
    assert {(r.doc_a, r.doc_b, r.hamming) for r in got} == expected
    uncapped = simhash_near_dups(docs, max_hamming=max_h).collect()
    assert {(a, b) for a, b, _ in expected} < {(r.doc_a, r.doc_b) for r in uncapped}


def test_minhash_preserves_null_text_docs(spark):
    from rust_html2text_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, "a b c d e"), (4, None)],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.mh0 for r in minhash_signatures(docs, num_hashes=4).collect()}
    assert set(sigs) == {1, 2, 3, 4}
    assert sigs[2] is None and sigs[4] is None
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs, 4, 2).collect()}
    assert pairs == {(1, 3)}  # NULL-sig docs never pair (not even together)
    with pytest.raises(ValueError):
        lsh_candidate_pairs(docs, num_hashes=4, band_size=3)


def test_lsh_hot_bucket_cap(spark):
    """max_bucket drops only over-populated band buckets; pairs sharing a
    cooler band survive, and ngram_jaccard defaults to LSH candidates."""
    from rust_html2text_spark.functions.dedup import (
        lsh_candidate_pairs,
        ngram_jaccard,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, text) for i in range(6)] + [(10, "one two three four five six")],
        "doc_id long, text string",
    )
    uncapped = lsh_candidate_pairs(docs, 4, 2)
    assert uncapped.count() == 15  # 6 identical docs -> C(6,2)
    capped = lsh_candidate_pairs(docs, 4, 2, max_bucket=3)
    assert capped.count() == 0  # both bands of the clone group exceed cap
    # jaccard over default (LSH) candidates matches explicit-pairs call
    j_default = {(r.doc_a, r.doc_b) for r in ngram_jaccard(docs).collect()}
    j_explicit = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard(docs, lsh_candidate_pairs(docs)).collect()
    }
    assert j_default == j_explicit


def test_embedding_dups_candidates_are_exact_subset(spark):
    """Bucketed near-dup pairs carry the exact cosine and are a subset of
    the exact all-pairs answer; at this sf the target pair is recalled."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.similarity import (
        _cosine,
        embedding_cosine_dups,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = embedding_cosine_dups(emb, threshold=0.3).collect()
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", F.round(_cosine(F.col("ea"), F.col("eb")), 6).alias("cosine")
        )
        .filter(F.col("cosine") > 0.3)
        .collect()
    }
    assert got, "bucketed search found nothing"
    for r in got:
        assert exact[(r.vec_a, r.vec_b)] == r.cosine


def test_knn_lsh_recall_sane(spark):
    """LSH kNN returns a subset of brute-force candidates per query."""
    from rust_html2text_spark.functions.similarity import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bf = knn_bruteforce(emb, k=50, num_queries=3).collect()
    lsh = knn_lsh(emb, k=5, num_queries=3).collect()
    bf_pairs = {(r.query_id, r.neighbor_id) for r in bf}
    assert lsh, "LSH returned nothing"
    # every LSH hit is a genuine neighbour candidate with the same score
    bf_scores = {(r.query_id, r.neighbor_id): r.cosine for r in bf}
    for r in lsh:
        key = (r.query_id, r.neighbor_id)
        if key in bf_scores:
            assert abs(bf_scores[key] - r.cosine) < 1e-9


def test_full_golden_corpus_through_spark(spark):
    """Every default-config golden fixture rendered end-to-end through the
    Spark operator at its own width must match the reference expectation
    byte-for-byte (the north rule's per-url invariant, at the DataFrame
    level)."""
    cases = [
        (f"u{i}", f["html"].encode("utf-8"), f["width"], f["expected"])
        for i, f in enumerate(FIXTURES)
        if "expected" in f and not f.get("config", {})  # default config only
    ]
    assert len(cases) > 100
    from rust_html2text_spark.operators.render import render_pages

    df = spark.createDataFrame(
        [(u, h, w) for u, h, w, _ in cases], "url string, html binary, width int"
    )
    out = {r["url"]: r for r in render_pages(df).collect()}
    for url, _html, _w, expected in cases:
        assert out[url]["error"] is None, url
        assert out[url]["text"] == expected, url


def test_streaming_windowed_metrics(spark, tmp_path):
    """Event-time windowed crawl metrics with watermark over a file stream."""
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.streaming.pipeline import (
        crawl_rate_metrics,
        render_stream_with_ts,
        stream_pages,
    )

    pages = load_pages(spark, SF_DIR).limit(60)
    inp = str(tmp_path / "in")
    pages.write.parquet(inp)

    stream = stream_pages(spark, inp)
    metrics = crawl_rate_metrics(render_stream_with_ts(stream))
    q = (
        metrics.writeStream.format("memory")
        .queryName("crawl_metrics")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from crawl_metrics").collect()
    # append mode only emits windows the watermark has passed; with a finite
    # file stream the final windows stay open, so just check plumbing + types
    total = spark.sql("select sum(docs) d from crawl_metrics").collect()[0]["d"]
    assert total is None or total <= 60
    assert {c for c in spark.table("crawl_metrics").columns} == {
        "window_start",
        "window_end",
        "docs",
        "text_bytes",
        "errors",
    }


def test_render_with_ts_keeps_each_recrawl_timestamp(spark):
    """A url crawled twice within one Arrow batch keeps each crawl's own
    warc_ts, so the windowed metrics count both crawls in their own
    windows."""
    from datetime import datetime

    from rust_html2text_spark.streaming.pipeline import (
        crawl_rate_metrics,
        render_stream_with_ts,
    )

    t0, t7 = datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 7)
    pages = spark.createDataFrame(
        [("u", t0, b"<p>first</p>"), ("v", t0, b"<p>v</p>"), ("u", t7, b"<p>again</p>")],
        "url string, warc_ts timestamp, html binary",
    ).coalesce(1)  # one partition: all three rows in one Arrow batch
    rendered = render_stream_with_ts(pages)
    got = sorted((r["url"], r["warc_ts"], r["text"]) for r in rendered.collect())
    assert got == [("u", t0, "first\n"), ("u", t7, "again\n"), ("v", t0, "v\n")]
    windows = {
        r["window_start"].minute: r["docs"]
        for r in crawl_rate_metrics(rendered).collect()
    }
    assert windows == {0: 2, 5: 1}


def test_stateful_streaming_dedup(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: duplicates arriving in a
    LATER micro-batch are suppressed by the cross-batch state."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.streaming.pipeline import stream_pages
    from rust_html2text_spark.streaming.stateful import first_seen_documents

    pages = load_pages(spark, SF_DIR).limit(30).select("url", "html").cache()
    inp = tmp_path / "in"
    inp.mkdir()
    # batch 1: originals
    pages.coalesce(1).write.parquet(str(inp / "b1"))

    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inp / "b*"))
    )
    q = (
        first_seen_documents(stream)
        .writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    first = {r.content_hash for r in spark.sql("select * from first_seen").collect()}
    assert len(first) == 30

    # batch 2: the same docs under new urls — must NOT be re-emitted
    pages.withColumn("url", F.concat("url", F.lit("#dup"))).coalesce(1).write.parquet(
        str(inp / "b2")
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "select content_hash, count(*) c from first_seen group by 1 having count(*) > 1"
    ).collect()
    assert rows == []
    total = spark.sql("select count(distinct content_hash) c from first_seen").collect()
    assert total[0]["c"] == 30


def test_streaming_curation_matches_batch(spark, tmp_path):
    """Streaming curate (render → quality/lang gate) + stateful first-seen
    dedup on the text fingerprint == the batch training_pipeline (single
    trigger, so within-batch first-url tiebreak = global lexicographic)."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.pipeline import training_pipeline
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.streaming.pipeline import curate_stream, stream_pages
    from rust_html2text_spark.streaming.stateful import first_seen

    pages = load_pages(spark, SF_DIR).limit(40)
    # inject duplicates under new urls so the dedup stage has real work
    dups = pages.limit(8).withColumn(
        "url", F.concat(F.lit("https://mirror.example/"), F.col("url"))
    )
    all_pages = pages.unionByName(dups)
    inp = str(tmp_path / "in")
    all_pages.coalesce(1).write.parquet(inp)

    curated = curate_stream(stream_pages(spark, inp), langs=("en",))
    deduped = first_seen(curated, "fingerprint")
    q = (
        deduped.writeStream.format("memory")
        .queryName("curated_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = {
        r.content_hash: (r.url, r.n_duplicates)
        for r in spark.sql("SELECT * FROM curated_stream").collect()
    }

    batch = {
        r.fingerprint: r.url
        for r in training_pipeline(all_pages, langs=("en",)).collect()
    }
    assert set(streamed) == set(batch)
    for fp, (url, _n) in streamed.items():
        assert batch[fp] == url, fp
    # the 8 mirrored docs must show up as duplicate counts, not new rows
    assert sum(n for _u, n in streamed.values()) == len(batch) + 8


def test_remove_repeated_lines_semantics(spark):
    from rust_html2text_spark.functions.webtext import remove_repeated_lines

    rows = [
        ("u1", "HEADER\nalpha\n\nbeta"),
        ("u2", "HEADER\ngamma\n\ndelta"),
        ("u3", "unique only"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = {r.url: r for r in remove_repeated_lines(df, min_count=2).collect()}
    # HEADER occurs twice -> removed; empty lines kept
    assert out["u1"].clean_text == "alpha\n\nbeta"
    assert out["u2"].clean_text == "gamma\n\ndelta"
    assert out["u3"].clean_text == "unique only"
    assert out["u1"].n_lines_kept == 3


def test_pii_scrub_redacts(spark):
    from rust_html2text_spark.functions.webtext import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@sub.example.org or call +44 (20) 7946-0958 now")],
        "doc_id long, text string",
    )
    r = pii_scrub(df).collect()[0]
    assert r.n_emails == 1 and r.n_phones == 1
    assert "<EMAIL>" in r.clean_text and "<PHONE>" in r.clean_text
    assert "example.org" not in r.clean_text and "7946" not in r.clean_text


def test_gopher_quality_flags(spark):
    from rust_html2text_spark.functions.webtext import gopher_quality

    good = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(30))
    repetitive = "spam ham " * 60
    df = spark.createDataFrame(
        [(1, good), (2, repetitive), (3, "## # * …")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality(df).collect()}
    assert out[1].passes_gopher
    assert not out[2].passes_gopher  # dup_bigram_frac ~ 1
    assert not out[3].passes_gopher  # symbol soup / too short


def test_simhash_near_dups_single_pass_plan(spark):
    """Plan-shape pin: the banding must evaluate the simhash UDF at most
    once per join side.  The round-2 union-per-band form re-evaluated it
    per band per side (36 ArrowEvalPython nodes at max_hamming=8); a
    nullable UDF output also splits each side in two via an inferred
    isnotnull pushdown.  Regression = this count creeping above 2."""
    from rust_html2text_spark.functions.dedup import simhash_near_dups

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = simhash_near_dups(docs.select("doc_id", "text"), max_hamming=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("ArrowEvalPython")
    assert 1 <= n <= 2, f"expected <=2 ArrowEvalPython nodes, got {n}"


def test_embedding_dups_recall_floor(spark):
    """Formalizes the recall claim in embedding_cosine_dups's docstring
    (functions/similarity.py): at threshold 0.5 the 12-table 4-bit LSH path
    must recall >=0.9 of the exact all-pairs answer (formula predicts 0.93
    at cosine exactly 0.5, higher above it).  Uses sf0.1 (2000 vectors, 14
    exact pairs — sf0.001 has none above 0.5) with a numpy exact oracle so
    only the operator under test runs in Spark."""
    import numpy as np
    import pyarrow.parquet as pq

    from rust_html2text_spark.functions.similarity import embedding_cosine_dups

    threshold = 0.5
    path = "/root/testdata/sf0.1/embeddings.parquet"
    tbl = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = tbl["vec_id"].to_numpy()
    E = np.vstack(tbl["embedding"].to_numpy())
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    sims = En @ En.T
    ia, ib = np.where(np.triu(sims > threshold, k=1))
    exact = {
        (int(min(ids[x], ids[y])), int(max(ids[x], ids[y])))
        for x, y in zip(ia, ib)
    }
    assert exact, "test corpus has no exact pairs above the threshold"

    emb = spark.read.parquet(path)
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_cosine_dups(emb, threshold=threshold).collect()
    }
    assert got <= exact
    recall = len(got) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(got)}/{len(exact)})"


def test_bloom_new_keys_exactness(spark):
    """new_keys_vs_snapshot must equal the plain anti-join at ANY Bloom
    false-positive rate — force a high-FP bloom (tiny bitmap) to prove the
    confirm join restores exactness, and check no-false-negatives."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.dedup import (
        bloom_build,
        bloom_probe_udf,
        new_keys_vs_snapshot,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.concat(F.lit("k"), F.col("doc_id").cast("string")).alias("key")
    )
    snapshot = docs.filter(F.col("doc_id") % 4 == 0).select("key")
    expect = {
        r.doc_id
        for r in docs.join(snapshot, "key", "left_anti").collect()
    }
    for num_bits in (1 << 16, 256):  # 256 bits over ~125 keys: FP-heavy
        got = {
            r.doc_id
            for r in new_keys_vs_snapshot(
                docs, snapshot, key_col="key", num_bits=num_bits
            ).collect()
        }
        assert got == expect, f"num_bits={num_bits}"
    # no false negatives: every snapshot key probes maybe-seen=True
    bloom = bloom_build(snapshot, "key", num_bits=1 << 16)
    probed = snapshot.withColumn("m", bloom_probe_udf(bloom)(F.col("key")))
    assert probed.filter(~F.col("m")).count() == 0


def test_pack_sequences_budget_property(spark):
    """Greedy packing invariants: deterministic across partitionings, and
    every doc STARTS within its sequence's budget (a sequence overflows by
    at most its final document)."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.pipeline import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    budget = 128
    packed = pack_sequences(docs, budget=budget, num_shards=4).collect()
    again = {
        (r.doc_id, r.shard, r.seq_no)
        for r in pack_sequences(
            docs.repartition(13), budget=budget, num_shards=4
        ).collect()
    }
    assert {(r.doc_id, r.shard, r.seq_no) for r in packed} == again

    from collections import defaultdict

    by_seq = defaultdict(int)
    starts_ok = True
    # reconstruct per-shard order deterministically: group sums suffice —
    # the start offset of a doc is (cumsum within its seq) - n_tokens
    import hashlib as h

    def order_key(doc_id):
        return int(h.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    rows = sorted(packed, key=lambda r: (r.shard, order_key(r.doc_id), r.doc_id))
    running = defaultdict(int)
    for r in rows:
        start = running[(r.shard, r.seq_no)]
        if start >= budget:
            starts_ok = False
        running[(r.shard, r.seq_no)] += r.n_tokens
        by_seq[(r.shard, r.seq_no)] += r.n_tokens
    assert starts_ok
    # sequences are dense per shard: 0..max with no gaps
    shards = {s for s, _ in by_seq}
    for s in shards:
        seqs = sorted(q for sh, q in by_seq if sh == s)
        assert seqs == list(range(len(seqs)))


# clique {1,2,3}, chain 10-11-12-13-14, pair {20,21}, plus a 30-node chain
# to force several propagation rounds
KNOWN_PAIRS = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (13, 14), (20, 21)]
KNOWN_PAIRS += [(100 + i, 101 + i) for i in range(30)]


def test_dup_components_known_graph(spark):
    """Chain, clique and isolated pair must resolve to min-id components;
    a long chain exercises multi-round convergence.  The round count pins
    the jump schedule (one pointer jump in rounds 1-2, two after)."""
    from rust_html2text_spark.functions.dedup import dup_components

    df = spark.createDataFrame(KNOWN_PAIRS, "doc_a long, doc_b long")
    stats = {}
    got = {r.doc_id: r.component_id for r in dup_components(df, stats=stats).collect()}
    assert {got[i] for i in (1, 2, 3)} == {1}
    assert {got[i] for i in (10, 11, 12, 13, 14)} == {10}
    assert {got[i] for i in (20, 21)} == {20}
    assert {got[100 + i] for i in range(31)} == {100}
    assert stats == {"rounds": 5, "converged": True}


def test_dup_components_writes_no_session_conf(spark, monkeypatch):
    """dup_components leaves the session conf alone: no RuntimeConfig
    set/unset call, and whole-stage codegen reads the same before and
    after (a session-global flip leaks into concurrent queries)."""
    from pyspark.sql.conf import RuntimeConfig

    from rust_html2text_spark.functions.dedup import dup_components

    calls = []
    for name in ("set", "unset"):
        orig = getattr(RuntimeConfig, name)

        def record(self, *args, _name=name, _orig=orig):
            calls.append((_name, args))
            return _orig(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, record)
    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    df = spark.createDataFrame(KNOWN_PAIRS, "doc_a long, doc_b long")
    assert dup_components(df).count() == 41
    assert calls == []
    assert spark.conf.get(key) == before


def _components_by_union_find(pairs):
    """doc_id → the minimum doc_id of its component, in one process."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _random_pair_graph(seed):
    """Stars, cliques, chains and a random forest on disjoint id ranges,
    with ids shuffled inside each shape (so a component's minimum sits
    anywhere in it), some pairs repeated and some in both directions."""
    import random

    rng = random.Random(seed)
    pairs, base = [], 0

    def ids(n):
        nonlocal base
        out = list(range(base, base + n))
        rng.shuffle(out)
        base += n + rng.randint(1, 5)
        return out

    for _ in range(rng.randint(2, 5)):  # stars
        hub, *leaves = ids(rng.randint(2, 12))
        pairs += [(hub, x) if rng.random() < 0.5 else (x, hub) for x in leaves]
    for _ in range(rng.randint(1, 3)):  # cliques
        nodes = ids(rng.randint(2, 6))
        pairs += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1 :]]
    for _ in range(rng.randint(1, 3)):  # chains
        nodes = ids(rng.randint(2, 40))
        pairs += list(zip(nodes, nodes[1:]))
    nodes = ids(rng.randint(10, 60))  # a random forest
    pairs += [
        (x, rng.choice(nodes[:i]))
        for i, x in enumerate(nodes)
        if i and rng.random() < 0.8
    ]
    pairs += [(b, a) for a, b in rng.sample(pairs, len(pairs) // 4)]
    pairs += rng.sample(pairs, len(pairs) // 8)
    return pairs


def _shuffled_path(n, seed):
    """One path over n ids in a seeded random order: the component's
    minimum sits anywhere along it, and so do many local minima."""
    import random

    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


@pytest.mark.parametrize("graph", [1, 2, 3, 4, "path300"])
def test_dup_components_matches_union_find(spark, graph):
    """component_id is the minimum doc_id of the node's component, as a
    union-find over the same pairs computes it, within the default
    max_iterations.  Shuffled ids along a path leave local minima that a
    pointer jump alone cannot pass (29 rounds for seed 1's diameter of
    39, and the 300-node path does not converge in 25); the hooking step
    converges both in a handful of rounds."""
    from rust_html2text_spark.functions.dedup import dup_components

    if graph == "path300":
        pairs = _shuffled_path(300, seed=300)
    else:
        pairs = _random_pair_graph(graph)
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    stats = {}
    labels = dup_components(df, stats=stats)
    got = {r.doc_id: r.component_id for r in labels.collect()}
    assert stats["converged"]
    assert got == _components_by_union_find(pairs)


def test_dup_components_job_budget(spark):
    """dup_components runs at most 2 jobs of set-up and 5 per round; the
    convergence check rides on each round's checkpoint."""
    from rust_html2text_spark.functions.dedup import dup_components

    df = spark.createDataFrame(KNOWN_PAIRS, "doc_a long, doc_b long")
    stats = {}
    labels, jobs = _jobs_started(spark, lambda: dup_components(df, stats=stats))
    assert stats == {"rounds": 5, "converged": True}
    assert jobs <= 2 + 5 * stats["rounds"]
    _, jobs = _jobs_started(spark, labels.collect)
    assert jobs == 1  # the labels are already computed


def test_render_scan_pruned_to_url_html(spark, tmp_path):
    """Column pruning must reach the parquet scan: rendering a wide pages
    table may read ONLY url+html (at 100 TB, reading text/lang/warc_ts too
    would multiply scan bytes)."""
    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages

    p = str(tmp_path / "pages")
    load_pages(spark, SF_DIR).limit(50).write.parquet(p)
    df = render_pages(spark.read.parquet(p), width=80)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan  # one payload scan
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, "no parquet scan in plan"
    for line in scans:
        schema = line.split("ReadSchema:", 1)[1]
        assert "url" in schema and "html" in schema
        for unwanted in ("text", "lang", "warc_ts"):
            assert unwanted not in schema, line


def _jobs_started(spark, build):
    """(build(), the number of Spark jobs build() started), counted by
    statusTracker job ids under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _deduped_inputs(spark, tmp_path):
    """40 payloads distinct by construction, materialized to parquet so
    the operator's own plan is measured from a plain scan, and the same
    pages with every payload three times."""
    p = str(tmp_path / "pages")
    spark.createDataFrame(
        [
            (
                f"https://h.example/{i}",
                f"<html><body><h1>Page {i}</h1><p>{'word ' * (i + 1)}</p>"
                f"<ul><li>item {i}</li></ul></body></html>".encode(),
            )
            for i in range(40)
        ],
        "url string, html binary",
    ).write.parquet(p)
    pages = spark.read.parquet(p)
    return pages, pages.unionByName(pages).unionByName(pages)


def test_render_deduped_rows_match_render_pages(spark, tmp_path):
    """render_pages_deduped plans one payload exchange for a near-distinct
    and for a duplicated corpus alike; its rows equal render_pages on the
    same input plus md5(html) as content_hash (the direct route a caller
    that knows its corpus is near-distinct builds itself)."""
    import hashlib
    from collections import Counter

    from rust_html2text_spark.operators.render import (
        render_pages,
        render_pages_deduped,
    )

    pages, dup = _deduped_inputs(spark, tmp_path)
    md5 = {r.url: hashlib.md5(r.html).hexdigest() for r in pages.collect()}

    def rows(dicts):
        return Counter(tuple(sorted(d.items())) for d in dicts)

    for src in (pages, dup):
        deduped = render_pages_deduped(src)
        plan = deduped._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        expected = rows(
            dict(r.asDict(), content_hash=md5[r.url])
            for r in render_pages(src).collect()
        )
        assert rows(r.asDict() for r in deduped.collect()) == expected
        assert sum(expected.values()) == src.count()


def test_render_deduped_builder_runs_no_job(spark, tmp_path):
    """Building render_pages_deduped's DataFrame starts no Spark job, on
    a duplicated and on a distinct input: a plan builder decides nothing
    from the data."""
    from rust_html2text_spark.operators.render import render_pages_deduped

    pages, dup = _deduped_inputs(spark, tmp_path)
    for src in (dup, pages):
        _, jobs = _jobs_started(spark, lambda: render_pages_deduped(src))
        assert jobs == 0


def test_chunk_documents_reconstruction(spark):
    """Non-overlapping chunks (stride == chunk) concatenate back to the
    exact token stream; overlapping chunks respect size and overlap."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.pipeline import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    src = {
        r.doc_id: " ".join(r.text.strip().split())
        for r in docs.collect()
        if r.text is not None
    }
    flat = chunk_documents(docs, chunk_tokens=16, stride=16).collect()
    rebuilt = {}
    for r in sorted(flat, key=lambda r: (r.doc_id, r.chunk_id)):
        rebuilt[r.doc_id] = (rebuilt.get(r.doc_id, "") + " " + r.chunk_text).strip()
        assert r.n_tokens == len(r.chunk_text.split()) <= 16
    assert rebuilt == src

    over = chunk_documents(docs, chunk_tokens=16, stride=8).collect()
    by_doc = {}
    for r in over:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split()
    for doc_id, chunks in by_doc.items():
        for i in range(len(chunks) - 1):
            # consecutive chunks overlap by chunk - stride = 8 tokens
            assert chunks[i][8:] == chunks[i + 1][: len(chunks[i][8:])]


def test_sink_metrics_table(spark, tmp_path):
    """The sink writes a per-file lineage table (_metrics/bucket=*) whose
    totals equal the manifest and the actual output."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.sources.sink import run_with_resume

    pages = load_pages(spark, SF_DIR).limit(60).cache()
    out = str(tmp_path / "out")
    s = run_with_resume(pages, out, num_buckets=3)
    assert s["rows"] == 60
    metrics = spark.read.parquet(f"{out}/_metrics/bucket=*")
    mrow = metrics.agg(
        F.sum("rows").alias("rows"), F.sum("text_bytes").alias("tb")
    ).collect()[0]
    assert mrow["rows"] == 60
    data = spark.read.parquet(f"{out}/bucket=*")
    drow = data.agg(
        F.count("*").alias("rows"), F.sum("text_bytes").alias("tb")
    ).collect()[0]
    assert (mrow["rows"], mrow["tb"]) == (drow["rows"], drow["tb"])
    # every metrics row names a real committed file
    import os

    for r in metrics.collect():
        assert os.path.exists(r["file"].replace("file://", "")), r["file"]
        assert r["rows"] > 0


def test_duplicated_span_fraction_known_answer(spark):
    """Two docs sharing an exact 10-token run: the 3 overlapping duplicated
    8-shingles must merge to a single 10-token covered span in each; a
    unique doc gets 0."""
    from rust_html2text_spark.functions.dedup import duplicated_span_fraction

    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "a1 a2 a3 " + shared + " a4 a5"),
        (2, "b1 b2 " + shared + " b3 b4 b5 b6"),
        (3, " ".join(f"u{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in duplicated_span_fraction(df, k=8).collect()}
    assert got[1].dup_tokens == 10 and got[1].n_tokens == 15
    assert got[2].dup_tokens == 10 and got[2].n_tokens == 16
    assert got[3].dup_tokens == 0 and got[3].dup_fraction == 0.0
    assert abs(got[1].dup_fraction - round(10 / 15, 6)) < 1e-9


def test_curation_verdict_reasons(spark):
    """Each rule fires on a crafted document, in the fixed reason order."""
    from rust_html2text_spark.functions.webtext import curation_verdict

    sw = "the and of to a in is it that for".split()
    # 60 tokens: en stopwords interleaved with unique long fillers — mean
    # word length ~4, all bigrams unique, en vote dominant
    good = " ".join(w for i in range(30) for w in (sw[i % 10], f"word{i:02d}"))
    rows = [
        (1, good),                                     # keep
        (2, "the and of to a"),                        # too_short
        (3, " ".join(["ab"] * 60)),                    # word_len (mean 2) + repetitive
        (4, good + " " + "#*…# " * 30),                # symbol_ratio (+word_len?)
        (5, " ".join(
            w
            for i in range(30)
            for w in ("le la les et est un une des que pour".split()[i % 10],
                      f"mot{i:02d}xx")
        )),  # lang=fr (same healthy shape as `good`, french stopwords)
        (6, None),                                     # dropped (NULL text)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in curation_verdict(df).collect()}
    assert 6 not in got
    assert got[1].keep and got[1].reasons == ""
    assert "too_short" in got[2].reasons and not got[2].keep
    assert "word_len" in got[3].reasons and "repetitive" in got[3].reasons
    assert "symbol_ratio" in got[4].reasons
    assert got[5].reasons == "lang" and not got[5].keep
    # reasons are emitted in rule order
    assert got[3].reasons.split(",") == sorted(
        got[3].reasons.split(","),
        key=["too_short", "word_len", "symbol_ratio", "repetitive", "lang"].index,
    )


def test_curation_verdict_robots_noindex(spark):
    """A noindex robots directive drops the page with reason
    robots_noindex, ahead of the quality rules; NULL robots and other
    tokens (nofollow alone) do not fire; token match is exact (no
    substring hit on e.g. 'nonoindexy')."""
    from rust_html2text_spark.functions.webtext import curation_verdict

    sw = "the and of to a in is it that for".split()
    good = " ".join(w for i in range(30) for w in (sw[i % 10], f"word{i:02d}"))
    rows = [
        (1, good, "noindex,nofollow"),
        (2, good, "nofollow"),
        (3, good, None),
        (4, "the and of", "noindex"),  # robots + too_short, in order
        (5, good, "nonoindexy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, robots string")
    got = {
        r.doc_id: r
        for r in curation_verdict(df, robots_col="robots").collect()
    }
    assert got[1].reasons == "robots_noindex" and not got[1].keep
    assert got[2].keep and got[3].keep and got[5].keep
    assert got[4].reasons == "robots_noindex,too_short,word_len"
    # without robots_col the column is ignored entirely
    got_plain = {
        r.doc_id: r for r in curation_verdict(df.drop("robots")).collect()
    }
    assert got_plain[1].keep


def test_bpe_ish_token_count(spark):
    """The BPE-ish regex count splits punctuation/contractions that
    whitespace tokenization lumps together."""
    from rust_html2text_spark.functions.textstats import token_count

    df = spark.createDataFrame(
        [(1, "it's done, v2.0 (finally)!")], "doc_id long, text string"
    )
    row = token_count(df).collect()[0]
    # whitespace: ["it's", "done,", "v2.0", "(finally)!"] = 4
    assert row.n_tokens == 4
    # BPE-ish: it 's done , v 2 . 0 ( finally )! = 11
    assert row.n_bpe_tokens == 11


def test_bloom_build_tree_reduction(spark):
    """The bitmap fan-in to the driver must be O(sqrt(P)), and the tree-
    reduced filter must be bit-identical to a flat single-partition build
    (VERDICT r3 #2: at 100k files a flat collect is ~12 GB through the
    driver)."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.dedup import (
        _reduced_bitmap_frame,
        bloom_build,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("key"))
        .repartition(64)  # forced-many-partition input
    )
    reduced = _reduced_bitmap_frame(docs, "key", 1 << 13, 4)
    n_collected = reduced.count()
    assert n_collected <= 8, f"driver sees {n_collected} bitmaps for P=64"
    tree = bloom_build(docs, "key", num_bits=1 << 13)
    flat = bloom_build(docs.coalesce(1), "key", num_bits=1 << 13)
    assert tree == flat


def test_new_keys_vs_snapshot_null_keys(spark):
    """ADVICE(medium): NULL-key corpus rows must be kept (a plain anti-join
    keeps them — NULL never matches a join key), not silently dropped by
    the Bloom routing."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.dedup import new_keys_vs_snapshot

    corpus = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None), (5, "c")], "doc_id long, key string"
    )
    snapshot = spark.createDataFrame([("a",), ("c",)], "key string")
    got = {r.doc_id for r in new_keys_vs_snapshot(corpus, snapshot, "key").collect()}
    expect = {
        r.doc_id for r in corpus.join(snapshot, "key", "left_anti").collect()
    }
    assert got == expect == {2, 3, 4}


def test_dup_components_warns_on_non_convergence(spark):
    """ADVICE(low): exhausting max_iterations with labels still moving must
    warn (under-merged clustering), and enough rounds must converge a long
    chain silently."""
    import warnings as w

    from rust_html2text_spark.functions.dedup import dup_components

    # chain 0-1-2-...-19: diameter 19, needs ~log2 rounds via pointer jumping
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "doc_a long, doc_b long"
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        partial = dup_components(pairs, max_iterations=1)
        partial.collect()
        assert any("UNDER-MERGED" in str(c.message) for c in caught)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        full = dup_components(pairs, max_iterations=25).collect()
        assert not any("UNDER-MERGED" in str(c.message) for c in caught)
    assert {(r.doc_id, r.component_id) for r in full} == {
        (i, 0) for i in range(20)
    }


def test_simhash_scale_default_guard(spark):
    """VERDICT r3 #4: narrow bands (max_hamming>3) without a max_bucket cap
    must emit a loud warning; capped or wide-band calls stay silent."""
    import warnings as w

    from rust_html2text_spark.functions.dedup import simhash_near_dups

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(20)
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        simhash_near_dups(docs, max_hamming=8)
        assert any("hostile at crawl scale" in str(c.message) for c in caught)
    for kwargs in ({"max_hamming": 8, "max_bucket": 500}, {"max_hamming": 3}):
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            simhash_near_dups(docs, **kwargs)
            assert not any(
                "hostile at crawl scale" in str(c.message) for c in caught
            ), kwargs


def _java_ws_tokens(text):
    """Spark's split(trim(text), '\\s+'): trim strips spaces only, and
    Java-regex \\s is [ \\t\\n\\x0B\\f\\r] (no Unicode spaces)."""
    import re

    return re.split("[ \t\n\x0b\f\r]+", text.strip(" "))


def test_chunk_documents_matches_python_rule(spark):
    """chunk_documents is one narrow plan (no Python chunker, no second
    lane), and every row equals the chunking rule written in Python, on a
    corpus spiked with a 100k-token document, hostile whitespace, empty
    and blank texts, a NULL and a U+3000 space."""
    import re

    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.pipeline import chunk_documents

    big_text = " ".join(f"tok{i}" for i in range(100_000))
    hostile = "\t lead nbsp\ttab\nnl\x0bvt\x0cff\rcr  multi   space "
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    spiked = docs.limit(50).unionByName(
        spark.createDataFrame(
            [
                (100001, big_text),
                (100002, hostile),
                (100003, ""),
                (100004, "   "),
                (100005, None),
                (100006, "wide\u3000space  here"),
            ],
            "doc_id long, text string",
        )
    )

    def py_chunks(doc_id, text, ct, st):
        toks = _java_ws_tokens(text)
        n = len(toks)
        count = 1 if n <= ct else (n - ct + st - 1) // st + 1
        return [
            (doc_id, i, " ".join(toks[i * st : i * st + ct]), min(ct, n - i * st))
            for i in range(count)
        ]

    src = [(r.doc_id, r.text) for r in spiked.collect() if r.text is not None]
    for ct, st in ((64, 48), (3, 2)):
        got = chunk_documents(spiked, chunk_tokens=ct, stride=st)
        expected = sorted(c for d, t in src for c in py_chunks(d, t, ct, st))
        assert sorted(tuple(r) for r in got.collect()) == expected, (ct, st)
    # chunk 0 of the giant doc rebuilds its first chunk_tokens tokens
    got = {
        r.doc_id: r.chunk_text
        for r in chunk_documents(spiked, chunk_tokens=64, stride=48)
        .filter(F.col("chunk_id") == 0)
        .collect()
    }
    assert got[100001].split(" ") == big_text.split(" ")[:64]

    plan = (
        chunk_documents(docs, chunk_tokens=64, stride=48)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 1, plan
    assert len(re.findall(r"\bGenerate\b", plan)) == 1, plan
    for node in ("MapInPandas", "Union", "Exchange"):
        assert node not in plan, plan

    with pytest.raises(ValueError):
        chunk_documents(spiked, chunk_tokens=64, stride=0)


def test_shingle_size_one_matches_python(spark):
    """Unigram shingles: MinHash signatures, LSH pairs and duplicated-span
    coverage at shingle size 1 equal the same rules written in Python over
    the same lower-cased tokens; a size below 1 is refused."""
    import hashlib
    from collections import Counter
    from itertools import combinations

    from rust_html2text_spark.functions.dedup import (
        duplicated_span_fraction,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [
        (1, "A b a c"),
        (2, "b  B\tb"),
        (3, None),
        (4, "z"),
        (5, "c a B"),
        (6, " q r s t "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = {d: _java_ws_tokens(t.lower()) for d, t in rows if t is not None}

    def py_sig(ts):
        return tuple(
            min(hashlib.md5(f"{t}#{i}".encode()).hexdigest() for t in ts)
            for i in range(4)
        )

    sigs = {
        r.doc_id: (r.mh0, r.mh1, r.mh2, r.mh3)
        for r in minhash_signatures(docs, num_hashes=4, shingle_size=1).collect()
    }
    assert sigs == {
        d: (py_sig(toks[d]) if d in toks else (None,) * 4) for d, _ in rows
    }

    py_pairs = {
        (a, b)
        for a, b in combinations(sorted(toks), 2)
        if any(py_sig(toks[a])[i : i + 2] == py_sig(toks[b])[i : i + 2] for i in (0, 2))
    }
    got_pairs = lsh_candidate_pairs(docs, num_hashes=4, band_size=2, shingle_size=1)
    assert {(r.doc_a, r.doc_b) for r in got_pairs.collect()} == py_pairs
    assert (1, 5) in py_pairs  # same unigram set {a, b, c}

    counts = Counter(t for ts in toks.values() for t in ts)
    spans = {
        r.doc_id: (r.n_tokens, r.dup_tokens)
        for r in duplicated_span_fraction(docs, k=1).collect()
    }
    assert spans == {
        d: (len(ts), sum(counts[t] > 1 for t in ts)) for d, ts in toks.items()
    }

    for call in (
        lambda: minhash_signatures(docs, shingle_size=0),
        lambda: duplicated_span_fraction(docs, k=0),
    ):
        with pytest.raises(ValueError):
            call()


def test_lang_id_ten_languages(spark):
    """VERDICT r3 #5: lang_id covers 10 languages. Accuracy spot-test on a
    deterministic multilingual slice (real function-word-laden sentences),
    plus tie-break and backward-compatibility invariants."""
    from rust_html2text_spark.functions.textstats import LANG_PRIORITY, lang_id

    sentences = {
        "en": "the cat sat on the mat and it is clear that the plan is good for everyone in the room",
        "de": "der hund und die katze sind nicht in das haus zu den leuten mit einem ball gegangen",
        "fr": "le chien et la souris sont dans les champs pour que la vie est une belle chose",
        "es": "el perro que vive con los vecinos por la mañana se fue para las montañas y está feliz",
        "it": "il cane che corre per la strada non è di questo quartiere ma sono sicuro anche della gatta",
        "pt": "você não sabe que isso é uma coisa muito boa mas ele quer mais dos outros são todos",
        "nl": "het is niet een groot huis maar ik denk dat wij van de tuin zijn gaan houden met plezier voor iedereen",
        "ru": "и вот он сказал что это не на самом деле так как его по правде никто не видел в городе",
        "zh": "这是我们的房子他们都在这里我不知道是不是他的了就是这样",
        "ja": "これはわたしのいえですねこをみたのはきのうでしたがとてもかわいかったですよ",
    }
    assert set(sentences) == set(LANG_PRIORITY)
    docs = spark.createDataFrame(
        [(i, sentences[lang]) for i, lang in enumerate(LANG_PRIORITY)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in lang_id(docs).collect()}
    assert got == {i: lang for i, lang in enumerate(LANG_PRIORITY)}, got

    # schema: one hits column per language, priority order preserved
    cols = lang_id(docs).columns
    assert cols == ["doc_id"] + [f"{lang}_hits" for lang in LANG_PRIORITY] + [
        "pred_lang"
    ]

    # all-zero votes tie-break to 'en' (backward compatible with the old
    # 3-language chain's default)
    zero = spark.createDataFrame([(0, "xyzzy plugh 42")], "doc_id long, text string")
    assert lang_id(zero).collect()[0].pred_lang == "en"

    # no UDF in the plan — the op stays whole-stage-codegen
    plan = lang_id(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_rolling_hash_extend_consistency(spark):
    """VERDICT r3 #7: the incremental extension h(doc+suffix) derived from
    h(doc) must equal the from-scratch hash for every document, including
    hostile ones (trailing whitespace, single char)."""
    import __spark_entry__ as entry

    df = entry.queries()["rolling_hash_extend"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.consistent for r in rows)
    assert all(r.extended_hash == r.direct_hash for r in rows)

    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.textstats import (
        extend_rolling_hash,
        rolling_fingerprint,
    )

    docs = spark.createDataFrame(
        [(1, "hello world  "), (2, "x")], "doc_id long, text string"
    )
    h = rolling_fingerprint(docs)
    joined = docs.join(h, "doc_id")
    ext = joined.select(
        "doc_id",
        extend_rolling_hash(F.col("rolling_hash"), F.lit(" more")).alias("he"),
    )
    # from-scratch over the extended text (normalization collapses the
    # trailing whitespace exactly as the incremental stream assumes)
    direct = rolling_fingerprint(
        docs.select("doc_id", F.concat(F.col("text"), F.lit(" more")).alias("text"))
    )
    got = {r.doc_id: r.he for r in ext.collect()}
    want = {r.doc_id: r.rolling_hash for r in direct.collect()}
    assert got == want


def test_resume_with_another_layout_raises(spark, tmp_path):
    """A crash after buckets 0-1 of a 4-bucket run, then a resume with 2
    buckets: the committed buckets 0-1 hold other urls than the new
    buckets 0-1, so the resume must refuse instead of committing a
    snapshot that misses rows.  A changed width or mode is refused too;
    the same layout still resumes."""
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.sources.sink import completed_buckets, run_with_resume

    pages = load_pages(spark, SF_DIR).limit(60).cache()
    out = str(tmp_path / "out")
    run_with_resume(pages, out, num_buckets=4)
    for b in (2, 3):  # the crash: buckets 2-3 never committed
        (tmp_path / f"out/_manifest/{b}.json").unlink()
    assert completed_buckets(out) == {0, 1}

    with pytest.raises(ValueError, match="num_buckets"):
        run_with_resume(pages, out, num_buckets=2)
    with pytest.raises(ValueError, match="width"):
        run_with_resume(pages, out, num_buckets=4, width=60)
    with pytest.raises(ValueError, match="mode"):
        run_with_resume(pages, out, num_buckets=4, mode="extract")
    assert completed_buckets(out) == {0, 1}

    s = run_with_resume(pages, out, num_buckets=4)
    assert s["buckets_skipped"] == 2
    assert spark.read.parquet(f"{out}/bucket=*").count() == 60


def test_resume_with_another_config_raises(spark, tmp_path):
    """A crash after bucket 0 of a 2-bucket run, then a resume with other
    config_kwargs or render_kwargs: the committed bucket holds text of
    another config, so the resume must refuse instead of mixing two
    configs in one snapshot.  The same kwargs, in another key order,
    still resume."""
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.sources.sink import completed_buckets, run_with_resume

    pages = load_pages(spark, SF_DIR).limit(40).cache()
    out = str(tmp_path / "out")
    config = {"decorator": "plain", "link_footnotes": True}
    run_with_resume(pages, out, num_buckets=2, config_kwargs=config)
    (tmp_path / "out/_manifest/1.json").unlink()  # the crash
    assert completed_buckets(out) == {0}

    with pytest.raises(ValueError, match="config_kwargs"):
        run_with_resume(pages, out, num_buckets=2)
    with pytest.raises(ValueError, match="config_kwargs"):
        run_with_resume(
            pages, out, num_buckets=2,
            config_kwargs={"decorator": "rich", "link_footnotes": True},
        )
    with pytest.raises(ValueError, match="render_kwargs"):
        run_with_resume(
            pages, out, num_buckets=2, config_kwargs=config,
            render_kwargs={"coloured": True},
        )
    assert completed_buckets(out) == {0}

    s = run_with_resume(
        pages, out, num_buckets=2,
        config_kwargs={"link_footnotes": True, "decorator": "plain"},
    )
    assert s["buckets_skipped"] == 1
    assert spark.read.parquet(f"{out}/bucket=*").count() == 40
