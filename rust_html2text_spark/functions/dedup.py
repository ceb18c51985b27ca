"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
connected components and duplicated-span coverage.

Scale design:
- exact dedup = hash-groupBy on an md5 fingerprint (one shuffle, map-side
  partial aggregation for the counts).
- One word-shingle stream (`_shingle_stream`: posexplode + window `lead`,
  JVM built-ins, no UDF, one shuffle of the token stream) feeds both the
  MinHash signatures and `duplicated_span_fraction`.  MinHash takes md5
  hex-string minima over it in a `groupBy(doc_id)` (map-side partial
  min).  Only `minhash_signatures` joins back onto the docs, to keep
  NULL-text rows; LSH banding reads the aggregation.
- One banded self-join (`_banded_pairs`) serves every near-duplicate pair
  finder: MinHash LSH and SimHash here, embedding cosine in
  `similarity`.  Banding turns the O(n^2) pair search into a shuffle on
  (band, key) buckets; AQE skew-handles a hot bucket, and the optional
  `max_bucket` cap bounds its pairs in that one place.
- SimHash is a vectorized (Arrow/numpy) pandas UDF — the bit-twiddling is
  not expressible with built-ins, but stays batch-vectorized.
- `dup_components` resolves pairs into clusters by min-label propagation
  with pointer jumping and hooking; one exchange per label lookup.
"""

from __future__ import annotations

import hashlib
import math
import warnings
from itertools import accumulate

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from rust_html2text_spark.functions.textstats import normalized_text_col


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) documents."""
    return (
        docs.select(F.md5(normalized_text_col()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def _words(text_col: str = "text"):
    """The token array every shingle function reads: lower-cased, trimmed,
    split on whitespace runs."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def word_shingles(n: int = 3, text_col: str = "text"):
    """Distinct word n-gram shingles as an array column."""
    toks = _words(text_col)
    # shingle i = tokens[i..i+n) joined by space, for i in 0..len-n
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def _shingle_stream(
    rows: DataFrame, toks, n: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """One row per full word n-gram of the `toks` array column:
    (doc_id, *carry, pos, sh), where sh joins tokens pos .. pos+n-1 with a
    space.  A doc shorter than n tokens has no row.

    Built with posexplode + window `lead` (fully whole-stage codegen; Spark
    higher-order-function lambdas are interpreted and ~2-3x slower), so it
    costs one shuffle of the token stream (none at n = 1)."""
    if n < 1:
        raise ValueError("shingle size must be >= 1")
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", k).over(w).alias(f"l{k}") for k in range(1, n)]
    return (
        rows.select("doc_id", *carry, F.posexplode(toks).alias("pos", "tok"))
        .select("doc_id", *carry, "tok", *leads, "pos")
        .filter(F.col(f"l{n - 1}" if n > 1 else "tok").isNotNull())
        .select(
            "doc_id",
            *carry,
            "pos",
            F.concat_ws(" ", "tok", *[f"l{k}" for k in range(1, n)]).alias("sh"),
        )
    )


def _minhash_min(docs: DataFrame, num_hashes: int, shingle_size: int) -> DataFrame:
    """MinHash signature per doc, as one `groupBy(doc_id)`.  A NULL-text
    doc has no row (its signature is undefined, and banding NULLs would
    fold every such doc into one md5('') bucket)."""
    toks = _words()
    docs = docs.filter(F.col("text").isNotNull())
    long_sh = _shingle_stream(docs, toks, shingle_size).select("doc_id", "sh")
    # docs shorter than the shingle size contribute one whole-text shingle
    # (matches word_shingles' sequence(1, greatest(n-2, 1)) formulation)
    short_sh = docs.select(
        "doc_id", F.array_join(toks, " ").alias("sh")
    ).filter(F.size(toks) < shingle_size)
    all_sh = long_sh.unionByName(short_sh)
    aggs = [
        F.min(F.md5(F.concat(F.col("sh"), F.lit(f"#{i}")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return all_sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 8, shingle_size: int = 3
) -> DataFrame:
    """MinHash signature per doc: for seed i, min over shingles of
    md5(shingle || '#i') (hex strings compare consistently everywhere).

    Shingles come from the shared token stream (one shuffle); map-side
    partial min keeps the aggregation shuffle at one row per doc.
    NULL-text docs keep their row with NULL signatures (as a SQL oracle
    keeps the row with NULL columns), which costs a join back onto the
    docs.
    """
    sigs = _minhash_min(docs, num_hashes, shingle_size)
    return docs.select("doc_id").join(sigs, "doc_id", "left")


def _banded_pairs(
    frame: DataFrame,
    keys: list,
    max_bucket: int | None,
    ids: tuple[str, str, str] = ("doc_id", "doc_a", "doc_b"),
    carry: tuple[str, ...] = (),
    extra: tuple = (),
) -> DataFrame:
    """LSH banding, shared by every near-duplicate pair finder: the pairs
    (a, b, *extra), a < b, once each, of `frame` rows whose key agrees in
    at least one band.  `keys` holds one key expression per band over
    `frame`; `ids` names the id column and the two output columns.

    One pass explodes a (band, band_key) struct per band, so whatever
    computes the keys runs once per join side, not once per band (a union
    of per-band selects re-ran the shingle and md5 work, or the SimHash
    UDF, per band).  The self-join shuffles on (band, band_key); AQE
    splits a hot bucket.

    `max_bucket` caps the per-(band, key) population: a bucket of B rows
    yields B² candidate pairs, so one boilerplate-heavy template group can
    dominate the join output at crawl scale.  Buckets over the cap are
    dropped from THAT band only.  The cap is a window count over the join
    key itself: one more shuffle on the SAME key the self-join needs and,
    unlike a count-join, no second run of the key pipeline.  None
    disables it.

    `carry` columns ride through the bands, and `extra` output columns
    read them on the join sides `l` and `r`."""
    id_col, a, b = ids
    bands = F.array(
        *[
            F.struct(F.lit(i).alias("band"), key.alias("band_key"))
            for i, key in enumerate(keys)
        ]
    )
    all_bands = frame.select(id_col, *carry, F.explode(bands).alias("b")).select(
        id_col,
        *carry,
        F.col("b.band").alias("band"),
        F.col("b.band_key").alias("band_key"),
    )
    if max_bucket is not None:
        wb = Window.partitionBy("band", "band_key")
        all_bands = (
            all_bands.withColumn("_n", F.count("*").over(wb))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    left = all_bands.alias("l")
    right = all_bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias(a), F.col(f"r.{id_col}").alias(b), *extra
        )
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_size: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding of the MinHash
    signature (band matches ⇒ candidate): band b's key is the md5 of
    signature columns b·band_size .. (b+1)·band_size - 1.

    max_bucket caps the per-(band, key) population (see `_banded_pairs`):
    a pair sharing a cooler band is still found, and byte-identical
    groups should be removed by exact_dup_groups first anyway.  None
    (default) disables the cap.

    Jobs, with adaptive execution: 4 when the result is materialized,
    on a small corpus.  The token stream's window exchange, the
    signature aggregation's exchange (both join sides read it), the
    build side of the band self-join (a broadcast while the bands are
    small, an exchange on (band, band_key) when they are not) and the
    result.  The bands read the aggregation itself: the join back onto
    the docs that `minhash_signatures` pays only adds the NULL-text
    rows that banding drops.  `max_bucket` adds one window exchange on
    the band key.
    """
    if num_hashes % band_size != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of band_size "
            f"({band_size}); a partial band would reference missing columns"
        )
    keys = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{i}") for i in range(b, b + band_size)]))
        for b in range(0, num_hashes, band_size)
    ]
    return _banded_pairs(
        _minhash_min(docs, num_hashes, shingle_size), keys, max_bucket
    )


def ngram_jaccard(
    docs: DataFrame, pairs: DataFrame | None = None, shingle_size: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    With pairs=None, candidates come from MinHash-LSH banding (never an
    all-pairs join — O(n^2) is not a plan that survives scale); pass an
    explicit `pairs` frame to score a different candidate set.
    """
    sh = docs.select("doc_id", word_shingles(shingle_size).alias("shingles"))
    if pairs is None:
        pairs = lsh_candidate_pairs(docs, shingle_size=shingle_size)
    joined = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("shingles", "sh_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("shingles", "sh_b")
        .select(
            F.col("doc_a").alias("a_id"),
            F.col("doc_b").alias("b_id"),
            F.col("sh_a"),
            F.col("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        F.col("a_id").alias("doc_a"),
        F.col("b_id").alias("doc_b"),
        (inter / union).alias("jaccard"),
    )


def simhash_py(text: str, bits: int = 64) -> int:
    """Reference SimHash for one document (used by the UDF and tests)."""
    acc = [0] * bits
    for tok in text.lower().split():
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for b in range(bits):
            acc[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(bits):
        if acc[b] >= 0:
            out |= 1 << b
    # two's-complement into signed int64 (so XOR/hamming relationships hold)
    return out - (1 << 64) if out >= (1 << 63) else out


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized SimHash: one hashlib.md5 per *unique* token in the batch,
    then the 64-bit expansion, per-row accumulation and bit packing run as
    numpy matrix ops (same signatures as `simhash_py`, tested against it)."""
    import numpy as np

    n = len(texts)
    vocab: dict[str, int] = {}
    flat_idx: list[int] = []  # vocab index per token occurrence, row-major
    row_ends = np.zeros(n, dtype=np.int64)
    null_rows = np.zeros(n, dtype=bool)
    count = 0
    for rowno, t in enumerate(texts):
        if t is None:
            null_rows[rowno] = True
        else:
            for tok in t.lower().split():
                flat_idx.append(vocab.setdefault(tok, len(vocab)))
                count += 1
        row_ends[rowno] = count

    if vocab:
        h = np.frombuffer(
            b"".join(
                hashlib.md5(tok.encode("utf-8")).digest()[:8] for tok in vocab
            ),
            dtype=">u8",
        ).astype(np.uint64)
        # (n_unique, 64) in {-1, +1}: contribution of each token to each bit
        contrib = (
            ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
            .astype(np.int32) * 2 - 1
        )
    else:
        contrib = np.zeros((0, 64), dtype=np.int32)

    occ = contrib[np.asarray(flat_idx, dtype=np.int64)] if flat_idx else contrib
    csum = np.vstack([np.zeros((1, 64), dtype=np.int64), occ.cumsum(axis=0)])
    acc = csum[row_ends] - csum[np.concatenate(([0], row_ends[:-1]))]
    bits = (acc >= 0).astype(np.uint64)
    packed = np.bitwise_or.reduce(
        bits << np.arange(64, dtype=np.uint64), axis=1
    ).view(np.int64)
    out = pd.Series(packed, dtype="Int64")
    out[null_rows] = None
    return out


# a module-level function ships by reference, so the worker imports the
# package (and its per-task import fix) before the first batch
simhash_udf = pandas_udf(_simhash_batch, LongType())


def simhash(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", simhash_udf(F.col("text")).alias("simhash"))


def simhash_band_widths(max_hamming: int) -> list[int]:
    """Band widths for a guaranteed-recall SimHash banding: splitting 64
    bits into B = max_hamming + 1 bands means any pair within hamming <=
    max_hamming agrees exactly on at least one band (pigeonhole)."""
    num_bands = max_hamming + 1
    if num_bands > 64:
        raise ValueError(f"max_hamming must be < 64, got {max_hamming}")
    base, rem = divmod(64, num_bands)
    return [base + 1] * rem + [base] * (num_bands - rem)


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, with *guaranteed*
    recall: the 64 bits split into max_hamming + 1 bands, so every pair
    within the threshold shares at least one exact band (pigeonhole) and
    the banded candidate set provably contains the full answer.  Tighter
    thresholds mean fewer, wider bands — i.e. smaller buckets — so the
    parameter that improves precision also improves scale: max_hamming=3
    gives 4 bands of 16 bits (65k buckets per band, ~n/65k expected
    members), while max_hamming=8 gives 9 bands of ~7 bits (128 buckets,
    ~n/128 members — fine at sf-scale, hostile at 10^9 docs).  At crawl
    scale either lower the threshold or set `max_bucket` to drop
    over-populated band buckets; the cap BREAKS the recall guarantee for
    pairs whose every shared band is hot, in exchange for bounded work
    (the capped buckets are dominated by templated near-identical content
    that exact dedup should have removed first).

    Scale guard: when the banding yields bands narrower than 16 bits
    (max_hamming > 3 ⇒ < 65k buckets per band) and no `max_bucket` cap is
    set, a RuntimeWarning fires — at crawl scale such buckets hold ~n/2^w
    docs each and the banded self-join degenerates toward quadratic."""
    # Drop NULL-text docs BEFORE the UDF (the predicate reaches the parquet
    # scan), and wrap the UDF in coalesce(..., 0) — a no-op on non-null text
    # — so the simhash column is provably non-nullable.  Any nullable UDF
    # output here makes Catalyst infer isnotnull() from the join/hamming
    # predicates and push it below the projection, splitting the plan into
    # TWO ArrowEvalPython nodes per side (the UDF runs twice per row).
    s = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.coalesce(simhash_udf(F.col("text")), F.lit(0)).alias("simhash"),
    )
    widths = simhash_band_widths(max_hamming)
    if min(widths) < 16 and max_bucket is None:
        warnings.warn(
            f"simhash_near_dups: max_hamming={max_hamming} gives bands of "
            f"{min(widths)} bits (only {1 << min(widths)} buckets per band) "
            f"— expected bucket size is n/2^{min(widths)}, hostile at crawl "
            f"scale. Set max_bucket to bound the banded join, or lower "
            f"max_hamming to ≤3 (16-bit bands).",
            RuntimeWarning,
            stacklevel=2,
        )
    keys = [
        F.shiftrightunsigned(F.col("simhash"), o).bitwiseAND(F.lit((1 << w) - 1))
        for o, w in zip(accumulate(widths, initial=0), widths)
    ]
    # the simhash rides through the bands to score each joined pair
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    cand = _banded_pairs(
        s, keys, max_bucket, carry=("simhash",), extra=(hamming.alias("hamming"),)
    )
    return cand.filter(F.col("hamming") <= max_hamming)


# -- incremental cross-snapshot dedup (Bloom pre-filter + exact confirm) ------


def _bloom_positions(value: str, num_bits: int, num_hashes: int) -> list[int]:
    """k deterministic bit positions per value (md5 over value|seed)."""
    return [
        int.from_bytes(
            hashlib.md5(f"{value}|{seed}".encode("utf-8")).digest()[:8], "big"
        )
        % num_bits
        for seed in range(num_hashes)
    ]


def _or_bitmaps(batches, nb: int):
    """OR a partition's `bitmap` rows into one (none for an empty one)."""
    import numpy as np

    acc = np.zeros(nb // 8, dtype=np.uint8)
    seen = False
    for pdf in batches:
        for b in pdf["bitmap"]:
            if b is None:
                continue
            acc |= np.frombuffer(bytes(b), dtype=np.uint8)
            seen = True
    if seen:
        yield pd.DataFrame({"bitmap": [acc.tobytes()]})


def _reduced_bitmap_frame(
    df: DataFrame, key_col: str, nb: int, k: int
) -> DataFrame:
    """Per-partition Bloom bitmaps, tree-reduced so the driver collects
    O(√P) rows instead of P.  Level 1: mapInPandas builds one bitmap per
    input partition.  Level 2 (only when P > 4): repartition the bitmap
    rows to ⌈√P⌉ and OR within each partition — executors absorb the P-way
    fan-in, the driver sees at most ⌈√P⌉ bitmaps.  At 100k input files and
    a 1 MiB filter that is ~316 MB of driver traffic instead of ~12 GB."""

    def build(batches):
        import numpy as np
        import pandas as pd

        bitmap = np.zeros(nb // 8, dtype=np.uint8)
        seen = False
        for pdf in batches:
            for v in pdf[key_col].dropna():
                seen = True
                for pos in _bloom_positions(str(v), nb, k):
                    bitmap[pos >> 3] |= 1 << (pos & 7)
        if seen:
            yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    bitmaps = df.select(key_col).mapInPandas(build, "bitmap binary")
    p = df.rdd.getNumPartitions()
    if p > 4:
        fanin = max(1, math.isqrt(p))
        bitmaps = bitmaps.repartition(fanin).mapInPandas(
            lambda it: _or_bitmaps(it, nb), "bitmap binary"
        )
    return bitmaps


def bloom_build(
    df: DataFrame, key_col: str = "url", num_bits: int = 1 << 20, num_hashes: int = 4
) -> bytes:
    """Distributed Bloom-filter build: each partition builds a local numpy
    bitmap (mapInPandas); bitmaps are OR-reduced in a two-level tree so the
    driver receives O(√P) of them, then ORs that handful.

    Size num_bits for the snapshot's cardinality (~10 bits/key for ~1% FP;
    false positives only cost extra rows in the exact confirm join, never
    correctness)."""
    nb, k = int(num_bits), int(num_hashes)
    if nb % 8:
        raise ValueError("num_bits must be a multiple of 8")
    rows = _reduced_bitmap_frame(df, key_col, nb, k).collect()
    import numpy as np

    out = np.zeros(nb // 8, dtype=np.uint8)
    for r in rows:
        out |= np.frombuffer(bytes(r["bitmap"]), dtype=np.uint8)
    return out.tobytes()


def bloom_probe_udf(bloom: bytes, num_hashes: int = 4):
    """Vectorized membership probe against a broadcast bitmap: True =
    maybe-seen (needs exact confirmation), False = definitely new."""
    nb = len(bloom) * 8
    k = int(num_hashes)

    @pandas_udf("boolean")
    def probe(vals: pd.Series) -> pd.Series:
        import numpy as np

        bitmap = np.frombuffer(bloom, dtype=np.uint8)
        out = []
        for v in vals:
            if v is None:
                out.append(None)
                continue
            hit = True
            for pos in _bloom_positions(str(v), nb, k):
                if not (bitmap[pos >> 3] >> (pos & 7)) & 1:
                    hit = False
                    break
            out.append(hit)
        return pd.Series(out, dtype="boolean")

    return probe


def new_keys_vs_snapshot(
    corpus: DataFrame,
    snapshot: DataFrame,
    key_col: str = "url",
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """Rows of `corpus` whose key does not appear in `snapshot` — the
    incremental-crawl dedup ("which of today's 10^10 urls are new vs the
    last snapshot's 10^12").

    EXACT semantics at Bloom cost: a Bloom of the snapshot keys routes
    each corpus row either to "definitely new" (bloom miss — no false
    negatives, rows skip the shuffle entirely) or to an exact left-anti
    confirm join (bloom hit — true dups plus the ~FP-rate of new rows).
    The anti-join therefore shuffles only |dups| + FP·|new| rows instead
    of the whole corpus; the result is provably identical to the plain
    anti-join at any FP rate."""
    bloom = bloom_build(snapshot, key_col, num_bits, num_hashes)
    probe = bloom_probe_udf(bloom, num_hashes)
    probed = corpus.withColumn("_maybe_seen", probe(F.col(key_col)))
    # NULL-key rows route to definitely-new: the probe returns NULL for
    # them, and a plain anti-join keeps NULL keys (NULL never equals a
    # join key) — the Bloom path must match that semantics exactly
    definitely_new = probed.filter(
        F.col("_maybe_seen").isNull() | ~F.col("_maybe_seen")
    ).drop("_maybe_seen")
    candidates = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = candidates.join(
        snapshot.select(key_col).distinct(), key_col, "left_anti"
    ).select(*candidates.columns)
    return definitely_new.unionByName(confirmed_new)


# -- duplicate-cluster resolution (connected components) ----------------------


def dup_components(
    pairs: DataFrame, max_iterations: int = 25, stats: dict | None = None
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs: each doc
    gets `component_id` = the minimum doc_id reachable through the pair
    graph — the cluster key for keep-one-per-cluster dedup (the step after
    exact/LSH/SimHash pair finding).

    Iterative min-label propagation with pointer jumping and hooking:
    each round (a) takes the min label over every node's neighbourhood
    and (b) jumps: label := the min of the label's own label and the
    labels of the nodes whose round-start label was that label.  The
    first term is the pointer jump (label := label's label), which
    halves the remaining distance to the component minimum where ids
    grow along the paths: a 4,096-node chain in id order takes 8 rounds.
    The second term is the hooking step of Shiloach-Vishkin (as in
    FastSV): a node that is a local minimum of the labels (its own
    root) takes the lowest label its children found in (a), so ids
    shuffled along a path do not strand a root that a jump cannot pass.
    The tests' shuffled random graphs (diameters up to 39) converge in
    5-6 rounds and a 300-node shuffled path in 7.  From round 3 on the
    jump is applied TWICE per round: shallow graphs (the common near-dup case —
    star-shaped clusters, diameter ≤ 4) converge inside two single-jump
    rounds and never pay the extra join, while deep graphs trade one
    extra small-table join per round for half the number of rounds —
    and round count (fixed job latency) is what dominates the wall
    clock of the loop on a deep graph.

    Fixed point: a label is always the id of a node in the same
    component, and labels only fall (every min includes the node's own
    label, or a label no larger).  A round in which no label moves left
    every node's label at or below each neighbour's, so labels are
    constant across every edge: each component carries one label, no
    larger than any of its ids, i.e. its minimum id.

    Jobs, with adaptive execution (one per exchange, one per
    checkpoint): set-up runs 2, deduplicating the symmetric edge list
    behind one exchange and checkpointing it.  A round runs 4, or 5 from
    round 3: a window exchange hands every edge its dst's label (each
    node's own label rides in the same rows), an aggregation exchange
    takes the min per node, each pointer jump is one more window
    exchange, and the checkpoint that cuts the lineage is the last job.
    A label lookup is a window over the union of the asking and the
    answering rows, partitioned by the key: one exchange, where a join
    would shuffle both sides and, on a small table, add a runtime
    broadcast job.  The key of a large cluster's minimum is hot; its
    rows meet in one task, which buffers (and spills) them.  The
    previous label rides along as `_old`, and an observed metric counts
    the labels that moved while the checkpoint writes them, so the
    convergence check costs no job.  The driver holds only that
    counter, never the labels.  On the 41-node KNOWN_PAIRS graph of the
    tests (5 rounds) that is 25 jobs; a 4,096-node chain takes 8 rounds
    and 40 jobs.

    Pass a dict as `stats` to receive {"rounds": n, "converged": bool}
    (the convergence evidence)."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    # every node is a dst (the edges are symmetric); a node's label
    # starts as its own id, once per edge end, and a min ignores repeats
    labels = edges.select(F.col("dst").alias("doc_id"), F.col("dst").alias("label"))
    asks = edges.select(F.col("dst").alias("_k"), F.col("src").alias("doc_id"))
    # a label lookup is a window over rows keyed `_k`: every row takes the
    # min `_p` at its key, where the node with that id put its label
    by_key = Window.partitionBy("_k")
    # a jump: a node asks at its label and answers at its own id and, to
    # hook a root onto its children's finds, at its round-start label
    sides = F.array(
        F.struct(F.col("label").alias("_k"), F.lit(True).alias("_ask")),
        F.struct(F.col("doc_id").alias("_k"), F.lit(False).alias("_ask")),
        F.struct(F.col("_old").alias("_k"), F.lit(False).alias("_ask")),
    )
    rounds = changed = 0
    for rounds in range(1, max_iterations + 1):
        # each node answers at its own id (keeping its label as `_old`);
        # each edge asks at its dst for the src
        answers = labels.select(
            F.col("doc_id").alias("_k"), "doc_id", F.col("label").alias("_p"),
            F.col("label").alias("_old"),
        )
        cur = (
            asks.unionByName(answers, allowMissingColumns=True)
            .select("doc_id", F.min("_p").over(by_key).alias("label"), "_old")
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
        )
        for _jump in range(1 if rounds <= 2 else 2):
            # label := min(label's label, labels of the nodes that started
            # the round at it); labels never exceed ids, so the asker's own
            # label (its `_p` at its label's key) never wins the min
            cur = (
                cur.select(
                    "doc_id", "_old", F.col("label").alias("_p"), F.inline(sides)
                )
                .withColumn("label", F.min("_p").over(by_key))
                .filter("_ask")
                .select("doc_id", "_old", "label")
            )
        moved = Observation()
        moves = F.count(F.when(F.col("label") != F.col("_old"), 1)).alias("n")
        labels = cur.observe(moved, moves).localCheckpoint().select("doc_id", "label")
        changed = moved.get["n"]
        if changed == 0:
            break
    if changed > 0:
        warnings.warn(
            f"dup_components: label propagation still changing after "
            f"{max_iterations} rounds ({changed} labels moved last round) — "
            f"returned components are UNDER-MERGED; raise max_iterations "
            f"(a 4,096-node chain needs 8 rounds)",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = changed == 0
    return labels.select("doc_id", F.col("label").alias("component_id"))


# -- exact duplicated-substring coverage (Lee et al. 2022 style) --------------


def duplicated_span_fraction(
    docs: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """Per-document fraction of tokens covered by an exact k-token
    substring that occurs more than once in the corpus (the signal behind
    "Deduplicating Training Data Makes Language Models Better": docs heavy
    in duplicated substrings are boilerplate/templated).

    Positions of duplicated k-shingles are merged into covering intervals
    with a gaps-and-islands window (consecutive hits ≤ k apart fuse), so
    overlapping repeats are not double-counted.  Shuffles: the shingle
    stream once for the global duplicate-hash aggregation, the hit
    positions once for the per-doc windows — both scale-linear, no joins
    against the corpus text itself.

    Returns (doc_id, n_tokens, dup_tokens, dup_fraction).
    """
    toks = _words(text_col)
    base = docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    sh = _shingle_stream(base, F.col("toks"), k, carry=("n_tokens",)).select(
        "doc_id", "n_tokens", "pos", F.md5("sh").alias("h")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    # window count over the shingle hash instead of groupBy + self-join:
    # one shuffle on h and ONE computation of the shingle stream (a join
    # back to sh would re-run the posexplode + k-lead pipeline per side)
    w_h = Window.partitionBy("h")
    hits = (
        sh.withColumn("_c", F.count("*").over(w_h))
        .filter(F.col("_c") > 1)
        .select("doc_id", "n_tokens", "pos")
    )
    # gaps-and-islands: a hit starts a new covered interval iff it is more
    # than k tokens after the previous hit (else the k-spans overlap/abut)
    prev = F.lag("pos").over(w_doc)
    islands = hits.withColumn(
        "new_island",
        F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    covered = (
        islands.groupBy("doc_id", "n_tokens", "island")
        .agg((F.max("pos") - F.min("pos") + k).alias("span"))
        .groupBy("doc_id", "n_tokens")
        .agg(F.sum("span").cast("long").alias("dup_tokens"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(covered.drop("n_tokens"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_fraction"),
        )
    )


def dedup_by_components(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Materialize the deduplicated corpus: resolve candidate pairs into
    connected components and keep exactly one document per cluster (the
    minimum doc_id — deterministic at any parallelism).  The anti-join
    removes only non-minimal cluster members, so rows untouched by any
    pair pass through unshuffled except for the (small) losers side."""
    comp = dup_components(pairs)
    losers = comp.filter(F.col("component_id") != F.col("doc_id")).select(
        "doc_id"
    )
    return docs.join(losers, "doc_id", "left_anti")
