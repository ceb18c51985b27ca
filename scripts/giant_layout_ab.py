"""A/B of render_pages on a file layout that clusters giant documents.

The fixture is 5,000 normal pages in 8 parquet files plus 16 giant pages
(2-4 MiB each) together in a ninth file, one row group: a cost-correlated
layout, where one split holds every expensive page.  Two plans render it:

- nolane: render_pages(df), the default single-scan plan
- spread: render_pages(df.repartition(n, F.xxhash64("url"))), n = cores,
  the caller-side recipe for such a layout

Each plan ends in a one-row checksum aggregate (row count, errors, text
bytes, bit_xor of xxhash64(url, text)), which must agree across plans.
The plans run in rotated order for `--reps` rounds after one warm-up.
For each plan the script prints the median wall time and the median
longest task (`stage.task_s_max`, read from the session's uncompressed
event log), with the core count.  Everything it writes goes under one
temporary directory, removed on exit.

Usage: python scripts/giant_layout_ab.py [--reps 3]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_NORMAL = 5_000
N_NORMAL_FILES = 8
N_GIANT = 16
MIB = 1 << 20
PLANS = ("nolane", "spread")
VOCAB = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there been one "
    "all we their crawl page index render text layout table column width"
).split()


def _page(doc_id: int) -> tuple[str, bytes]:
    from rust_html2text_spark.sources.corpus import synthesize_page_py

    rng = random.Random(doc_id)
    text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(40, 200)))
    return synthesize_page_py(doc_id, text, f"src{doc_id % 7}")


def write_fixture(root: str) -> dict:
    """Normal pages in N_NORMAL_FILES files, the giants in one more."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    per_file = N_NORMAL // N_NORMAL_FILES
    for f in range(N_NORMAL_FILES):
        rows = [_page(i) for i in range(f * per_file, (f + 1) * per_file)]
        pq.write_table(
            pa.Table.from_pylist([{"url": u, "html": h} for u, h in rows], schema),
            os.path.join(root, f"part-{f:02d}.parquet"),
        )
    head, tail = b"<html><body>", b"</body></html>"
    giants, doc_id = [], 1_000_000
    for g in range(N_GIANT):
        target = 2 * MIB + (2 * MIB * g) // N_GIANT  # 2 MiB .. 3.875 MiB
        parts, size = [], len(head) + len(tail)
        while size < target:
            html = _page(doc_id)[1]
            doc_id += 1
            parts.append(html[len(head) : -len(tail)])
            size += len(parts[-1])
        giants.append(
            {"url": f"https://www.giant.example.com/doc/{g}",
             "html": head + b"".join(parts) + tail}
        )
    pq.write_table(
        pa.Table.from_pylist(giants, schema),
        os.path.join(root, f"part-{N_NORMAL_FILES:02d}-giants.parquet"),
    )
    sizes = [len(g["html"]) for g in giants]
    return {"giant_mib_min": round(min(sizes) / MIB, 2),
            "giant_mib_max": round(max(sizes) / MIB, 2)}


def build(plan: str, pages, cores: int):
    from pyspark.sql import functions as F

    from rust_html2text_spark.operators.render import render_pages

    if plan == "spread":
        pages = pages.repartition(cores, F.xxhash64("url"))
    return render_pages(pages).agg(
        F.count("*").alias("rows"),
        F.count("error").alias("errors"),
        F.sum("text_bytes").alias("text_bytes"),
        F.bit_xor(F.xxhash64("url", "text")).alias("checksum"),
    )


def task_s_max_by_group(event_dir: str) -> tuple[dict, dict]:
    """Job group → longest task (s) and → stage count, over every job the
    group submitted."""
    (path,) = glob.glob(os.path.join(event_dir, "*"))
    group_stages: dict[str, set] = {}
    task_max: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    group_stages.setdefault(group, set()).update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                sid = ev["Stage ID"]
                task_max[sid] = max(task_max.get(sid, 0.0), dur)
    return (
        {g: max(task_max.get(s, 0.0) for s in ss) for g, ss in group_stages.items()},
        {g: sum(s in task_max for s in ss) for g, ss in group_stages.items()},
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from rust_html2text_spark.plans.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = tempfile.mkdtemp(prefix="giant_layout_ab_")
    try:
        data, events = os.path.join(tmp, "pages"), os.path.join(tmp, "events")
        os.makedirs(data)
        os.makedirs(events)
        fixture = write_fixture(data)
        spark = get_spark(
            app_name="giant-layout-ab",
            master=f"local[{cores}]",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.local.dir": os.path.join(tmp, "local"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        pages = spark.read.parquet(data)
        build("nolane", pages, cores).collect()  # warm-up: workers started

        walls: dict[str, list[float]] = {p: [] for p in PLANS}
        checks = {}
        for rep in range(args.reps):
            order = PLANS[rep % len(PLANS) :] + PLANS[: rep % len(PLANS)]
            for plan in order:
                sc.setJobGroup(f"{plan}-{rep}", plan)
                t0 = time.perf_counter()
                (row,) = build(plan, pages, cores).collect()
                walls[plan].append(time.perf_counter() - t0)
                checks.setdefault(plan, row.asDict())
        spark.stop()

        assert len({json.dumps(c, sort_keys=True) for c in checks.values()}) == 1, checks
        check = checks["nolane"]
        assert check["rows"] == N_NORMAL + N_GIANT and check["errors"] == 0, check
        task_max, stages = task_s_max_by_group(events)
        result = {"cores": cores, "reps": args.reps, **fixture, "plans": {}}
        print(f"cores={cores} reps={args.reps} giants {N_GIANT} x "
              f"{fixture['giant_mib_min']}-{fixture['giant_mib_max']} MiB "
              f"among {N_NORMAL} pages")
        print("| plan | wall s (median) | stage.task_s_max (median) | stages |")
        print("|---|---|---|---|")
        for plan in PLANS:
            maxes = [task_max[f"{plan}-{r}"] for r in range(args.reps)]
            entry = {
                "wall_s": [round(w, 2) for w in walls[plan]],
                "task_s_max": [round(m, 2) for m in maxes],
                "stages": stages[f"{plan}-0"],
            }
            result["plans"][plan] = entry
            print(f"| {plan} | {statistics.median(walls[plan]):.2f} | "
                  f"{statistics.median(maxes):.2f} | {entry['stages']} |")
        print(json.dumps(result))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
