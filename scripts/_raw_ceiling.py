"""Raw-multiprocessing host ceiling for the render (or extract) kernel
(no Spark) over the SAME pages corpus the Spark measurement uses.
Usage: _raw_ceiling.py <cpus> <pages_parquet_dir> [render|extract];
prints one JSON line."""

import glob
import json
import multiprocessing as mp
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

def work(args):
    chunk, op = args
    from rust_html2text_spark.engine.api import html_to_text
    from rust_html2text_spark.engine.errors import RenderError
    from rust_html2text_spark.engine.extract import extract_main

    kernel = extract_main if op == "extract" else html_to_text
    n = 0
    for html in chunk:
        try:
            kernel(html, 80)
        except RenderError:
            pass
        n += 1
    return n


def main():
    import pyarrow.parquet as pq

    procs = int(sys.argv[1])
    pages_dir = sys.argv[2]
    op = sys.argv[3] if len(sys.argv) > 3 else "render"
    htmls = []
    for f in sorted(glob.glob(f"{pages_dir}/*.parquet")):
        tbl = pq.read_table(f, columns=["html"])
        htmls.extend(v.as_py() for v in tbl.column("html"))
    chunks = [(htmls[i::procs], op) for i in range(procs)]
    with mp.Pool(procs) as pool:
        pool.map(work, [(c[:50], op) for c, op in chunks])  # warm
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            done = sum(pool.map(work, chunks))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
    print(
        json.dumps(
            {"cpus": procs, "docs_per_sec": round(done / best, 1), "n_docs": done}
        )
    )


if __name__ == "__main__":
    main()
