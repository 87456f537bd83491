"""Crawl-loop throughput probe — committed form of the per-round
"final crawl-loop probe" (NOTES.md): sf0.1 documents split into two
doc_id-parity batches, run through `run_incremental_curation` with
EVERY optional stage and all SEVEN persisted artifacts on (bands,
hashes, shingles, line counts, winnow, span grams, source counts).
Reports per-batch wall time, corpus size, and residual checkpoint
blocks (must be 0 — registry-scoped release).

The parameter set is fixed here so rounds compare like-for-like from
r7 on (earlier rounds' probe configs were ad-hoc; those timings are
directionally comparable only). Run alone — concurrent Spark sessions
skew timings 3-4x.

Usage: python tools/loop_probe.py [sf_dir] [--no-source-counts]
       # default sf_dir: /root/testdata/sf0.1
`--no-source-counts` drops the 7th artifact so the quota falls back to
the per-batch corpus groupBy — the delta is the quota index's win at
this corpus size (expected ~0 at 5k docs; the term it removes grows
with the corpus).
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession, functions as F  # noqa: E402

args = [a for a in sys.argv[1:] if not a.startswith("--")]
sf_dir = args[0] if args else "/root/testdata/sf0.1"
use_source_counts = "--no-source-counts" not in sys.argv

# driver heap: half of physical memory, capped at 24g (a heap larger
# than the machine lets the driver outgrow it)
_phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", f"{min(24 << 10, _phys_mb // 2)}m")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from datawarehouse_vehicule_insurance_spark.streaming.curation import (  # noqa: E402
    read_corpus,
    run_incremental_curation,
)

root = tempfile.mkdtemp(prefix="loop_probe_")
paths = {k: f"{root}/{k}" for k in (
    "src", "corpus", "bands", "hashes", "shingles", "lines", "winnow",
    "grams", "srccounts", "ck",
)}

docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
    "doc_id", "text", "source"
)
halves = [docs.filter(F.col("doc_id") % 2 == i) for i in (0, 1)]

timings = {}
for i, half in enumerate(halves, start=1):
    half.coalesce(4).write.mode("append").parquet(paths["src"])
    t0 = time.time()
    q = run_incremental_curation(
        spark, paths["src"], paths["corpus"], paths["bands"],
        paths["hashes"], paths["ck"],
        shingles_path=paths["shingles"],
        line_counts_path=paths["lines"], line_dedup_min_freq=100,
        winnow_path=paths["winnow"], span_min_shared=8,
        trim_min_span=50, span_grams_path=paths["grams"],
        trim_min_keep=5,
        source_cap=2000,
        source_counts_path=paths["srccounts"] if use_source_counts
        else None,
        max_files_per_trigger=64,
    )
    q.awaitTermination()
    timings[f"batch{i}_sec"] = round(time.time() - t0, 1)

corpus = read_corpus(spark, paths["corpus"])
resid = len([
    r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
])
print(json.dumps({
    **timings,
    "corpus_rows": 0 if corpus is None else corpus.count(),
    "source_counts_on": use_source_counts,
    "resid_blocks": resid,
}))
shutil.rmtree(root, ignore_errors=True)
