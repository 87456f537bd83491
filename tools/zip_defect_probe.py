"""Standalone reproducer + retirement probe for the Spark 4.1
reused-exchange zip defect (VERDICT r7 #1; ablation matrix in NOTES.md
round 7).

The defect: with every optional curation stage composed at ~10x sf0.1
data, adaptive execution can materialize a REUSED exchange whose
realized partition count disagrees with a sibling consumer, so a
downstream zipPartitions (sort-merge join / checkpoint materialization)
fails with ``Can't zip RDDs with unequal numbers of partitions``.
``curation_run`` and both ingest loops self-heal it by retrying once
under ``spark.sql.exchange.reuse=false`` — a workaround with a real
cost, so we need to notice when a Spark upgrade FIXES the defect and
the heal can be retired.

This probe runs the known-firing composition through BARE
``curate_corpus`` (cut registry + fused materialization, exactly what
``curation_run`` builds) with the self-heal deliberately OUT of the
loop, and reports whether the defect fires on the current Spark:

    python tools/make_scaled_replica.py /root/testdata/sf0.1 /tmp/sfx10 10
    python tools/zip_defect_probe.py [/tmp/sfx10] [--drop STAGE,...]

Prints one JSON line {"reproduced": bool, "spark": version, ...} and
exits 0 when the defect reproduces (status quo: keep the heal), 3 when
it does NOT (Spark fixed it — retire the heal: reduce
``operators/plancut.py::healed_cuts`` to its cut registry and release,
delete the zip-mismatch trigger, reuse toggle and defect memory beside
it and their tests, and update the version pin in
tests/test_incremental_curation.py::test_zip_defect_version_pin).
Any OTHER failure exits 1.

The default composition is the MINIMAL known-firing one, found by
greedy single-stage ablation (r8): line dedup + LM-perplexity gate +
Gopher family over the base exact-dedup -> quality-gates -> MinHash
pipeline — dropping any ONE of those three stops the reproduction,
while lang/trim/span/keepby/cap/dsir can all be dropped together and
it still fires (~10s to failure vs ~19s for the full set). ``--full``
restores pipeline_probe.py's full stage set; ``--drop STAGE,...``
ablates named stages (lang,line,trim,gopher,lm,keepby,span,cap,dsir)
for further minimization work.

Use the DEFAULT (minimal) composition for retirement checks: it has
fired on every r8 attempt (4/4), whereas the FULL composition is
interleaving-sensitive — it fired in every morning-session run and
then completed clean twice in fresh afternoon sessions, and the
firing SITE moves between runs (the first stage-boundary cut in one
run, minhash's candidate cut in another) — a race-flavored AQE
stage-materialization defect, consistent with "no stage pair/triple
fires it" being about propensity, not determinism. A single clean
probe run therefore does NOT prove a Spark fix; retire the heal only
on repeated exit-3 runs (say 3 in a row).
"""

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession, functions as F  # noqa: E402

# minimal known-firing composition = everything non-essential dropped
_MINIMAL_DROP = {"lang", "trim", "span", "keepby", "cap", "dsir"}

args = [a for a in sys.argv[1:]]
full = "--full" in args
args = [a for a in args if a != "--full"]
drop = set() if full else set(_MINIMAL_DROP)
if "--drop" in args:
    i = args.index("--drop")
    drop = set(args[i + 1].split(","))
    del args[i:i + 2]
sf_dir = args[0] if args else "/tmp/sfx10"

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "24g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from datawarehouse_vehicule_insurance_spark.operators.curate import (  # noqa: E402
    _materialize_cuts,
    curate_corpus,
)
from datawarehouse_vehicule_insurance_spark.operators.plancut import (  # noqa: E402
    _is_zip_mismatch,
    cut_registry,
    release_cuts,
)
from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (  # noqa: E402
    bigram_lm_tables,
)

docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
    "doc_id", "text", "source"
)

t0 = time.time()
lm = target = None
if "lm" not in drop:
    lm = bigram_lm_tables(docs.filter(F.col("doc_id") % 7 == 0))
    lm = tuple(t.coalesce(1).localCheckpoint(eager=True) for t in lm)
if "dsir" not in drop:
    target = bigram_lm_tables(docs.filter(F.col("doc_id") % 7 == 1))
    target = tuple(
        t.coalesce(1).localCheckpoint(eager=True) for t in target
    )
t_models = time.time() - t0

# the known-firing composition — pipeline_probe.py's full stage set
run_kw = dict(min_tokens=5)
if "lang" not in drop:
    run_kw["lang_allow"] = ("en", "es", "fr", "de", "und")
if "line" not in drop:
    run_kw["line_dedup_min_freq"] = 100
if "lm" not in drop:
    run_kw.update(lm_model=lm, max_perplexity=1e6)
if "gopher" not in drop:
    run_kw["gopher_rules"] = dict(
        min_words=5, min_mean_word_len=1.0, max_mean_word_len=50.0,
        min_alpha_word_ratio=0.0, min_stopword_hits=0,
        max_dup_line_ratio=1.0, max_dup_line_char_ratio=1.0,
        # r10: the gopher stage's DEFAULT repetition impl became the
        # shuffle-free arrow path, which removed the explode+window
        # shape the defect needs — with the default the probe went
        # 3/3 exit-3 on the SAME Spark 4.1.2, while forcing codegen
        # fired again immediately. Pin the codegen shape here so the
        # probe keeps testing the DEFECT, not our default plan; a
        # future exit-3 streak then really means a Spark fix.
        impl="codegen",
    )
if "keepby" not in drop:
    run_kw["near_dup_keep_by"] = F.length("text")
if "span" not in drop:
    run_kw["span_dedup_min_shared"] = 8
if "trim" not in drop:
    run_kw["span_trim_min_span"] = 50
if "cap" not in drop:
    run_kw["source_cap"] = 2000
if "dsir" not in drop:
    run_kw.update(dsir_target_model=target, dsir_top_n=1000)

t0 = time.time()
cuts: list = []
reproduced = False
err = None
try:
    with cut_registry(cuts):
        out = curate_corpus(docs, **run_kw)
    _materialize_cuts(cuts)  # every observed firing is at cut
    out.count()              # ...materialization; the sink stage too
except Exception as e:  # noqa: BLE001 — classifying, not hiding
    if _is_zip_mismatch(e):
        reproduced = True
        err = str(e).splitlines()[0][:200]
    else:
        raise  # the finally below releases the cuts
finally:
    release_cuts(cuts)
    if lm:
        release_cuts(list(lm))
    if target:
        release_cuts(list(target))

print(json.dumps({
    "reproduced": reproduced,
    "spark": spark.version,
    "sf_dir": sf_dir,
    "dropped_stages": sorted(drop),
    "models_sec": round(t_models, 1),
    "probe_sec": round(time.time() - t0, 1),
    "error": err,
}))
sys.exit(0 if reproduced else 3)
