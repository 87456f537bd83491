"""Composed-pipeline scale probe — committed form of the per-round
"composed-pipeline re-measure" (NOTES.md): one `curation_run` with
EVERY optional batch stage on (lang gate, line dedup, LM-perplexity
gate, Gopher family, quality-keyed near-dup, span dedup, span trim,
per-source cap, DSIR top-1000), timed at a given scale factor. Run it
at sf0.1 and the 10× replica back-to-back (two invocations, or pass
both dirs) and compare: the scaling claim is ≤ ~2× wall for 10× data.

Model artifacts (bigram LM for the perplexity gate and DSIR target)
are trained inside the probe on a slice of the input — their training
time is reported separately from the curation wall time.

Also enforces the plan-cut contract: after each run (and after
freeing the probe's own four pinned model tables) the session's
storage set must return to that directory's baseline — any leak
prints in ``resid_blocks`` and the probe exits 1.

Usage: python tools/pipeline_probe.py [--funnel] [--ablate-each]
                                      [--ablate-fresh]
                                      [--one CONFIG] [sf_dir ...]
       # default: /root/testdata/sf0.1
       # --funnel: run the SAME composition in diagnostic mode too
       #   (stage_frames + stage_counts + rejection_log) and report
       #   its wall alongside, quantifying the funnel's overhead
       # --ablate-each: the honest per-stage cost table (NOTES r8:
       #   per-boundary TIMING inside the fused materialization would
       #   measure warm-block scans, and un-fusing would reintroduce
       #   the 2x barrier cost — so stage cost is measured by
       #   ABLATION instead). Re-times the full composition once more
       #   (so the baseline runs as warm as the ablated runs), then
       #   re-runs it nine times with one optional stage dropped each
       #   time; marginal_sec = baseline - ablated.
       #   Small negatives are host noise; a stage can also show a
       #   negative by DROPPING docs later stages then don't pay for.
       # --ablate-fresh (r10 verdict #8): the same ablation table but
       #   each configuration (full baseline + 9 single-stage drops)
       #   runs in its OWN fresh process via --one. The in-session
       #   form drifts at 30x — later runs in one JVM slow
       #   monotonically (GC/code-cache state), enough to sign-flip a
       #   small marginal with identical survivors — so per-stage
       #   marginals at scale are only trustworthy process-isolated.
       #   Every child pays the same cold JVM/Python-worker start, and
       #   the baseline-minus-ablated subtraction cancels it.
       # --one CONFIG: child mode for --ablate-fresh — run exactly one
       #   configuration ("full" or an ABLATABLE stage name to drop)
       #   and print one JSON line. Usable standalone.
"""

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession, functions as F  # noqa: E402

args = sys.argv[1:]
funnel_mode = "--funnel" in args
ablate_mode = "--ablate-each" in args
ablate_fresh = "--ablate-fresh" in args
one_cfg = None
if "--one" in args:
    i = args.index("--one")
    one_cfg = args[i + 1]
    del args[i:i + 2]
args = [a for a in args if a not in ("--funnel", "--ablate-each",
                                     "--ablate-fresh")]
dirs = args or ["/root/testdata/sf0.1"]

# stage name -> the run_kw keys that enable it
ABLATABLE = {
    "lang": ("lang_allow",),
    "line": ("line_dedup_min_freq",),
    "lm": ("lm_model", "max_perplexity"),
    "gopher": ("gopher_rules",),
    "keepby": ("near_dup_keep_by",),
    "span": ("span_dedup_min_shared",),
    "trim": ("span_trim_min_span",),
    "cap": ("source_cap",),
    "dsir": ("dsir_target_model", "dsir_top_n"),
}

if one_cfg is not None and one_cfg != "full" and one_cfg not in ABLATABLE:
    print(f"unknown --one config {one_cfg!r} "
          f"(full|{'|'.join(ABLATABLE)})", file=sys.stderr)
    sys.exit(2)

if ablate_fresh:
    # parent mode: no SparkSession here — each configuration gets its
    # own process (fresh JVM + Python workers), so no GC/code-cache
    # state carries between the baseline and any ablated run
    rc = 0
    for sf_dir in dirs:
        results = {}
        for cfg in ["full", *ABLATABLE]:
            proc = subprocess.run(
                [sys.executable, __file__, "--one", cfg, sf_dir],
                capture_output=True, text=True,
            )
            lines = [ln for ln in proc.stdout.splitlines()
                     if ln.startswith("{")]
            if proc.returncode != 0 or not lines:
                print(json.dumps({
                    "sf_dir": sf_dir, "config": cfg, "rc": proc.returncode,
                    "stderr_tail": proc.stderr[-500:],
                }))
                rc = 1
                break
            results[cfg] = json.loads(lines[-1])
        else:
            base = results["full"]
            table = {
                s: {
                    "ablated_sec": results[s]["curate_sec"],
                    "marginal_sec": round(
                        base["curate_sec"] - results[s]["curate_sec"], 1
                    ),
                    "survivor_delta":
                        results[s]["docs_out"] - base["docs_out"],
                }
                for s in ABLATABLE
            }
            print(json.dumps({
                "sf_dir": sf_dir,
                "mode": "ablate-fresh",
                "ablate_baseline_sec": base["curate_sec"],
                "docs_in": base["docs_in"],
                "docs_out": base["docs_out"],
                "models_sec_baseline": base["models_sec"],
                "ablation": table,
            }))
    sys.exit(rc)

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

from datawarehouse_vehicule_insurance_spark.operators.curate import (  # noqa: E402
    curation_run,
)
from datawarehouse_vehicule_insurance_spark.operators.plancut import (  # noqa: E402
    cut_scope,
    release_cuts,
)
from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (  # noqa: E402
    bigram_lm_tables,
)

def _storage_ids():
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


any_leak = False
for sf_dir in dirs:
    base_ids = _storage_ids()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    n_in = docs.count()

    t0 = time.time()
    # reference models: LM on a deterministic slice, DSIR target on a
    # different slice (pinned so reruns compare like-for-like)
    # coalesce(1) before the eager pin: the tables are vocab-sized, and
    # localCheckpoint straight off an AQE-replanned shuffle can hit the
    # "Can't zip RDDs with unequal numbers of partitions" materialization
    # bug. Built inside a cut scope: each pinned table holds its own
    # blocks, so the LM builder's internal pair-count cuts are freed
    # here instead of lingering into the leak check below
    with cut_scope():
        lm = bigram_lm_tables(docs.filter(F.col("doc_id") % 7 == 0))
        lm = tuple(t.coalesce(1).localCheckpoint(eager=True) for t in lm)
        target = bigram_lm_tables(docs.filter(F.col("doc_id") % 7 == 1))
        target = tuple(
            t.coalesce(1).localCheckpoint(eager=True) for t in target
        )
    t_models = time.time() - t0

    # ONE config for the timed run and the --funnel rerun — the
    # probe's diagnostics-neutrality assertion is only meaningful if
    # both runs share the identical composition
    run_kw = dict(
        lang_allow=("en", "es", "fr", "de", "und"),
        min_tokens=5,
        line_dedup_min_freq=100,
        lm_model=lm,
        max_perplexity=1e6,
        # Gopher family ON but with thresholds relaxed for the
        # synthetic corpus (the published defaults reject ~all of it,
        # which would make every later stage trivially empty and the
        # probe meaningless — the STAGES still run their full plans)
        gopher_rules=dict(
            min_words=5, min_mean_word_len=1.0, max_mean_word_len=50.0,
            min_alpha_word_ratio=0.0, min_stopword_hits=0,
            max_dup_line_ratio=1.0, max_dup_line_char_ratio=1.0,
        ),
        near_dup_keep_by=F.length("text"),
        span_dedup_min_shared=8,
        span_trim_min_span=50,
        source_cap=2000,
        dsir_target_model=target,
        dsir_top_n=1000,
    )

    if one_cfg is not None and one_cfg != "full":
        # child mode: drop exactly one stage's enabling kwargs
        for k in ABLATABLE[one_cfg]:
            run_kw.pop(k)

    t0 = time.time()
    with curation_run(docs, **run_kw) as curated:
        n_out = curated.count()
    t_curate = time.time() - t0

    ablate_extras = {}
    if ablate_mode:
        # a fresh full-composition baseline AFTER the first timed run,
        # so the baseline and the ablations all run on a warm JVM and
        # the subtraction compares like with like
        t0 = time.time()
        with curation_run(docs, **run_kw) as curated:
            n_base = curated.count()
        t_base = time.time() - t0
        table = {}
        for stage, keys in ABLATABLE.items():
            kw = {k: v for k, v in run_kw.items() if k not in keys}
            t0 = time.time()
            with curation_run(docs, **kw) as curated:
                n_abl = curated.count()
            dt = time.time() - t0
            table[stage] = {
                "ablated_sec": round(dt, 1),
                "marginal_sec": round(t_base - dt, 1),
                "survivor_delta": n_abl - n_base,
            }
        ablate_extras = {
            "ablate_baseline_sec": round(t_base, 1),
            "ablation": table,
        }

    funnel_extras = {}
    if funnel_mode:
        from datawarehouse_vehicule_insurance_spark.operators.curate import (
            rejection_log,
            stage_counts,
        )

        t0 = time.time()
        frames = {}
        with curation_run(docs, stage_frames=frames, **run_kw) as curated:
            n_diag = curated.count()
            funnel = stage_counts(frames)
            n_rej = rejection_log(frames).count()
        assert n_diag == n_out, (n_diag, n_out)  # diagnostics-neutral
        funnel_extras = {
            "funnel_sec": round(time.time() - t0, 1),
            "funnel": funnel,
            "rejection_rows": n_rej,
        }
    # free this iteration's four pinned model tables, then diff the
    # storage set against the per-directory baseline: anything left is
    # a genuine plan-cut leak and fails the probe (multi-dir runs
    # would otherwise count earlier iterations' models as phantoms)
    release_cuts([*lm, *target])
    leaked = len(_storage_ids() - base_ids)
    any_leak = any_leak or leaked > 0
    print(json.dumps({
        "sf_dir": sf_dir,
        **({"config": one_cfg} if one_cfg is not None else {}),
        "docs_in": n_in,
        "docs_out": n_out,
        "models_sec": round(t_models, 1),
        "curate_sec": round(t_curate, 1),
        "resid_blocks": leaked,
        **ablate_extras,
        **funnel_extras,
    }))

sys.exit(1 if any_leak else 0)
