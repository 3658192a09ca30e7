"""Every metric the benchmark reports, with its unit and, for per-layer
metrics, the end-to-end metric and workload it should move.

Per-layer metrics of a layer that a workload bypasses read 0 on that
workload.  Session counters are per traced job.  ``corpus_build`` is
runnable but not listed in BENCHMARK.json; trim_checkpointed's traced run
reports the textstats, dedup, cluster and corpus metrics of one
corpus_build job.

``cluster.iterations`` is ``connected_components``' own ``stats``
figure: it counts the fused first round, so it reads one more than the
same graph did before that round was fused.  The benchmark calls
``connected_components`` with the default ``max_iter``: ``max_iter=1``
raises a false non-convergence error.
"""

from __future__ import annotations

WORKLOAD_NAMES = ("filter_all", "trim_checkpointed", "corpus_build")

END_TO_END = {
    "rows_per_s": ("rows/s", "input turns or docs per second of a timed job (median over the run)"),
    "cpu_s_per_mrow": ("s/Mrow", "JVM + Python-worker CPU seconds per million input rows, JIT compiler threads left out"),
    "setup_s": ("s", "process start until timed jobs can begin, input generation excluded"),
}

# failed / attempted is printed with the metrics and carried in the result
# line's ``failed`` and ``attempted``; it is 0 on a correct tree, so it is
# not a bounded metric.
FAILED_FRAC = ("failed_frac", "frac")

_ALL = "rows_per_s on all workloads"
_FILTER = "rows_per_s on filter_all"
_TRIM = "rows_per_s on trim_checkpointed"
_CORPUS = "rows_per_s on corpus_build"

PER_LAYER = {
    "session.jobs": ("count", "session.jobs on corpus_build; " + _ALL),
    "session.tasks": ("count", _ALL),
    "session.task_run_s": ("s", _ALL),
    "session.task_cpu_s": ("s", "cpu_s_per_mrow on all workloads"),
    "session.gc_s": ("s", _ALL),
    "session.scheduler_delay_s": ("s", _ALL),
    "session.cpu_util": ("frac", _ALL),
    # varied by more than a tenth between runs of the same code, so it is
    # reported here rather than as an end-to-end metric
    "session.peak_rss_mb": ("MB", "summed peak RSS of the JVM and its Python workers; setup_s"),
    "session.scaling_eff_1_4": ("frac", "rows_per_s at local[N] vs local[1], same job"),
    "rules.self_s": ("s", _FILTER + " (fast path) and " + _TRIM + " (full cascade)"),
    "rules.fastpath_survivor_frac": ("frac", _FILTER + "; share of rows the rules label Clean"),
    "scoring.self_s": ("s", _FILTER),
    "scoring.rows": ("count", _FILTER),
    "scoring.python_total_s": ("s", _FILTER + ", cpu_s_per_mrow"),
    "scoring.python_boot_s": ("s", _FILTER),
    "scoring.python_init_s": ("s", _FILTER),
    "scoring.arrow_bytes_sent": ("bytes", _FILTER),
    "scoring.arrow_bytes_received": ("bytes", _FILTER),
    "scoring.artifact_build_s": ("s", "setup_s on filter_all"),
    "scrub.self_s": ("s", _FILTER + " and " + _TRIM),
    "scrub.changed_frac": ("frac", _FILTER + " and " + _TRIM),
    "pipeline.gate_self_s": ("s", _TRIM),
    "pipeline.reassemble_self_s": ("s", _TRIM),
    "pipeline.shuffle_write_bytes": ("bytes", _TRIM),
    "pipeline.shuffle_fetch_wait_s": ("s", _TRIM),
    "pipeline.spill_bytes": ("bytes", _TRIM),
    "pipeline.task_skew": ("ratio", _TRIM + "; max/median task time of the gate's shuffle-read stage"),
    "pipeline.kept_frac": ("frac", _FILTER + " and " + _TRIM),
    "checkpoint.batches": ("count", _TRIM),
    "checkpoint.batch_s": ("s", _TRIM),
    "checkpoint.source_scans": ("count", _TRIM),
    "checkpoint.files_written": ("count", _TRIM),
    "checkpoint.bytes_written_per_input_byte": ("ratio", _TRIM),
    "checkpoint.manifest_s": ("s", _TRIM),
    "textstats.gate_self_s": ("s", _CORPUS),
    "textstats.gate_survivor_frac": ("frac", _CORPUS),
    "textstats.python_total_s": ("s", _CORPUS),
    "dedup.self_s": ("s", _CORPUS),
    "dedup.lsh_candidate_pairs": ("count", _CORPUS),
    "dedup.dup_pair_frac": ("frac", _CORPUS),
    "cluster.self_s": ("s", _CORPUS),
    "cluster.iterations": ("count", _CORPUS + " and session.jobs"),
    "cluster.jobs": ("count", _CORPUS + " and session.jobs"),
    "corpus.plan_s": ("s", _CORPUS),
    "corpus.survivors.input": ("count", "none; output check"),
    "corpus.survivors.after_c4": ("count", "none; output check"),
    "corpus.survivors.after_gopher": ("count", "none; output check"),
    "corpus.survivors.after_dedup": ("count", "none; output check"),
    "corpus.survivors.after_decontaminate": ("count", "none; output check"),
    "share.rules_scrub": ("frac", _FILTER + "; rules+scrub self time / untraced job wall"),
    "share.scoring": ("frac", _FILTER + "; scoring self time / untraced job wall"),
    "trace.overhead_frac": ("frac", "none; traced / untraced job wall - 1"),
}
