"""The three batch workloads: input generation from a seed, the timed job,
the per-job output check, and the staged per-layer run of the trace.

Inputs are generated by the package's own ``synth`` module, written once
per (workload, size, seed) under ``perfbench/_data``, together with the
values the output check compares against.  Those expected values come
from ``tests/oracle.py`` (imported read-only) and the scorers'
``score_batch`` functions, never from the job under test.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench.probes import (  # noqa: E402
    PY_BOOT, PY_INIT, PY_RECEIVED, PY_SENT, PY_TOTAL, SparkStores,
)
from perfbench.tracing import Tracer  # noqa: E402

# about 2 % of conversations are checked row by row after every job
SAMPLE_MOD = 50
# seeds synth_transcripts accepts: seed * 97 must fit a 32-bit integer
TRANSCRIPT_SEEDS = (2**31 - 1) // 97


def load_oracle():
    """``tests/oracle.py`` as a module, without making ``tests`` a package."""
    name = "perfbench_oracle"
    if name in sys.modules:
        return sys.modules[name]
    spec = importlib.util.spec_from_file_location(name, ROOT / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def sample_pred(col: str = "conv_id"):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(SAMPLE_MOD)) == 0


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]


class Workload:
    """One batch job over a generated input.  Subclasses define the input
    (``generate``, ``expected``), the job and its check, and the staged
    per-layer run."""

    name: str
    size_tag: str
    # session.scaling_eff_1_4 is defined on filter_all only
    measures_scaling = False
    # checked jobs on the real input inside set-up, after the tiny one
    warm_jobs = 1
    warm_size: dict
    # other workloads whose jobs the traced run also measures: class ->
    # the per-layer metrics taken from them
    trace_companions: dict = {}

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- input ---------------------------------------------------------------
    def generate(self, seed: int, **size) -> dict:
        """Input tables by name, written in order.  A value is a DataFrame,
        or a function of the tables already written.  ``size`` overrides
        the workload's sizes (``warm_size``)."""
        raise NotImplementedError

    def warm_tables(self, seed: int) -> dict[str, DataFrame]:
        """Tiny in-memory input of the same shape, for the first (cold)
        warm-up job."""
        tables: dict = {}
        for name, df in self.generate(seed, **self.warm_size).items():
            tables[name] = df(tables) if callable(df) else df
        return tables

    def expected(self, tables: dict[str, DataFrame], seed: int) -> dict:
        raise NotImplementedError

    def prepare(self, data_dir: Path, seed: int) -> tuple[dict[str, DataFrame], dict]:
        """Load the seed's input tables and expected values, generating them
        on first use."""
        path = data_dir / f"{self.name}-{self.size_tag}-seed{seed}"
        self.data_path = path
        self.input_dir = path / "input"
        if not (path / "expected.json").exists():
            tmp = data_dir / f".tmp-{path.name}-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                for tname, df in self.generate(seed).items():
                    if callable(df):
                        df = df(self._read(tmp))
                    df.write.mode("overwrite").parquet(str(tmp / tname))
                tables = self._read(tmp)
                exp = self.expected(tables, seed)
                (tmp / "expected.json").write_text(json.dumps(exp))
                shutil.rmtree(path, ignore_errors=True)
                os.replace(tmp, path)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        return self._read(path), json.loads((path / "expected.json").read_text())

    def _read(self, path: Path) -> dict[str, DataFrame]:
        return {
            p.name: self.spark.read.parquet(str(p))
            for p in sorted(path.iterdir())
            if p.is_dir()
        }

    def rows(self, tables: dict[str, DataFrame]) -> int:
        return tables["input"].count()

    # -- job -----------------------------------------------------------------
    def job(self, tables, sink: Path, tracer: Tracer) -> dict:
        raise NotImplementedError

    def check(self, tables, sink: Path, exp: dict, info: dict) -> list[str]:
        raise NotImplementedError

    # -- trace ---------------------------------------------------------------
    def staged(self, st: "Stager", tables, exp: dict) -> dict[str, float]:
        raise NotImplementedError

    def traced_job_metrics(self, tracer: Tracer, counters, sink: Path, info: dict) -> dict[str, float]:
        return {}


class Stager:
    """Runs one layer as its own stage: materialize its input once, time
    the layer's public function plus a noop-sink action over that input,
    subtract the scan-only time of the same input, and read Spark's
    counters for the action."""

    def __init__(self, stores: SparkStores, tracer: Tracer):
        self.stores = stores
        self.tracer = tracer
        self._held: list[DataFrame] = []

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        held = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = held.count()
        self._held.append(held)
        return held, n

    def run(self, name: str, inp: DataFrame, fn):
        with self.tracer.span(f"stage.{name}"):
            with self.tracer.span(f"stage.{name}.scan"):
                t0 = time.perf_counter()
                noop(inp)
                scan_s = time.perf_counter() - t0
            mark = self.stores.mark()
            with self.tracer.span(name):
                t0 = time.perf_counter()
                out = fn(inp)
                noop(out)
                layer_s = time.perf_counter() - t0
        return layer_s - scan_s, self.stores.since(mark), out

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()


def _collect_convs(df: DataFrame, oracle) -> dict[str, list]:
    convs: dict[str, list] = defaultdict(list)
    pdf = df.select("conv_id", "turn_idx", "text").toPandas()
    for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        convs[conv_id].append(oracle.Turn(conv_id, int(turn_idx), text))
    for turns in convs.values():
        turns.sort(key=lambda t: t.turn_idx)
    return convs


class _Transcripts(Workload):
    n_convs: int
    skew_convs: int
    skew_turns: int

    def generate(self, seed, n_convs=None, skew_turns=None):
        from quality_filter.synth import synth_transcripts

        # synth_transcripts multiplies the seed by 97 in 32-bit integer
        # arithmetic, which raises on overflow (ANSI mode): any seed is
        # folded into the range where that product fits.
        df = synth_transcripts(
            self.spark, n_convs=n_convs or self.n_convs, seed=seed % TRANSCRIPT_SEEDS,
            max_turns=40,
            skew_convs=self.skew_convs, skew_turns=skew_turns or self.skew_turns,
        )
        return {"input": df}

    def _labels(self, convs, oracle) -> None:
        memo: dict[str, str] = {}
        for turns in convs.values():
            for t in turns:
                text = t.text if t.text is not None else ""
                if text not in memo:
                    memo[text] = oracle.label_of(text)
                t.label = memo[text]


class FilterAll(_Transcripts):
    """filter_all: clean_pipeline(filter, remove all, scrub) -> with_scores
    -> parquet.  Zero shuffles; the work is the rules fast path, the scrub
    and the scoring Arrow UDF."""

    name = "filter_all"
    measures_scaling = True
    # job walls fall for about three jobs on the real input (JIT
    # compilation of the rules' generated code)
    warm_jobs = 3
    n_convs, skew_convs, skew_turns = 3000, 0, 1
    size_tag = f"c{n_convs}"
    warm_size = {"n_convs": 120}
    cols = ["conv_id", "turn_idx", "label", "clean_score", "scrubbed_text",
            "lang", "lang_prob", "logppl"]

    def expected(self, tables, seed):
        from quality_filter import langid as L
        from quality_filter import perplexity as X
        import pandas as pd

        oracle = load_oracle()
        inp = tables["input"]
        convs = _collect_convs(inp, oracle)
        self._labels(convs, oracle)
        kept = sum(t.label == oracle.LABELS[0] for ts in convs.values() for t in ts)
        sample_ids = {r.conv_id for r in inp.filter(sample_pred()).select("conv_id").distinct().collect()}
        out = oracle.clean_pipeline(
            {c: [oracle.Turn(t.conv_id, t.turn_idx, t.text) for t in convs[c]] for c in sample_ids},
            mode="filter", labels_to_remove="all", scrub=True,
        )
        turns = [t for ts in out.values() for t in ts]
        texts = pd.Series([t.text for t in turns], dtype=object)
        lid = L.score_batch(texts, *L.build_artifact())
        ppl = X.score_batch(texts, *X.build_artifact())
        rows = [
            [t.conv_id, t.turn_idx, t.label, t.clean_score, t.scrubbed_text,
             lid["lang"][i], float(lid["lang_prob"][i]), float(ppl[i])]
            for i, t in enumerate(turns)
        ]
        return {"rows_out": kept, "sample": sorted(rows)}

    def job(self, tables, sink, tracer):
        from quality_filter.pipeline import clean_pipeline
        from quality_filter.scoring import with_scores

        with tracer.span("job"):
            with tracer.span("pipeline.clean_pipeline"):
                cleaned = clean_pipeline(
                    tables["input"], mode="filter", labels_to_remove="all", scrub=True
                )
            with tracer.span("scoring.with_scores"):
                scored = with_scores(cleaned)
            with tracer.span("sink.parquet"):
                scored.write.mode("overwrite").parquet(str(sink))
        return {}

    def check(self, tables, sink, exp, info):
        out = self.spark.read.parquet(str(sink))
        errors = []
        n = out.count()
        if n != exp["rows_out"]:
            errors.append(f"rows out {n} != oracle {exp['rows_out']}")
        got = sorted([list(r) for r in out.filter(sample_pred()).select(*self.cols).collect()])
        want = [list(r) for r in exp["sample"]]
        if got != want:
            bad = sum(g != w for g, w in zip(got, want)) + abs(len(got) - len(want))
            errors.append(f"{bad} of {len(want)} sampled rows differ from oracle/score_batch")
        return errors

    def staged(self, st, tables, exp):
        from quality_filter import langid as L
        from quality_filter import perplexity as X
        from quality_filter.rules import clean_fastpath_scored
        from quality_filter.scoring import with_scores
        from quality_filter.scrub import scrub_turns

        x0, n0 = st.materialize(tables["input"])
        rules_s, _, out = st.run("rules", x0, clean_fastpath_scored)
        x1, n1 = st.materialize(out)
        scrub_s, _, out = st.run("scrub", x1, scrub_turns)
        x2, _ = st.materialize(out)
        changed = x2.filter(F.col("scrub_applied")).count()
        scoring_s, c, _ = st.run("scoring", x2, with_scores)
        with st.tracer.span("scoring.build_artifact"):
            t0 = time.perf_counter()
            L.build_artifact()
            X.build_artifact()
            artifact_s = time.perf_counter() - t0
        return {
            "rules.self_s": rules_s,
            "rules.fastpath_survivor_frac": n1 / n0,
            "scrub.self_s": scrub_s,
            "scrub.changed_frac": changed / n1,
            "scoring.self_s": scoring_s,
            "scoring.rows": n1,
            "scoring.python_total_s": c.sql.get(PY_TOTAL, 0.0),
            "scoring.python_boot_s": c.sql.get(PY_BOOT, 0.0),
            "scoring.python_init_s": c.sql.get(PY_INIT, 0.0),
            "scoring.arrow_bytes_sent": c.sql.get(PY_SENT, 0.0),
            "scoring.arrow_bytes_received": c.sql.get(PY_RECEIVED, 0.0),
            "scoring.artifact_build_s": artifact_s,
            "pipeline.kept_frac": n1 / n0,
        }


class TrimCheckpointed(_Transcripts):
    """trim_checkpointed: checkpoint.run_checkpointed over
    clean_pipeline(trim, window) -> reassemble(scrubbed_text).  Full rules
    cascade on every row, per-conversation window gates (one shuffle),
    partitioned writes in several batches plus manifest appends; no
    scoring UDF."""

    name = "trim_checkpointed"
    n_convs, skew_convs, skew_turns = 1500, 2, 3000
    size_tag = f"c{n_convs}k{skew_convs}x{skew_turns}"
    warm_size = {"n_convs": 80, "skew_turns": 300}
    # job walls fall for about two jobs on the real input
    warm_jobs = 2
    n_buckets, buckets_per_batch = 8, 4

    def expected(self, tables, seed):
        oracle = load_oracle()
        inp = tables["input"]
        convs = _collect_convs(inp, oracle)
        self._labels(convs, oracle)
        n_out = 0
        for turns in convs.values():
            keep = [t.label == oracle.LABELS[0] for t in turns]
            n_out += bool(oracle.drop_empty(oracle.trim_mode(turns, keep)))
        sample_ids = {r.conv_id for r in inp.filter(sample_pred()).select("conv_id").distinct().collect()}
        out = oracle.clean_pipeline(
            {c: [oracle.Turn(t.conv_id, t.turn_idx, t.text) for t in convs[c]] for c in sample_ids},
            mode="trim", labels_to_remove="all", scrub=True,
        )
        rows = [[c, "\n".join(t.scrubbed_text for t in ts), len(ts)] for c, ts in out.items()]
        return {"convs_out": n_out, "sample": sorted(rows)}

    def job(self, tables, sink, tracer):
        from quality_filter.checkpoint import run_checkpointed
        from quality_filter.pipeline import clean_pipeline, reassemble

        def pipeline_fn(part):
            with tracer.span("pipeline.clean_pipeline"):
                cleaned = clean_pipeline(
                    part, mode="trim", labels_to_remove="all", scrub=True,
                    strategy="window",
                )
            with tracer.span("pipeline.reassemble"):
                return reassemble(cleaned, "scrubbed_text")

        with tracer.span("job"):
            with tracer.span("checkpoint.run_checkpointed"):
                done = run_checkpointed(
                    self.spark, tables["input"], pipeline_fn,
                    str(sink / "out"), str(sink / "manifest"), "bench",
                    n_buckets=self.n_buckets, buckets_per_batch=self.buckets_per_batch,
                )
        return {"buckets": done}

    def check(self, tables, sink, exp, info):
        errors = []
        if sorted(info["buckets"]) != list(range(self.n_buckets)):
            errors.append(f"processed buckets {info['buckets']}")
        out = self.spark.read.parquet(str(sink / "out"))
        n = out.count()
        if n != exp["convs_out"]:
            errors.append(f"conversations out {n} != oracle {exp['convs_out']}")
        got = sorted(
            [list(r) for r in out.filter(sample_pred()).select("conv_id", "text", "n_turns").collect()]
        )
        if got != [list(r) for r in exp["sample"]]:
            errors.append("sampled conversations differ from oracle")
        manifest = {
            r.bucket for r in self.spark.read.parquet(str(sink / "manifest"))
            .filter(F.col("run_id") == "bench").select("bucket").collect()
        }
        if manifest != set(range(self.n_buckets)):
            errors.append(f"manifest buckets {sorted(manifest)}")
        return errors

    def staged(self, st, tables, exp):
        from quality_filter.pipeline import (
            apply_trim_mode, drop_empty_convs, keep_by_label, reassemble,
        )
        from quality_filter.rules import score_turns
        from quality_filter.scrub import scrub_turns

        def gates(df):
            return drop_empty_convs(
                apply_trim_mode(df, keep_by_label("all"), "window"), "window"
            )

        x0, n0 = st.materialize(tables["input"])
        rules_s, _, out = st.run("rules", x0, score_turns)
        x1, _ = st.materialize(out)
        n_clean = x1.filter(F.col("label") == "Clean").count()
        gate_s, c, out = st.run("pipeline.gates", x1, gates)
        x2, n2 = st.materialize(out)
        scrub_s, _, out = st.run("scrub", x2, scrub_turns)
        x3, _ = st.materialize(out)
        changed = x3.filter(F.col("scrub_applied")).count()
        reassemble_s, _, _ = st.run(
            "pipeline.reassemble", x3, lambda df: reassemble(df, "scrubbed_text")
        )
        return {
            "rules.self_s": rules_s,
            "rules.fastpath_survivor_frac": n_clean / n0,
            "pipeline.gate_self_s": gate_s,
            "pipeline.reassemble_self_s": reassemble_s,
            "pipeline.shuffle_write_bytes": c.shuffle_write_bytes,
            "pipeline.shuffle_fetch_wait_s": c.shuffle_fetch_wait_s,
            "pipeline.spill_bytes": c.spill_bytes,
            "pipeline.task_skew": max(c.shuffle_read_skews, default=0.0),
            "pipeline.kept_frac": n2 / n0,
            "scrub.self_s": scrub_s,
            "scrub.changed_frac": changed / n2,
        }

    def traced_job_metrics(self, tracer, counters, sink, info):
        """Checkpoint figures of one traced job: batches and their spacing
        come from the spans around ``pipeline_fn`` (called once per batch),
        manifest and source-scan figures from the SQL executions."""
        job = tracer.find("checkpoint.run_checkpointed")[-1]
        starts = [s.start for s in tracer.find("pipeline.clean_pipeline") if s.parent == job.id]
        edges = starts + [job.end]
        manifest = str(sink / "manifest")
        # one detail line per scan node of the source in an executed plan
        source = f"Location: InMemoryFileIndex [file:{self.input_dir}]"
        written = dir_files(sink)
        in_bytes = sum(p.stat().st_size for p in dir_files(self.input_dir))
        manifest_s = [s for plan, s in counters.executions if manifest in plan]
        return {
            "checkpoint.batches": len(starts),
            "checkpoint.batch_s": statistics.mean(b - a for a, b in zip(edges, edges[1:])),
            "checkpoint.source_scans": sum(plan.count(source) for plan, _ in counters.executions),
            "checkpoint.files_written": len(written),
            "checkpoint.bytes_written_per_input_byte": sum(p.stat().st_size for p in written) / in_bytes,
            "checkpoint.manifest_s": statistics.mean(manifest_s) if manifest_s else 0.0,
        }


class CorpusBuild(Workload):
    """corpus_build: corpus.build_pretrain_corpus(with_counts=True) over
    synthetic documents plus a small benchmark set -> parquet.  Fused
    Arrow gates, MinHash-LSH shuffles and iterative connected components
    (many small jobs); no transcript layer."""

    name = "corpus_build"
    n_docs = 2000
    size_tag = f"d{n_docs}"
    warm_size = {"n_docs": 200}
    # job walls stop falling after the second job on the real input
    warm_jobs = 2
    def generate(self, seed, n_docs=None):
        from quality_filter.synth import synth_documents

        def bench(tables):
            # the first two lines of ~0.25 % of the documents: decontamination
            # flags those documents and their exact duplicates
            return tables["input"].filter(
                F.pmod(F.xxhash64(F.lit(seed), F.col("doc_id")), F.lit(400)) == 0
            ).select(F.substring_index(F.col("text"), "\n", 2).alias("text")).coalesce(1)

        docs = synth_documents(self.spark, n_docs or self.n_docs, seed=seed, parts=4)
        return {"input": docs, "benchmark": bench}

    def expected(self, tables, seed):
        """Gate-stage survivors and the C4-cleaned text of sampled documents
        from ``textstats._fused_gate_row``, the per-document Python kernel
        kept as the parity oracle of the Arrow batch kernel the job runs.
        Dedup and decontamination survivors have no independent
        reference; the first checked job on a seed records all stage
        survivors in ``recorded.json`` beside the input and every later
        job on that seed must match them."""
        from quality_filter.textstats import (
            C4_MIN_LINES, C4_MIN_WORDS_PER_LINE, _fused_gate_row,
        )

        pdf = tables["input"].select("doc_id", "text").toPandas()
        sampled = {
            r.doc_id for r in tables["input"].filter(sample_pred("doc_id")).select("doc_id").collect()
        }
        after_c4 = after_gopher = 0
        sample = {}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            clean, c4_keep, gopher_keep = _fused_gate_row(
                text, C4_MIN_WORDS_PER_LINE, C4_MIN_LINES, True
            )
            after_c4 += bool(c4_keep)
            after_gopher += bool(c4_keep and gopher_keep)
            if c4_keep and doc_id in sampled:
                sample[str(doc_id)] = clean
        survivors = {"input": len(pdf), "after_c4": after_c4, "after_gopher": after_gopher}
        return {"survivors": survivors, "sample": sample}

    def job(self, tables, sink, tracer):
        from quality_filter.corpus import build_pretrain_corpus

        with tracer.span("job"):
            with tracer.span("corpus.build_pretrain_corpus"):
                out, resolve = build_pretrain_corpus(
                    tables["input"], benchmark=tables["benchmark"], with_counts=True
                )
            with tracer.span("sink.parquet"):
                out.write.mode("overwrite").parquet(str(sink))
            with tracer.span("corpus.resolve_counts"):
                survivors = {r.stage: r.n_docs for r in resolve().collect()}
        return {"survivors": survivors}

    def check(self, tables, sink, exp, info):
        errors = []
        got = info["survivors"]
        for stage, n in exp["survivors"].items():
            if got.get(stage) != n:
                errors.append(f"{stage} survivors {got.get(stage)} != gate reference {n}")
        recorded = self.data_path / "recorded.json"
        if not errors and not recorded.exists():
            recorded.write_text(json.dumps(got))
        elif recorded.exists() and json.loads(recorded.read_text()) != got:
            errors.append(f"stage survivors {got} != recorded {recorded.read_text()}")
        out = self.spark.read.parquet(str(sink))
        n = out.count()
        if n != got.get("after_decontaminate"):
            errors.append(f"rows out {n} != after_decontaminate {got.get('after_decontaminate')}")
        for r in out.filter(sample_pred("doc_id")).select("doc_id", "text").collect():
            if exp["sample"].get(str(r.doc_id)) != r.text:
                errors.append(f"doc {r.doc_id} text differs from the C4 reference")
        return errors

    def staged(self, st, tables, exp):
        from quality_filter.cluster import connected_components
        from quality_filter.dedup import (
            exact_dedup, lsh_candidates, minhash_jaccard, minhash_signatures,
        )
        from quality_filter.textstats import fused_gate_arrow

        x0, n0 = st.materialize(tables["input"])
        in_cols = x0.columns
        gate_s, c, out = st.run("textstats.fused_gate_arrow", x0, fused_gate_arrow)
        x1, _ = st.materialize(
            out.filter(F.col("c4_keep") & F.col("gopher_keep"))
            .withColumn("text", F.col("clean_text")).select(*in_cols)
        )
        survivors_gate = x1.count()
        held = {}

        def dedup(df):
            uniq = exact_dedup(df).localCheckpoint(eager=False)
            sig = minhash_signatures(uniq).localCheckpoint(eager=False)
            cand = lsh_candidates(sig)
            held.update(uniq=uniq, cand=cand)
            return minhash_jaccard(sig, cand).filter(F.col("est_jaccard") >= 0.8)

        dedup_s, _, pairs = st.run("dedup", x1, dedup)
        n_cand = held["cand"].count()
        edges, n_pairs = st.materialize(pairs)
        nodes, _ = st.materialize(held["uniq"].select("doc_id"))
        stats: dict = {}
        with st.tracer.span("stage.cluster"):
            with st.tracer.span("stage.cluster.scan"):
                t0 = time.perf_counter()
                noop(nodes)
                noop(edges)
                scan_s = time.perf_counter() - t0
            mark = st.stores.mark()
            with st.tracer.span("cluster.connected_components"):
                t0 = time.perf_counter()
                noop(connected_components(nodes, edges, stats=stats))
                cluster_s = time.perf_counter() - t0 - scan_s
        cc = st.stores.since(mark)
        return {
            "textstats.gate_self_s": gate_s,
            "textstats.gate_survivor_frac": survivors_gate / n0,
            "textstats.python_total_s": c.sql.get(PY_TOTAL, 0.0),
            "dedup.self_s": dedup_s,
            "dedup.lsh_candidate_pairs": n_cand,
            "dedup.dup_pair_frac": n_pairs / n_cand if n_cand else 0.0,
            "cluster.self_s": cluster_s,
            "cluster.iterations": stats["iterations"],
            "cluster.jobs": cc.jobs,
        }

    def traced_job_metrics(self, tracer, counters, sink, info):
        span = tracer.find("corpus.build_pretrain_corpus")[-1]
        out = {"corpus.plan_s": span.end - span.start}
        for stage, n in info["survivors"].items():
            out[f"corpus.survivors.{stage}"] = n
        return out


# corpus_build is not a listed benchmark workload: its job times varied
# most between runs (interquartile range over 10 seeds about a fifth of the
# median, against a largest allowed bound of a quarter).
# trim_checkpointed's traced run measures its layers instead.
TrimCheckpointed.trace_companions = {
    CorpusBuild: (
        "textstats.gate_self_s", "textstats.gate_survivor_frac", "textstats.python_total_s",
        "dedup.self_s", "dedup.lsh_candidate_pairs", "dedup.dup_pair_frac",
        "cluster.self_s", "cluster.iterations", "cluster.jobs", "corpus.plan_s",
        "corpus.survivors.input", "corpus.survivors.after_c4",
        "corpus.survivors.after_gopher", "corpus.survivors.after_dedup",
        "corpus.survivors.after_decontaminate",
    ),
}

WORKLOADS = {w.name: w for w in (FilterAll, TrimCheckpointed, CorpusBuild)}
