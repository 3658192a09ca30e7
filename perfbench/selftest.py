"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Checks that every metric named in BENCHMARK.json is printed with its unit
(untraced and traced), that traced spans nest inside their parents, and
that the per-job output check rejects one deliberately corrupted row.
Takes a few minutes: each workload starts its own JVM.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent))

from perfbench import run  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, CorpusBuild, FilterAll, TrimCheckpointed, sample_pred,
)

# wider than 32 bits: a seed that large must still give valid inputs
SEED = 2**33 + 5
TINY = {
    FilterAll: {"n_convs": 150},
    TrimCheckpointed: {"n_convs": 100, "skew_turns": 200},
    CorpusBuild: {"n_docs": 300},
}


def shrink() -> None:
    for cls, size in TINY.items():
        for k, v in size.items():
            setattr(cls, k, v)
        cls.size_tag = "selftest-" + "-".join(f"{k}{v}" for k, v in size.items())


def run_main(*argv: str) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(list(argv))
    lines = buf.getvalue().strip().splitlines()
    assert code == 0, f"exit {code}"
    return json.loads(lines[-1])


def check_metrics(result: dict, declared: dict, units: dict) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    got = result["metrics"]
    assert set(got) == set(declared), set(got) ^ set(declared)
    for name, m in got.items():
        assert m["unit"] == declared[name] == units[name][0], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)


def check_spans(path: Path) -> None:
    spans = {s["id"]: s for s in json.loads(path.read_text())["spans"]}
    assert spans, path
    for s in spans.values():
        assert s["start"] <= s["end"], s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
        assert s["self_s"] <= s["end"] - s["start"] + 1e-9, s


def corrupt_one(spark, wl, sink: Path, bad: Path) -> None:
    """Copy the job's output with one row changed."""
    from pyspark.sql import functions as F

    if isinstance(wl, CorpusBuild):
        out = spark.read.parquet(str(sink))
        doc = out.filter(sample_pred("doc_id")).first().doc_id
        out.withColumn(
            "text", F.when(F.col("doc_id") == doc, F.concat("text", F.lit("!"))).otherwise(F.col("text"))
        ).write.parquet(str(bad))
        return
    if isinstance(wl, TrimCheckpointed):
        out = spark.read.parquet(str(sink / "out"))
        key = out.filter(sample_pred()).first().conv_id
        out.withColumn(
            "text", F.when(F.col("conv_id") == key, F.concat("text", F.lit("!"))).otherwise(F.col("text"))
        ).write.partitionBy("bucket").parquet(str(bad / "out"))
        spark.read.parquet(str(sink / "manifest")).write.parquet(str(bad / "manifest"))
        return
    out = spark.read.parquet(str(sink))
    key = out.filter(sample_pred()).first()
    hit = (F.col("conv_id") == key.conv_id) & (F.col("turn_idx") == key.turn_idx)
    out.withColumn(
        "scrubbed_text", F.when(hit, F.concat("scrubbed_text", F.lit("!"))).otherwise(F.col("scrubbed_text"))
    ).write.parquet(str(bad))


def check_corruption(work: Path) -> None:
    from perfbench.tracing import Tracer

    (work / "tmp").mkdir(parents=True, exist_ok=True)
    spark = run.open_session(work, 2)
    try:
        for cls in WORKLOADS.values():
            wl = cls(spark)
            tables, exp = wl.prepare(BENCH / "_data", SEED)
            sink, bad = work / f"{wl.name}-ok", work / f"{wl.name}-bad"
            info = wl.job(tables, sink, Tracer("selftest", enabled=False))
            assert wl.check(tables, sink, exp, info) == [], wl.name
            corrupt_one(spark, wl, sink, bad)
            errors = wl.check(tables, bad, exp, info)
            assert errors, f"{wl.name}: corrupted row passed the check"
            print(f"{wl.name}: corrupted row rejected: {errors}", file=sys.stderr)
    finally:
        run.close_jvm()


def main() -> int:
    shrink()
    declared = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
    work = BENCH / "_work" / "selftest"
    try:
        check_corruption(work)
        for name in WORKLOADS:
            check_metrics(run_main("--workload", name, "--seed", str(SEED), "--seconds", "0", "--trace", "0"), e2e, END_TO_END)
            check_metrics(run_main("--workload", name, "--seed", str(SEED), "--seconds", "0", "--trace", "1"), layer, PER_LAYER)
            check_spans(BENCH / "_results" / f"trace-{name}-seed{SEED}.json")
            print(f"{name}: metrics and spans ok", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for d in (BENCH / "_data").glob("*selftest-*"):
            shutil.rmtree(d, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
