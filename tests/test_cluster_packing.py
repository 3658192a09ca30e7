"""Unit tests for near-dup clustering (cluster.py) and sequence packing
(packing.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from quality_filter.cluster import (
    cluster_dedup,
    connected_components,
    decontaminate,
)
from quality_filter.packing import pack_chunks, pack_offsets


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs] or [(None, None)], "a bigint, b bigint"
    ).filter(F.col("a").isNotNull())


def test_connected_components_chain_and_singletons(spark):
    # chain 1-2-3, pair 7-5 (reversed orientation), singletons 9, 10
    comp = connected_components(
        _nodes(spark, [1, 2, 3, 5, 7, 9, 10]),
        _edges(spark, [(1, 2), (2, 3), (7, 5)]),
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 5, 9: 9, 10: 10}


def test_connected_components_long_chain_converges(spark):
    # a 40-node path needs ~40 propagation rounds — the worst case for
    # min-label propagation; must converge (not hit max_iter) and be right
    n = 40
    comp = connected_components(
        _nodes(spark, range(n)), _edges(spark, [(i, i + 1) for i in range(n - 1)])
    )
    reps = {r["cluster_rep"] for r in comp.collect()}
    assert reps == {0}


def test_connected_components_no_edges(spark):
    comp = connected_components(_nodes(spark, [3, 4]), _edges(spark, []))
    got = {r["doc_id"]: r["cluster_rep"] for r in comp.collect()}
    assert got == {3: 3, 4: 4}


def test_connected_components_max_iter_below_two_rejected(spark):
    # the fused first round leaves no round to confirm convergence with
    # max_iter=1: reject it up front, before the edge set is persisted
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    for bad in (1, 0):
        with pytest.raises(ValueError, match="max_iter"):
            connected_components(
                _nodes(spark, [1, 2]), _edges(spark, [(1, 2)]), max_iter=bad
            )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    stats = {}
    comp = connected_components(
        _nodes(spark, [1, 2, 3]), _edges(spark, [(2, 1)]), max_iter=2, stats=stats
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 3}
    assert stats == {"iterations": 2}


def test_cluster_dedup_transitive_chain_one_pass(spark):
    # A~B, B~C but not A~C: one-pass cluster dedup keeps only A
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (8, "w")], "doc_id bigint, text string"
    )
    out = cluster_dedup(df, _edges(spark, [(1, 2), (2, 3)]))
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 8]


def test_decontaminate_flags_ngram_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            # contains an 8-gram of the benchmark sentence
            (1, "prefix words the quick brown fox jumps over the lazy suffix"),
            (2, "completely unrelated content with no overlap at all here"),
            (3, "short doc"),  # under 8 words -> no grams
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in decontaminate(train, bench, n=8).collect()
    }
    assert got[1][1] is True and got[1][0] >= 1
    assert got[2] == (0, False)
    assert got[3] == (0, False)


@pytest.fixture()
def tok_df(spark):
    # ids deliberately sparse across shards (docs_per_shard=4)
    rows = [(0, 5), (1, 3), (2, 10), (5, 4), (6, 1), (9, 7)]
    return spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")


def test_pack_offsets_exact(spark, tok_df):
    out = {
        r["doc_id"]: (r["start_off"], r["first_chunk"], r["last_chunk"])
        for r in pack_offsets(tok_df, budget=8, docs_per_shard=4).collect()
    }
    # cumulative stream: 0:0-5, 1:5-8, 2:8-18, 5:18-22, 6:22-23, 9:23-30
    assert out == {
        0: (0, 0, 0),
        1: (5, 0, 0),
        2: (8, 1, 2),
        5: (18, 2, 2),
        6: (22, 2, 2),
        9: (23, 2, 3),
    }


def test_pack_chunks_partitions_the_stream(spark, tok_df):
    rows = pack_chunks(tok_df, budget=8, docs_per_shard=4).collect()
    # every doc's chunk sub-ranges tile [0, n_tokens) exactly
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["tok_from"], r["tok_to"]))
    ntok = {r["doc_id"]: r["n_tokens"] for r in tok_df.collect()}
    for doc, spans in by_doc.items():
        spans.sort()
        assert spans[0][0] == 0
        assert spans[-1][1] == ntok[doc]
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 == b0
    # chunk token counts: every chunk except the last is exactly 8 tokens
    per_chunk = {}
    for r in rows:
        per_chunk[r["chunk_id"]] = per_chunk.get(r["chunk_id"], 0) + (
            r["tok_to"] - r["tok_from"]
        )
    last = max(per_chunk)
    for cid, tot in per_chunk.items():
        assert tot == 8 or cid == last


# -- exact-substring dedup ---------------------------------------------------

def _sub_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_substring_dedup_cross_doc(spark):
    from quality_filter.dedup import substring_dedup

    span = "alpha beta gamma delta epsilon"
    df = _sub_df(
        spark,
        [
            (1, f"start {span} end"),
            (2, f"other words here {span} tail words here"),
            (3, "nothing shared with anyone at all here"),
        ],
    )
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in
           substring_dedup(df, k=5).collect()}
    # doc 1 holds the canonical (min doc_id) occurrence -> untouched
    assert got[1] == (f"start {span} end", 0)
    assert got[2] == ("other words here tail words here", 5)
    assert got[3][1] == 0


def test_substring_dedup_within_doc_and_full_dup(spark):
    from quality_filter.dedup import substring_dedup

    span = "one two three four five"
    df = _sub_df(
        spark,
        [
            (1, f"{span} x {span}"),  # second occurrence removed
            (2, span),                # whole doc duplicates doc 1's span
        ],
    )
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in
           substring_dedup(df, k=5).collect()}
    assert got[1] == (f"{span} x", 5)
    assert got[2] == ("", 5)


def test_substring_dedup_short_docs_untouched(spark):
    from quality_filter.dedup import substring_dedup

    df = _sub_df(spark, [(1, "too short"), (2, "too short")])
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in
           substring_dedup(df, k=5).collect()}
    assert got == {1: ("too short", 0), 2: ("too short", 0)}


# -- domain-mixture resampling -------------------------------------------------

def test_mixture_resample_proportions_and_saturation(spark):
    from quality_filter.sampling import mixture_resample

    rows = [(i, "big" if i % 10 else "rare") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    # targets: rare 500pm, big 500pm of a 200pm budget -> rare target =
    # 2000*0.2*0.5 = 200 rows but only has 200 -> saturates (keep all);
    # big target = 200 of 1800 -> ~11% kept
    out = mixture_resample(
        df, {"rare": 500, "big": 500}, budget_pm=200, domain_col="source"
    )
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["rare"] == 200               # saturated: kept all
    assert 140 <= got["big"] <= 260         # ~200 at 1000-bucket granularity
    # unmapped domains are dropped entirely
    df2 = df.withColumn(
        "source", F.when(F.col("doc_id") < 100, "unmapped").otherwise("big")
    )
    out2 = mixture_resample(df2, {"big": 1000}, budget_pm=200, domain_col="source")
    assert out2.filter(F.col("source") == "unmapped").count() == 0
    # determinism: same rows on re-run
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in mixture_resample(
        df, {"rare": 500, "big": 500}, budget_pm=200, domain_col="source").collect())
    assert a == b


def test_mixture_upsample_copies_and_budget(spark):
    from quality_filter.sampling import mixture_upsample

    rows = [(i, "rare" if i < 50 else "big") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    # rare: target = 1000 * 0.5 * 0.5 = 250 of 50 rows -> base 5 copies
    # big: target = 250 of 950 rows -> base 0, fractional ~26%
    out = mixture_upsample(df, {"rare": 500, "big": 500}, budget_pm=500)
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["rare"] == 250
    assert 180 <= got["big"] <= 320
    # copy_idx dense 0..copies-1 per row
    per = out.filter("source = 'rare'").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("c"),
        F.min("copy_idx").alias("lo"),
        F.max("copy_idx").alias("hi"),
    )
    bad = per.filter((F.col("lo") != 0) | (F.col("hi") != F.col("c") - 1)).count()
    assert bad == 0


def test_star_components_long_chain(spark):
    # the case min-label propagation is slow on: a 60-node path — the
    # star algorithm converges in O(log^2 n) rounds
    n = 60
    comp = connected_components(
        _nodes(spark, range(n)),
        _edges(spark, [(i, i + 1) for i in range(n - 1)]),
        algorithm="star",
        max_iter=15,
    )
    assert {r["cluster_rep"] for r in comp.collect()} == {0}


def test_star_components_singletons_and_bad_algorithm(spark):
    comp = connected_components(
        _nodes(spark, [1, 2, 5]), _edges(spark, [(1, 2)]), algorithm="star"
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 5: 5}
    with pytest.raises(ValueError):
        connected_components(
            _nodes(spark, [1]), _edges(spark, []), algorithm="nope"
        )


def test_ensure_shipped_from_zipimport_ships_the_archive(tmp_path):
    # driver importing quality_filter from a --py-files zip must register
    # THAT archive, not silently build an empty one (globs over a zip
    # pseudo-path match nothing)
    import subprocess
    import sys
    import zipfile
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "quality_filter"
    zp = tmp_path / "qf.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        for py in sorted(pkg.glob("*.py")):
            zf.write(py, arcname=f"quality_filter/{py.name}")
        for dat in sorted(pkg.glob("data/**/*.txt")):
            zf.write(dat, arcname=f"quality_filter/{dat.relative_to(pkg)}")
    code = f"""
import sys; sys.path.insert(0, {str(zp)!r})
import quality_filter.shipping as sh
class FakeSC:
    def __init__(self): self.added = []
    def addPyFile(self, p): self.added.append(p)
class FakeSpark:
    sparkContext = FakeSC()
sh.ensure_shipped(FakeSpark)
assert FakeSpark.sparkContext.added == [{str(zp)!r}], FakeSpark.sparkContext.added
# template data loads from the zip too
from quality_filter.llmprep import load_verbatim_template
assert len(load_verbatim_template('classify')) > 100
print('OK')
"""
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp"
    )
    assert r.returncode == 0 and "OK" in r.stdout, r.stderr[-800:]


def test_dedup_pipeline_stages(spark):
    from quality_filter.cluster import dedup_pipeline

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    boiler = "subscribe to our newsletter for more updates every single day"
    rows = [
        (1, base),
        (2, base),           # exact dup of 1 -> dropped in stage 1
        (3, near),           # near dup of 1 -> clustered out in stage 2
        (4, f"completely distinct article about alpine glaciers and meltwater {boiler}"),
        (5, f"tutorial covering sourdough starters hydration ratios and ovens {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup_pipeline(df, jaccard_threshold=0.5, substring_k=5)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 4, 5}
    assert got[1]["n_removed"] == 0
    # the shared boilerplate span survives only in its first occurrence
    assert boiler in got[4]["clean_text"]
    assert boiler not in got[5]["clean_text"]
