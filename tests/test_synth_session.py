"""Edge values of the synthetic-input generator and the session factory."""

from __future__ import annotations

import os

from quality_filter import session
from quality_filter.synth import synth_transcripts


def test_synth_transcripts_large_seed(spark):
    # seed * 97 once overflowed 32-bit arithmetic (an ANSI-mode error) for
    # seeds above ~22M.  10**9 is 0 mod 8 and 97 * 10**9 is 0 mod 1000, so
    # with max_turns=8 it must draw exactly the turns seed 0 draws.
    kw = dict(n_convs=12, max_turns=8, skew_convs=0)
    big = synth_transcripts(spark, seed=10**9, **kw).collect()
    zero = synth_transcripts(spark, seed=0, **kw).collect()
    assert big and big == zero


def test_get_spark_local_dir_override(spark, tmp_path, monkeypatch):
    # an explicit spark.local.dir must not create the tmpfs scratch dir
    scratch = tmp_path / "shm" / "spark_local"
    scratch.parent.mkdir()
    monkeypatch.setattr(session, "_SHM_SCRATCH", str(scratch))
    # the fixture's settings, so the running session is reused unchanged
    kw = dict(cores=4, shuffle_partitions=8)
    heap = {"spark.driver.memory": "4g"}
    mine = {**heap, "spark.local.dir": str(tmp_path / "mine")}
    assert session.get_spark("quality_filter_tests", extra_conf=mine, **kw) is spark
    assert not scratch.exists()
    assert session.get_spark("quality_filter_tests", extra_conf=heap, **kw) is spark
    assert scratch.is_dir()


def test_default_driver_memory_fits_host():
    heap = session._default_driver_memory()
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) <= min(12 * 1024, phys_mb // 2)
