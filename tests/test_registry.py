"""Registry loading is plain imports: no side processes."""

from __future__ import annotations

import subprocess

from bloom_filters_count_min_sketch_spark_streaming_spark.plans import registry


def test_load_all_query_modules_starts_no_subprocess(monkeypatch):
    """Loading the registry only imports modules: no git walk or any other
    child process on the queries()/oracle_sql() path."""
    started: list[object] = []
    real_init = subprocess.Popen.__init__

    def recording_init(self, args, *a, **kw):
        started.append(args)
        real_init(self, args, *a, **kw)

    monkeypatch.setattr(subprocess.Popen, "__init__", recording_init)
    registry.load_all_query_modules()
    assert started == []
