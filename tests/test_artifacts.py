"""The per-sf ingest-artifact registry (plans/suite.py ARTIFACTS):
each (name, sf_dir) is built once per process, and bench.py's cold
build twins cover every registered artifact."""

import os

from solana_data_etl_pipeline_spark.plans import suite


def test_artifact_path_builds_once_per_name_and_sf(monkeypatch, tmp_path):
    calls = []

    def build(spark, sf_dir, path):
        calls.append((sf_dir, path))
        with open(os.path.join(path, "part"), "w") as f:
            f.write(sf_dir)

    monkeypatch.setitem(suite.ARTIFACTS, "counting", build)
    monkeypatch.setattr(suite, "_BUILT", {})
    sf_a, sf_b = str(tmp_path / "sf_a"), str(tmp_path / "sf_b")

    first = suite.artifact_path(None, sf_a, "counting")
    assert suite.artifact_path(None, sf_a, "counting") == first
    assert calls == [(sf_a, first)]
    assert os.path.isfile(os.path.join(first, "part"))

    second = suite.artifact_path(None, sf_b, "counting")
    assert second != first
    assert calls == [(sf_a, first), (sf_b, second)]


def test_bench_twins_cover_every_prior_twin():
    twins = {f"{name}_build" for name in suite.ARTIFACTS}
    assert twins >= {
        "ivf_build",
        "pq_build",
        "int8_build",
        "mrl_build",
        "cluster_fit_build",
        "bpe_train_build",
        "bm25_index_build",
        "lsh_index_build",
        "semdedup_build",
        "semdedup_exact_first_build",
    }
