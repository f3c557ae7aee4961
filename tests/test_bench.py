"""bench.py's side-file merge: samples pool only within one configuration.

A re-run merges the prior side file's samples and reports the minimum over
the merged pool, so a prior file from another core count would leak its
(often faster) minima into this run's headline. The merge key is
(sf, cpus); a file that predates the ``cpus`` field merges with nothing.
"""

from __future__ import annotations

import json
import os

import bench


def _write(path, side):
    path.write_text(json.dumps(side))
    return str(path)


def test_prior_samples_merge_only_same_sf_and_cpus(tmp_path):
    side = {"sf": 0.1, "cpus": 8, "samples_interleaved": {"q": [1.0]}}
    p = _write(tmp_path / "side.json", side)
    assert bench._prior_samples(p, 0.1, 32) is None  # other core count
    assert bench._prior_samples(p, 0.01, 8) is None  # other scale
    assert bench._prior_samples(p, 0.1, 8) == side


def test_prior_samples_without_cpus_or_file_merge_nothing(tmp_path):
    p = _write(tmp_path / "legacy.json", {"sf": 0.1, "samples_interleaved": {}})
    assert bench._prior_samples(p, 0.1, 8) is None
    assert bench._prior_samples(str(tmp_path / "missing.json"), 0.1, 8) is None
    (tmp_path / "bad.json").write_text("{not json")
    assert bench._prior_samples(str(tmp_path / "bad.json"), 0.1, 8) is None
    # the committed 8-core pool carries no cpus field: never merged
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r15 = os.path.join(repo, "BENCH_samples_r15_c8.json")
    assert bench._prior_samples(r15, 0.1, 32) is None
