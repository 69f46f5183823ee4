"""Checks for the benchmark's own parts: the seeded input generator and the
event-log reader.  Run from the root of a checkout:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import inputs  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "eventlog_small.jsonl")


def _written(tmp_path, seed: int) -> dict[str, str]:
    """sha256 of every table the workloads write for ``seed``."""
    d = tmp_path / str(seed)
    inputs.write_features(inputs.table_path(str(d), "blobs"),
                          inputs.blobs(seed, 5000, 8))
    inputs.write_corpus(inputs.table_path(str(d), "docs"),
                        inputs.corpus(seed, 300)[0])
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(d.iterdir())}


def test_same_seed_writes_identical_files(tmp_path):
    first = _written(tmp_path / "a", 7)
    assert first == _written(tmp_path / "b", 7)
    assert set(first) == {"blobs.parquet", "docs.parquet"}


def test_different_seed_writes_different_files(tmp_path):
    a, b = _written(tmp_path / "a", 7), _written(tmp_path / "b", 8)
    assert all(a[name] != b[name] for name in a)


def test_corpus_plants_one_word_edits():
    texts, planted = inputs.corpus(3, 200)
    assert planted == [(i - 1, i) for i in range(9, 200, 10)]
    for a, b in planted:
        wa, wb = texts[a].split(), texts[b].split()
        assert len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) == 1


def test_union_of_job_intervals():
    assert eventlog._union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert eventlog._union_s([]) == 0.0


@pytest.fixture(scope="module")
def groups():
    return eventlog.read_groups(FIXTURE)


def test_reader_keys_on_job_group(groups):
    # recorded on local[2] with AQE off: an untagged cache count, then a
    # 2-epoch SOM fit over 2 partitions tagged "fit" (one job per epoch)
    # and a MinHash dedup tagged "dedup" (localCheckpoint + collect)
    assert set(groups) == {"fit", "dedup"}
    fit, dd = groups["fit"], groups["dedup"]
    assert (fit["spark.jobs"], fit["spark.stages"], fit["spark.tasks"]) == \
        (2, 2, 4)
    assert (dd["spark.jobs"], dd["spark.stages"], dd["spark.tasks"]) == \
        (2, 16, 32)


def test_reader_python_boundary(groups):
    fit, dd = groups["fit"], groups["dedup"]
    assert fit["python.run_s"] > 0 and fit["python.init_s"] > 0
    # two epochs send the 2000x4 float32 features twice, plus framing
    assert fit["python.bytes_sent"] >= 2 * 2000 * 4 * 4
    assert 0 < fit["python.bytes_returned"] < fit["python.bytes_sent"]
    # the dedup pipeline never leaves the JVM
    assert dd["python.run_s"] == dd["python.bytes_sent"] == 0


def test_reader_shuffle_and_wall(groups):
    dd = groups["dedup"]
    assert dd["spark.shuffle_write_bytes"] > 0
    assert dd["spark.shuffle_read_bytes"] > 0
    for g in groups.values():
        assert 0 < g["spark.job_wall_s"]
        assert g["spark.task_run_s"] >= 0 and g["spark.result_bytes"] > 0
        assert set(eventlog.METRICS) <= set(g)


def test_find_log_needs_one_finished_log(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-1").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("app-1")
