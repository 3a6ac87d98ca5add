import numpy as np
import pytest

import host
from stats import median, percentile


def test_level_within_affinity_takes_the_first_cores():
    assert host.cores_for_level(4, {3, 0, 2, 1}) == [0, 1, 2, 3]
    assert host.cores_for_level(2, {7, 2, 5}) == [2, 5]


@pytest.mark.parametrize("level", [5, 8, 32])
def test_level_above_affinity_is_refused(level):
    with pytest.raises(host.HostError, match="exceeds the 4 cores"):
        host.cores_for_level(level, {0, 1, 2, 3})


def test_level_below_one_is_refused():
    with pytest.raises(host.HostError):
        host.cores_for_level(0, {0, 1})


def test_tree_rss_skips_processes_younger_than_a_second():
    import os
    import subprocess
    import time

    assert os.getpid() in host.process_tree(os.getpid())
    child = subprocess.Popen(["sleep", "30"])
    try:
        assert host.tree_rss_bytes(child.pid) == 0
        time.sleep(1.2)
        assert host.tree_rss_bytes(child.pid) > 0
    finally:
        child.kill()
        child.wait(timeout=10)


def test_pin_tree_pins_every_process_and_thread():
    import os
    import subprocess

    core = min(os.sched_getaffinity(0))
    child = subprocess.Popen(["sleep", "30"])
    try:
        host.pin_tree(child.pid, [core])
        assert os.sched_getaffinity(child.pid) == {core}
    finally:
        child.kill()
        child.wait(timeout=10)


def test_elapsed_removes_the_stolen_share_of_the_interval():
    # 300 busy and 100 stolen ticks: a quarter of the demand went unserved
    assert host.elapsed((10.0, 1000, 50), (12.0, 1300, 150)) == (2.0, 1.5)


def test_elapsed_without_steal_is_wall():
    assert host.elapsed((10.0, 1000, 50), (12.5, 1300, 50)) == (2.5, 2.5)
    assert host.elapsed((10.0, 1000, 50), (11.0, 1000, 50)) == (1.0, 1.0)


def test_marks_read_this_hosts_cores():
    import os

    m0 = host.mark()
    sum(i * i for i in range(200_000))
    wall, net = host.elapsed(m0)
    assert 0 < net <= wall
    assert host.cpu_ticks(os.sched_getaffinity(0))[0] > 0


@pytest.mark.parametrize("q", [0, 10, 50, 90, 100])
def test_pooled_percentile_matches_linear_interpolation(q):
    waves = [[1.2, 0.9, 3.5], [1.1, 1.0], [2.7, 0.95, 1.05, 4.0]]
    pooled = [s for run in waves for s in run]
    value, n = percentile(pooled, q)
    assert n == 9
    assert value == pytest.approx(np.percentile(pooled, q))


def test_percentile_sample_count_and_edges():
    assert percentile([5.0], 90) == (5.0, 1)
    assert median([3, 1, 2]) == 2
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)
