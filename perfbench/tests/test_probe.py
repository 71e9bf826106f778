"""The contention model that turns a pass's wall time into ``run_s``.

    python3 -m pytest perfbench/tests/test_probe.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.probe import uncontended_s  # noqa: E402


def test_no_other_tenant_keeps_wall_time():
    # waiting behind the benchmark's own threads stays in the wall time
    assert uncontended_s(4.0, 4, own_cpu_s=10.0, wait_s=3.0,
                         steal=0.0, sibling_busy=0.0) == 4.0


def test_steal_slows_the_whole_pass_by_its_share_of_wanted_time():
    # 10 of 16 core-seconds busy (0.625) and 0.125 stolen: a sixth stolen
    got = uncontended_s(4.0, 4, own_cpu_s=10.0, wait_s=0.0,
                        steal=0.125, sibling_busy=0.0)
    assert got == pytest.approx(4.0 * (1 - 0.125 / 0.75))


def test_other_tenants_take_their_busy_share_of_the_waiting():
    # others ran as much as the benchmark did, so half its waiting is theirs
    got = uncontended_s(4.0, 4, own_cpu_s=8.0, wait_s=8.0,
                        steal=0.0, sibling_busy=0.5)
    assert got == pytest.approx(4.0 * (1 - 4.0 / 16.0))
