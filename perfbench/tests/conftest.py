from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    run.bootstrap()
    s = run.start_session(cores=2)
    yield s
    run.stop_session(s)
