from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rsmetacheck_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def th_restore():
    """Restore every threshold (and the override env var) after a test
    that overrides them."""
    from rsmetacheck_spark import thresholds as TH

    saved = {
        n: getattr(TH, n)
        for n in dir(TH)
        if n.isupper() and not n.startswith("_")
    }
    yield
    for n, v in saved.items():
        setattr(TH, n, v)
    # _apply_threshold_overrides exports into os.environ for executor
    # imports; leaving it set leaks the override into every later
    # get_spark / subprocess in this pytest process (an
    # EXECUTOR_CONSUMED name would trip session.py's fresh-session
    # RuntimeError in an unrelated test)
    os.environ.pop("RSMC_THRESHOLD_OVERRIDES", None)
