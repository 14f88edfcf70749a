"""The external correctness gate grades the first 50 entries of
``__spark_entry__.queries()``.

That head is frozen: it must be, in order, the query set graded in the
newest ``CORRECTNESS_r*.json`` on disk, and every entry must carry an
oracle, so the next correctness run drops no query.
"""

from __future__ import annotations

import glob
import json
import os
import re

import __spark_entry__

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_graded() -> list[str]:
    paths = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    newest = max(paths, key=lambda p: int(
        re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1)))
    with open(newest) as fh:
        return list(json.load(fh))


def test_head_is_the_newest_graded_set():
    head = list(__spark_entry__.queries())[:50]
    assert head == _newest_graded()
    oracles = __spark_entry__.oracle_sql()
    assert [q for q in head if q not in oracles] == []
