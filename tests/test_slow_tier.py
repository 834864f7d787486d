"""The slow-tier node-id list in conftest.py must name tests that exist.

A listed id that no longer matches a collected test (renamed,
parametrized, deleted) silently moves that test into the default tier —
or drops a slow test nobody notices is gone.  Only files this session
collected are checked, so running a single test file still works.
"""

from __future__ import annotations

from .conftest import _SLOW_NODEIDS, COLLECTED_NODEIDS


def test_slow_tier_ids_are_collected(request):
    collected = request.config.stash[COLLECTED_NODEIDS]
    files = {nodeid.split("::", 1)[0] for nodeid in collected}
    stale = sorted(
        nodeid
        for nodeid in _SLOW_NODEIDS
        if nodeid.split("::", 1)[0] in files and nodeid not in collected
    )
    assert not stale, f"_SLOW_NODEIDS entries not collected: {stale}"
