"""The benchmark's traced run monkeypatches the package functions listed
in ``perfbench/layers.py:WRAPPED``. Deleting or renaming one of them
breaks only ``perfbench/run.py --trace 1``; this pins every entry to a
callable the package still has."""

from __future__ import annotations

import os

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def test_every_wrapped_entry_resolves_to_a_callable(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import layers

    assert layers.WRAPPED
    for path, attr, span in layers.WRAPPED:
        owner = layers._resolve(path)
        assert callable(getattr(owner, attr, None)), (path, attr, span)
