#!/usr/bin/env python
"""Print the guard anchors bench.py derives at import from the committed
quiet-box artifacts (``bench.derive_anchors``), and the bench keys no
artifact has timed yet (a new quiet trio must record those).

Usage: python scripts/rederive_anchors.py
"""

from __future__ import annotations

import importlib.util
import json
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(_ROOT, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    print(json.dumps({
        "extended_total_anchor_sec": bench.GUARD_EXTENDED_ANCHOR_MIN_SEC,
        "per_key_anchor_sec": bench.PER_KEY_ANCHOR_MIN_SEC,
        "unanchored": [
            k for k in bench.HEADLINE + bench.EXTENDED
            if k not in bench.PER_KEY_ANCHOR_MIN_SEC
        ],
    }, indent=1))


if __name__ == "__main__":
    main()
