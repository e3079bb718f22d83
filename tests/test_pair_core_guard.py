"""Regrowth guard for the pair-generation core: the C(k,2) in-bucket
pair template and the duplication-adaptive shape threshold live in
``operators/pairs.py`` and nowhere else in the package."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).parents[1] / "s3_parquet_to_postgres_spark"
CORE = PKG / "operators" / "pairs.py"


def test_pair_template_and_shape_threshold_live_only_in_pairs_core():
    hand_written = re.compile(r"slice\(\w+, i \+ 2, size\(")
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == CORE:
            continue
        src = path.read_text()
        if hand_written.search(src) or "CLUSTER_COLLAPSE_MIN_DUP" in src:
            offenders.append(str(path.relative_to(PKG)))
    assert offenders == [], (
        "use operators/pairs.py (bucket_pairs / choose_shape) instead of "
        f"a local copy in: {offenders}"
    )
    core = CORE.read_text()
    assert len(re.findall(r"slice\(\{?\w+\}?, i \+ 2, size\(", core)) == 1
    assert core.count("CLUSTER_COLLAPSE_MIN_DUP =") == 1
