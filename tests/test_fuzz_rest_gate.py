"""REST fan-out differential fuzz in the local gate: one
seed-deterministic round of tools/fuzz_rest.py's check
(``extract_bcb_many`` ≡ the serial per-series reference, in order, on
adversarial control tables and payloads; random failures named
exactly in the one raised error). A failure reproduces standalone
with ``python tools/fuzz_rest.py 7 1`` (same string-seeded RNG
derivation). The heavier multi-round runs stay tool-side."""

from __future__ import annotations

import random

from tools.fuzz_rest import run_round

SEED, ROUND = 7, 0


def test_fuzz_rest_three_paths_agree(spark):
    rng = random.Random(f"rest:{SEED}:{ROUND}")
    run_round(spark, rng, f"gate_rest_{SEED}")
