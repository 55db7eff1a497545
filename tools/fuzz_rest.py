"""Seeded differential fuzz for the many-series BCB ingest.

``extract_bcb_many`` fetches its series on a driver thread pool and
types them in ONE ``createDataFrame``. Its contract is row-equality,
in order, with the serial per-series reference
(``extract_bcb_sgs_series`` + ``unionByName``) for ANY payload the BCB
API could return — not just the happy-path fixtures the unit tests
pin. This tool generates adversarial control tables and payloads from
one seed and checks:

- series counts 0..24, duplicate series ids, string ids with leading
  zeros (the reference's control CSV shape), unicode names;
- per-record payloads mixing valid dd/mm/YYYY dates, garbage dates,
  ISO dates (must coerce to NULL like the reference's
  ``errors="coerce"``), pt-BR numbers with/without thousands dots,
  plain dots, empties, and non-numeric junk;
- randomly failing series (second phase): the one raised error must
  name exactly the failed set and count every failed call.

Usage: ``python tools/fuzz_rest.py [seed] [rounds]``
Prints one JSON line; exit 1 on any divergence. A failure reproduces
with the same seed (same string-seeded RNG derivation as the other
fuzz tools).
"""

from __future__ import annotations

import json
import os
import random
import re
import sys
from functools import reduce

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_DATES = [
    "02/01/2026", "09/01/2026", "15/12/2025", "31/12/2025",
    "29/02/2024",          # valid leap date
    "31/02/2026",          # impossible date -> NULL
    "2026-01-02",          # ISO shape -> NULL (day-first parse only)
    "bogus", "", "1/1/26",
]
_VALORS = [
    "13,15", "1.234,56", "-0,01", "0", "12", "6.10", "6",
    "", "n/d", "1.2.3", "-1.234.567,89",
]


def _payload(rng: random.Random) -> list[dict]:
    n = rng.randrange(0, 7)
    out = []
    for _ in range(n):
        rec = {}
        if rng.random() > 0.05:
            rec["data"] = rng.choice(_DATES)
        if rng.random() > 0.05:
            rec["valor"] = rng.choice(_VALORS)
        out.append(rec)
    return out


def _series(rng: random.Random) -> list[tuple]:
    n = rng.randrange(0, 25)
    out = []
    for i in range(n):
        sid = rng.choice([rng.randrange(1, 500), i + 1])
        sid_v = rng.choice([sid, str(sid), f"0{sid}"])
        name = rng.choice(
            [f"s{sid}", f"série_{sid}", "índice açúcar", f"dup{sid % 3}"]
        )
        out.append((sid_v, name))
    return out


def _sid(url: str) -> int:
    return int(url.split("bcdata.sgs.")[1].split("/")[0])


def run_round(spark, rng: random.Random, tag: str) -> None:
    from etl_macropulse_br_spark.sources.rest import (
        extract_bcb_many,
        extract_bcb_sgs_series,
    )
    from pyspark.sql import DataFrame

    series = _series(rng)
    # payloads keyed by the NORMALIZED id — the fan-out must coerce
    # '011' and 11 to the same series before fetching
    payloads = {
        int(sid): _payload(rng) for sid, _ in series
    }

    def fetch(url: str) -> list[dict]:
        return payloads[_sid(url)]

    got = [
        tuple(r)
        for r in extract_bcb_many(
            spark, series, "2025-12-01", "2026-01-31", fetch=fetch
        ).collect()
    ]
    want = []
    if series:
        frames = [
            extract_bcb_sgs_series(
                spark, int(sid), str(name), "2025-12-01", "2026-01-31",
                fetch=fetch,
            )
            for sid, name in series
        ]
        want = [
            tuple(r)
            for r in reduce(DataFrame.unionByName, frames).collect()
        ]
    assert got == want, (
        f"{tag}: extract_bcb_many != serial reference (ORDERED) for "
        f"{len(series)} series"
    )

    # phase 2: random failures — the one raised error names exactly
    # the failed series and counts every failed call
    if series:
        failing = {
            int(sid)
            for sid, _ in series
            if rng.random() < 0.3
        }
        if not failing:
            return

        def flaky(url: str) -> list[dict]:
            sid = _sid(url)
            if sid in failing:
                raise ConnectionError(f"boom {sid}")
            return payloads[sid]

        try:
            extract_bcb_many(
                spark, series, "2025-12-01", "2026-01-31", fetch=flaky
            )
        except RuntimeError as exc:
            msg = str(exc)
        else:
            raise AssertionError(
                f"{tag}: did not raise with {len(failing)} failing series"
            )
        named = set(map(int, re.findall(r"series (\d+)", msg)))
        assert named == failing, (
            f"{tag}: raise named {named}, failing {failing}"
        )
        n_failed = sum(int(sid) in failing for sid, _ in series)
        assert f" {n_failed}/{len(series)} series failed — " in msg, (
            f"{tag}: raise did not count {n_failed}/{len(series)}: {msg}"
        )


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    from etl_macropulse_br_spark.session import get_spark

    spark = get_spark(app_name="fuzz_rest", profile="small-input")
    failed = []
    for i in range(rounds):
        rng = random.Random(f"rest:{seed}:{i}")
        tag = f"round{i}"
        try:
            run_round(spark, rng, tag)
            print(f"{tag:10s} OK")
        except AssertionError as exc:
            failed.append(f"{tag}: {exc}")
            print(f"{tag:10s} FAIL {exc}")
    print(
        json.dumps(
            {
                "seed": seed,
                "rounds": rounds,
                "passed": rounds - len(failed),
                "failed": failed,
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
