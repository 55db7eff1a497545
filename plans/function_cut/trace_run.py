"""Run a script under sys.setprofile (every thread) and record entries
into the package functions this change deletes, plus the lock-provider
environment value each default_provider call saw. From the root of a
checkout:

    TRACE_OUT=hits.json python plans/function_cut/trace_run.py SCRIPT [ARGS...]

Results of the parent-commit run are in trace_summary.txt.
"""
import json
import os
import runpy
import sys
import threading

NAMES = {
    # operators/sketches.py
    "_write_sidecar_atomic", "_read_pointer", "_save_versioned",
    "_load_versioned", "save_kmv_sketch", "load_kmv_sketch",
    "kmv_set_ops_from_stored", "save_hdr_histogram", "load_hdr_histogram",
    "hdr_merge_stored", "hdr_merge", "hdr_quantiles_from_histogram",
    "hdr_signed_quantiles_from_histogram",
    # operators/dedup.py
    "save_bloom_bitset", "load_bloom_bitset", "token_shingle_hashes",
    "shingle_combine_over_th", "bloom_bits_for",
    # operators/statelock.py
    "artifact_lock",
    # functions/
    "xxhash64_seeded", "select_roles",
}
PKG = os.sep + "etl_macropulse_br_spark" + os.sep
hits: dict[str, int] = {}
pkg_calls = [0]
provider_calls: list = []


def prof(frame, event, arg):
    if event != "call":
        return
    co = frame.f_code
    if PKG not in co.co_filename:
        return
    pkg_calls[0] += 1
    if co.co_name in NAMES:
        key = f"{os.path.basename(co.co_filename)}:{co.co_name}"
        hits[key] = hits.get(key, 0) + 1
    if co.co_name == "default_provider":
        provider_calls.append(os.environ.get("SPARK_GRAFT_LOCK_PROVIDER"))


def dump():
    sys.setprofile(None)
    threading.setprofile(None)
    with open(os.environ["TRACE_OUT"], "w") as f:
        json.dump(
            {
                "argv": sys.argv,
                "package_calls": pkg_calls[0],
                "deleted_name_hits": hits,
                "default_provider_calls": len(provider_calls),
                "lock_provider_env_seen": sorted(
                    {p for p in provider_calls if p is not None}
                ),
            },
            f,
        )


script = sys.argv[1]
sys.argv = sys.argv[1:]
sys.path.insert(0, os.path.dirname(os.path.abspath(script)))
threading.setprofile(prof)
sys.setprofile(prof)
try:
    runpy.run_path(script, run_name="__main__")
except SystemExit as e:
    if e.code not in (None, 0):
        dump()
        raise
finally:
    if sys.getprofile() is not None:
        dump()
