"""r11 (VERDICT r10 What's missing #1 / Next round #3): the three
sketch stores — KMV, HDR histogram, Bloom bitset — get the same
single-writer + loud-crash-window guarantees the persisted indexes
got in r10. Per family: an interleaved second writer is REFUSED
loudly while the survivor's artifact loads with matching params.

r12 (VERDICT r11 What's missing #1 / Next round #4): KMV and HDR
moved from in-place overwrite to the versioned-pointer commit, so
crash-window semantics UPGRADE from "loud outage" to "old complete
artifact keeps serving": a save that dies before its atomic pointer
replace leaves the previous sketch loadable (the orphan version is
pruned by the next save), and a reader that arrives while a save is
mid-flight always resolves a COMPLETE artifact. A sidecar can still
never be paired with another save's rows (sidecar lives inside its
own version dir, written before the pointer)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_macropulse_br_spark.operators.statelock import (
    WriterLockHeld,
    artifact_lock,
)


def _kmv(spark, n=200, k=16):
    from etl_macropulse_br_spark.operators.sketches import kmv_sketch

    df = spark.range(n).select(F.col("id").cast("string").alias("v"))
    return kmv_sketch(df, "v", k=k)


def _hdr(spark, n=500, s=8):
    from etl_macropulse_br_spark.operators.sketches import hdr_histogram

    df = spark.range(1, n).select((F.col("id") * 3).alias("x"))
    return hdr_histogram(df, "x", s=s)


def test_kmv_save_interleave_refused_survivor_intact(spark, tmp_path):
    from etl_macropulse_br_spark.operators.sketches import (
        load_kmv_sketch,
        save_kmv_sketch,
    )

    path = str(tmp_path / "kmv_store")
    sk = _kmv(spark, k=16)
    save_kmv_sketch(sk, path, k=16)

    # writer A is mid-save (holds the artifact lease); writer B's
    # save must be refused loudly, not interleaved
    with artifact_lock(path, owner="in-flight-save"):
        with pytest.raises(WriterLockHeld, match="single-writer"):
            save_kmv_sketch(_kmv(spark, n=50, k=8), path, k=8)
    # the survivor still loads with ITS params (k=16, 16 rows)
    frame, k = load_kmv_sketch(spark, path)
    assert k == 16 and frame.count() == 16
    # lease released: a later legitimate save works
    save_kmv_sketch(_kmv(spark, n=50, k=8), path, k=8)
    assert load_kmv_sketch(spark, path)[1] == 8


def test_kmv_crash_mid_save_old_sketch_keeps_serving(
    spark, tmp_path, monkeypatch
):
    """r12: every crash window before the pointer replace leaves the
    OLD complete sketch loadable — the r11 in-place overwrite made
    this window a loud outage; in-place params-over-foreign-rows
    stays unreachable (the sidecar lives inside its version dir)."""
    from etl_macropulse_br_spark.operators.sketches import (
        load_kmv_sketch,
        save_kmv_sketch,
    )

    path = str(tmp_path / "kmv_crash")
    save_kmv_sketch(_kmv(spark, k=16), path, k=16)

    def crash(*a, **kw):
        raise RuntimeError("injected crash before sidecar write")

    # crash window 1: after the new version's parquet, before its
    # sidecar (json.dump feeds both the sidecar and the pointer)
    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(RuntimeError, match="injected"):
        save_kmv_sketch(_kmv(spark, n=50, k=8), path, k=8)
    monkeypatch.undo()
    frame, k = load_kmv_sketch(spark, path)
    assert k == 16 and frame.count() == 16  # old sketch, complete

    # crash window 2: sidecar landed, pointer replace did not
    def crash_replace(src, dst):
        if dst.endswith("_current.json"):
            raise RuntimeError("injected crash at pointer replace")
        return real_replace(src, dst)

    real_replace = os.replace
    monkeypatch.setattr(os, "replace", crash_replace)
    with pytest.raises(RuntimeError, match="pointer replace"):
        save_kmv_sketch(_kmv(spark, n=50, k=8), path, k=8)
    monkeypatch.undo()
    frame, k = load_kmv_sketch(spark, path)
    assert k == 16 and frame.count() == 16

    # the lease was released by the crashed writers' finally: a new
    # save commits, serves its own params, and prunes the orphans
    save_kmv_sketch(_kmv(spark, n=50, k=8), path, k=8)
    assert load_kmv_sketch(spark, path)[1] == 8


def test_kmv_reader_mid_save_sees_complete_artifact(spark, tmp_path):
    """The r12 headline: a load that arrives while a save is
    mid-overwrite gets a COMPLETE artifact. Simulated at the exact
    worst point — the new version's data is on disk, the pointer
    still names the old version (everything before the atomic
    replace IS that state)."""
    import uuid as _uuid

    from etl_macropulse_br_spark.operators.sketches import (
        load_kmv_sketch,
        save_kmv_sketch,
    )

    path = str(tmp_path / "kmv_inflight")
    save_kmv_sketch(_kmv(spark, k=16), path, k=16)
    # in-flight save: a complete new version dir, pointer untouched
    vdir = os.path.join(path, "versions", f"v-{_uuid.uuid4().hex[:12]}")
    _kmv(spark, n=50, k=8).write.parquet(vdir)
    frame, k = load_kmv_sketch(spark, path)
    assert k == 16 and frame.count() == 16
    # the previous version survives one subsequent commit too (an
    # in-flight reader of the old pointer can finish its scan)
    save_kmv_sketch(_kmv(spark, n=50, k=8), path, k=8)
    versions = os.listdir(os.path.join(path, "versions"))
    assert len(versions) >= 2


def test_kmv_legacy_flat_layout_still_loads(spark, tmp_path):
    """Pre-r12 stores (parquet + sidecar directly under path) load
    unchanged; the first r12 save moves the store to the pointer
    layout and wins resolution. r14 (ADVICE r13 #1): the upgrade
    save RETAINS the flat files — they are that commit's predecessor
    artifact, and a lock-less reader that resolved them via the
    legacy fallback just before the pointer swap must be able to
    finish its scan. The SECOND versioned save prunes them, so the
    store still converges to exactly one layout."""
    from etl_macropulse_br_spark.operators.sketches import (
        _write_sidecar_atomic,
        load_kmv_sketch,
        save_kmv_sketch,
    )

    path = str(tmp_path / "kmv_legacy")
    _kmv(spark, k=16).write.parquet(path)
    _write_sidecar_atomic(os.path.join(path, "_kmv_meta.json"), {"k": 16})
    frame, k = load_kmv_sketch(spark, path)
    assert k == 16 and frame.count() == 16
    save_kmv_sketch(_kmv(spark, n=50, k=8), path, k=8)
    assert load_kmv_sketch(spark, path)[1] == 8
    # upgrade save: the flat layout survives one in-flight save (it
    # is the predecessor artifact) — shadowed by the pointer, but an
    # in-flight legacy reader can still finish its scan
    assert "_kmv_meta.json" in os.listdir(path)
    # the save after next prunes it: only the versioned layout left
    save_kmv_sketch(_kmv(spark, n=30, k=4), path, k=4)
    assert load_kmv_sketch(spark, path)[1] == 4
    assert sorted(os.listdir(path)) == ["_current.json", "versions"]
    # and a further commit keeps the clean layout
    save_kmv_sketch(_kmv(spark, n=20, k=4), path, k=4)
    assert sorted(os.listdir(path)) == ["_current.json", "versions"]


def test_hdr_legacy_flat_layout_pruned_on_upgrade(spark, tmp_path):
    """The HDR twin of the upgrade-prune (shared _save_versioned
    path): pure-legacy loads stay covered; the upgrade save retains
    the flat files for one in-flight legacy reader (r14 — ADVICE
    r13 #1) and the save after next prunes them."""
    from etl_macropulse_br_spark.operators.sketches import (
        _write_sidecar_atomic,
        load_hdr_histogram,
        save_hdr_histogram,
    )

    path = str(tmp_path / "hdr_legacy")
    _hdr(spark, s=8).write.parquet(path)
    _write_sidecar_atomic(
        os.path.join(path, "_hdr_meta.json"), {"s": 8}
    )
    frame, meta = load_hdr_histogram(spark, path)
    assert meta["s"] == 8 and frame.count() > 0
    save_hdr_histogram(_hdr(spark, n=50, s=4), path, s=4)
    assert load_hdr_histogram(spark, path)[1]["s"] == 4
    assert "_hdr_meta.json" in os.listdir(path)  # one-save retention
    save_hdr_histogram(_hdr(spark, n=40, s=4), path, s=4)
    assert load_hdr_histogram(spark, path)[1]["s"] == 4
    assert sorted(os.listdir(path)) == ["_current.json", "versions"]


def test_hdr_save_interleave_refused_survivor_intact(spark, tmp_path):
    from etl_macropulse_br_spark.operators.sketches import (
        load_hdr_histogram,
        save_hdr_histogram,
    )

    path = str(tmp_path / "hdr_store")
    save_hdr_histogram(_hdr(spark, s=8), path, s=8)

    with artifact_lock(path, owner="in-flight-save"):
        with pytest.raises(WriterLockHeld, match="single-writer"):
            save_hdr_histogram(_hdr(spark, s=4), path, s=4)
    frame, meta = load_hdr_histogram(spark, path)
    assert meta["s"] == 8 and frame.count() > 0
    save_hdr_histogram(_hdr(spark, s=4), path, s=4)
    assert load_hdr_histogram(spark, path)[1]["s"] == 4


def test_hdr_crash_mid_save_old_histogram_keeps_serving(
    spark, tmp_path, monkeypatch
):
    from etl_macropulse_br_spark.operators.sketches import (
        load_hdr_histogram,
        save_hdr_histogram,
    )

    path = str(tmp_path / "hdr_crash")
    save_hdr_histogram(_hdr(spark, s=8), path, s=8)
    n_old = load_hdr_histogram(spark, path)[0].count()

    def crash(*a, **kw):
        raise RuntimeError("injected crash before sidecar write")

    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(RuntimeError, match="injected"):
        # same s: this tear is UNDETECTABLE from params alone, which
        # is why safety must come from the commit ordering — the new
        # rows are invisible until the pointer names their version
        save_hdr_histogram(_hdr(spark, n=50, s=8), path, s=8)
    monkeypatch.undo()
    frame, meta = load_hdr_histogram(spark, path)
    assert meta["s"] == 8 and frame.count() == n_old  # OLD buckets
    save_hdr_histogram(_hdr(spark, n=50, s=8), path, s=8)
    assert load_hdr_histogram(spark, path)[0].count() != n_old


def test_hdr_reader_mid_save_sees_complete_artifact(spark, tmp_path):
    import uuid as _uuid

    from etl_macropulse_br_spark.operators.sketches import (
        load_hdr_histogram,
        save_hdr_histogram,
    )

    path = str(tmp_path / "hdr_inflight")
    save_hdr_histogram(_hdr(spark, s=8), path, s=8)
    n_old = load_hdr_histogram(spark, path)[0].count()
    vdir = os.path.join(path, "versions", f"v-{_uuid.uuid4().hex[:12]}")
    _hdr(spark, n=50, s=8).write.parquet(vdir)  # in-flight save
    frame, meta = load_hdr_histogram(spark, path)
    assert meta["s"] == 8 and frame.count() == n_old


def _docs(spark, n=30):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta "),
                 F.col("id").cast("string")).alias("text"),
    )


def test_bloom_save_interleave_refused_and_replace_atomic(
    spark, tmp_path, monkeypatch
):
    from etl_macropulse_br_spark.operators.dedup import (
        load_bloom_bitset,
        save_bloom_bitset,
    )

    path = str(tmp_path / "bloom.json")
    s1 = save_bloom_bitset(_docs(spark), path, n_bits=1 << 12)
    assert load_bloom_bitset(path) == s1

    # interleave: refused loudly while a writer holds the lease
    with artifact_lock(path, owner="in-flight-save"):
        with pytest.raises(WriterLockHeld, match="single-writer"):
            save_bloom_bitset(_docs(spark, 5), path, n_bits=1 << 10)
    assert load_bloom_bitset(path) == s1  # survivor intact

    # crash at the commit point (os.replace): the OLD bitset stays
    # complete — a single-file replace is atomic, never truncated
    def crash(src, dst):
        raise RuntimeError("injected crash at replace")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected"):
        save_bloom_bitset(_docs(spark, 5), path, n_bits=1 << 10)
    monkeypatch.undo()
    assert load_bloom_bitset(path) == s1
    # and a clean retry wins
    s2 = save_bloom_bitset(_docs(spark, 5), path, n_bits=1 << 10)
    assert load_bloom_bitset(path) == s2


def test_load_bloom_bitset_rejects_artifact_missing_keys(tmp_path):
    """A JSON file without the stored build params is not a bitset
    artifact: loading it fails naming the writer to use."""
    from etl_macropulse_br_spark.operators.dedup import load_bloom_bitset

    broken = tmp_path / "broken.json"
    broken.write_text(json.dumps({"words": []}))
    with pytest.raises(ValueError, match="save_bloom_bitset"):
        load_bloom_bitset(str(broken))


def test_displaced_lease_aborts_sketch_commit(spark, tmp_path):
    """r13: a save whose lease was stolen mid-write must abort
    BEFORE the pointer commit — the old sketch keeps serving and the
    orphan version dir is pruned by the next save."""
    from etl_macropulse_br_spark.operators.sketches import (
        _save_versioned,
        load_kmv_sketch,
        save_kmv_sketch,
    )
    from etl_macropulse_br_spark.operators.statelock import (
        WriterLease,
        WriterLeaseDisplaced,
    )

    path = str(tmp_path / "kmv_displaced")
    save_kmv_sketch(_kmv(spark, k=16), path, k=16)

    displaced = WriterLease()
    displaced.displaced = True
    new_sketch = _kmv(spark, n=50, k=8)
    with pytest.raises(WriterLeaseDisplaced):
        _save_versioned(
            path,
            "_kmv_meta.json",
            {"k": 8},
            lambda vdir: new_sketch.write.mode("overwrite").parquet(vdir),
            lease=displaced,
        )
    frame, k = load_kmv_sketch(spark, path)
    assert k == 16 and frame.count() == 16  # old sketch serving
    # the orphan version the aborted save wrote is pruned by the
    # next successful commit
    save_kmv_sketch(_kmv(spark, n=50, k=8), path, k=8)
    assert load_kmv_sketch(spark, path)[1] == 8


def test_displacement_detected_live_and_gates_commit(spark, tmp_path):
    """End-to-end displacement (r13): a writer holds the REAL
    artifact lease with heartbeats running; the lock is replaced out
    from under it (a waiter judged it dead); the heartbeat flags the
    lease displaced, and the pointer commit it then attempts is
    refused — the old sketch keeps serving and the thief's lock is
    untouched."""
    import time

    from etl_macropulse_br_spark.operators.sketches import (
        _save_versioned,
        load_kmv_sketch,
        save_kmv_sketch,
    )
    from etl_macropulse_br_spark.operators.statelock import (
        PosixLockProvider,
        WriterLeaseDisplaced,
        artifact_lock,
    )

    path = str(tmp_path / "kmv_live_displace")
    save_kmv_sketch(_kmv(spark, k=16), path, k=16)

    lock = os.path.join(f"{path}.lock", ".writer.lock")
    thief = PosixLockProvider()
    new_sketch = _kmv(spark, n=50, k=8)
    with artifact_lock(
        path, owner="slow-save", stale_after_s=0.4,
        provider=PosixLockProvider(),
    ) as lease:
        # a waiter (wrongly) judged this holder dead and took the lock
        os.unlink(lock)
        assert thief.try_create(lock, "thief pid=9 token=T t=1")
        for _ in range(100):  # beat interval is 0.1 s
            if lease.displaced:
                break
            time.sleep(0.05)
        assert lease.displaced is True
        with pytest.raises(WriterLeaseDisplaced):
            _save_versioned(
                path,
                "_kmv_meta.json",
                {"k": 8},
                lambda vdir: new_sketch.write.mode(
                    "overwrite"
                ).parquet(vdir),
                lease=lease,
            )
    # old sketch serving; thief's lock untouched by the zombie exit
    frame, k = load_kmv_sketch(spark, path)
    assert k == 16 and frame.count() == 16
    with open(lock) as f:
        assert "token=T" in f.read()


def test_bloom_displacement_leaves_no_tmp_orphan(
    spark, tmp_path, monkeypatch
):
    """r14 (ADVICE r13 #2): when the displacement gate fires AFTER
    the tmp bitset was written, the aborted commit must unlink its
    ``<path>.tmp-*`` file before re-raising — repeated displacements
    previously accumulated dead tmp files forever. And the next
    LOCKED save prunes any tmp a hard crash did leave behind."""
    import contextlib

    from etl_macropulse_br_spark.operators import statelock
    from etl_macropulse_br_spark.operators.dedup import (
        load_bloom_bitset,
        save_bloom_bitset,
    )
    from etl_macropulse_br_spark.operators.statelock import (
        WriterLease,
        WriterLeaseDisplaced,
    )

    path = str(tmp_path / "bloom.json")
    s1 = save_bloom_bitset(_docs(spark), path, n_bits=1 << 12)

    # displacement lands MID-SAVE: the entry gate (which protects
    # the new holder's tmp from a zombie's prune — see below) has
    # already passed, so the cleanup under test is the COMMIT gate's
    class _FlipLease(WriterLease):
        def __init__(self):
            super().__init__()
            self.calls = 0

        def check(self):
            self.calls += 1
            if self.calls >= 2:
                self.displaced = True
            super().check()

    flip = _FlipLease()

    @contextlib.contextmanager
    def displaced_lock(*a, **kw):
        yield flip

    monkeypatch.setattr(statelock, "artifact_lock", displaced_lock)
    with pytest.raises(WriterLeaseDisplaced):
        save_bloom_bitset(_docs(spark, 5), path, n_bits=1 << 10)
    assert flip.calls >= 2  # the tmp WAS written, then refused
    monkeypatch.undo()
    assert load_bloom_bitset(path) == s1  # old bitset serving
    orphans = [
        n
        for n in os.listdir(tmp_path)
        if n.startswith("bloom.json.tmp-")
    ]
    assert orphans == []  # the aborted commit cleaned up after itself

    # a lease displaced BEFORE the prune aborts at the entry gate:
    # a zombie must never glob-unlink the new holder's in-flight tmp
    dead = WriterLease()
    dead.displaced = True

    @contextlib.contextmanager
    def dead_lock(*a, **kw):
        yield dead

    with open(f"{path}.tmp-newholder", "w") as f:
        f.write('{"in-flight": true}')  # the NEW holder's tmp
    monkeypatch.setattr(statelock, "artifact_lock", dead_lock)
    with pytest.raises(WriterLeaseDisplaced):
        save_bloom_bitset(_docs(spark, 5), path, n_bits=1 << 10)
    monkeypatch.undo()
    assert os.path.exists(f"{path}.tmp-newholder")  # untouched
    os.unlink(f"{path}.tmp-newholder")

    # a hard crash (no chance to clean) leaves a tmp; the next
    # locked save prunes it under the lease
    with open(f"{path}.tmp-deadbeef", "w") as f:
        f.write("{}")
    s2 = save_bloom_bitset(_docs(spark, 5), path, n_bits=1 << 10)
    assert load_bloom_bitset(path) == s2
    assert not os.path.exists(f"{path}.tmp-deadbeef")


def test_signature_compact_displacement_leaves_no_orphan_dir(
    spark, tmp_path
):
    """r14 (ADVICE r13 #2), compaction twin: a displaced lease
    aborts the swap AND removes its ``signatures.compact-*`` temp
    directory; a crash-stranded compact dir is pruned by the next
    compaction while the live ``signatures/`` exists. The recovery
    case (no live ``signatures/`` — crash between the swap renames)
    is untouched: the read fails loudly before any prune."""
    from etl_macropulse_br_spark.operators.signature_index import (
        _compact_signature_index_unlocked,
        compact_signature_index,
    )
    from etl_macropulse_br_spark.operators.statelock import (
        WriterLease,
        WriterLeaseDisplaced,
    )

    state = str(tmp_path / "sigstate")
    sig_dir = os.path.join(state, "signatures")
    spark.range(40).select(
        F.col("id").cast("string").alias("id"),
        (F.col("id") % 7).alias("sig"),
    ).write.parquet(sig_dir)
    n_live = spark.read.parquet(sig_dir).count()

    class _FlipLease(WriterLease):
        def __init__(self):
            super().__init__()
            self.calls = 0

        def check(self):
            self.calls += 1
            if self.calls >= 2:
                self.displaced = True
            super().check()

    with pytest.raises(WriterLeaseDisplaced):
        _compact_signature_index_unlocked(
            spark, state, target_files=1, lease=_FlipLease()
        )
    leftovers = [
        n for n in os.listdir(state) if n.startswith("signatures.")
    ]
    assert leftovers == []  # aborted swap cleaned its compact dir
    assert spark.read.parquet(sig_dir).count() == n_live  # intact

    # a lease displaced at ENTRY aborts before the prune: a zombie
    # compactor must never rmtree the new holder's in-flight
    # compact directory
    dead = WriterLease()
    dead.displaced = True
    newholder = os.path.join(state, "signatures.compact-newhold1")
    os.makedirs(newholder)
    with pytest.raises(WriterLeaseDisplaced):
        _compact_signature_index_unlocked(
            spark, state, target_files=1, lease=dead
        )
    assert os.path.isdir(newholder)  # untouched by the zombie
    os.rmdir(newholder)

    # crash-stranded orphans next to a LIVE signatures/ (a dead
    # compact dir AND a dead old-* from a crash after the swap but
    # before the rmtree): both pruned by the next compaction
    stranded = os.path.join(state, "signatures.compact-dead1234")
    spark.range(3).select(
        F.col("id").cast("string").alias("id")
    ).write.parquet(stranded)
    stranded_old = os.path.join(state, "signatures.old-dead5678")
    os.makedirs(stranded_old)
    out = compact_signature_index(spark, state, target_files=1)
    assert not os.path.exists(stranded)
    assert not os.path.exists(stranded_old)
    assert out["rows_after"] == n_live


def test_prune_rechecks_lease_before_each_deletion(
    spark, tmp_path, monkeypatch
):
    """r15 (ADVICE r14 #4): the entry-gate prunes re-check the lease
    immediately before EACH deletion, so a displacement landing
    mid-prune stops the zombie before its next unlink instead of
    letting it finish the sweep. (This NARROWS the check->delete
    window — it cannot close it; same caveat as the posix provider.)
    Pinned for both the bloom tmp prune and the signature-compaction
    stranded-dir prune."""
    import contextlib

    from etl_macropulse_br_spark.operators import statelock
    from etl_macropulse_br_spark.operators.dedup import save_bloom_bitset
    from etl_macropulse_br_spark.operators.signature_index import (
        _compact_signature_index_unlocked,
    )
    from etl_macropulse_br_spark.operators.statelock import (
        WriterLease,
        WriterLeaseDisplaced,
    )

    class _FlipAt(WriterLease):
        def __init__(self, at):
            super().__init__()
            self.at = at
            self.calls = 0

        def check(self):
            self.calls += 1
            if self.calls >= self.at:
                self.displaced = True
            super().check()

    # --- bloom: two stranded tmps; flip lands between the unlinks
    # (entry check = 1, first per-file check = 2, second = 3)
    path = str(tmp_path / "bloom.json")
    s1 = save_bloom_bitset(_docs(spark, 5), path, n_bits=1 << 10)
    for name in ("aaaa", "bbbb"):
        with open(f"{path}.tmp-{name}", "w") as f:
            f.write("{}")
    flip = _FlipAt(3)

    @contextlib.contextmanager
    def flip_lock(*a, **kw):
        yield flip

    monkeypatch.setattr(statelock, "artifact_lock", flip_lock)
    with pytest.raises(WriterLeaseDisplaced):
        save_bloom_bitset(_docs(spark, 5), path, n_bits=1 << 10)
    monkeypatch.undo()
    survivors = [
        n for n in os.listdir(tmp_path) if n.startswith("bloom.json.tmp-")
    ]
    assert len(survivors) == 1  # stopped BEFORE the second unlink
    from etl_macropulse_br_spark.operators.dedup import load_bloom_bitset

    assert load_bloom_bitset(path) == s1  # old bitset untouched
    for n in survivors:
        os.unlink(str(tmp_path / n))

    # --- signature compaction twin: two stranded compact dirs
    state = str(tmp_path / "sigstate")
    sig_dir = os.path.join(state, "signatures")
    spark.range(20).select(
        F.col("id").cast("string").alias("id"),
        (F.col("id") % 5).alias("sig"),
    ).write.parquet(sig_dir)
    for name in ("stranded1", "stranded2"):
        d = os.path.join(state, f"signatures.compact-{name}")
        os.makedirs(d)
        with open(os.path.join(d, "junk.parquet"), "w") as f:
            f.write("x")
    with pytest.raises(WriterLeaseDisplaced):
        _compact_signature_index_unlocked(
            spark, state, target_files=1, lease=_FlipAt(3)
        )
    stranded = [
        n
        for n in os.listdir(state)
        if n.startswith("signatures.compact-")
    ]
    assert len(stranded) == 1  # stopped before the second rmtree
    n_live = spark.read.parquet(sig_dir).count()
    assert n_live == 20  # live signatures untouched
