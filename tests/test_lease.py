"""Mechanical single-writer enforcement for the fuzzy-match lifecycle
(round-12 VERDICT ask #2): every crash-safety proof in the ingest /
maintenance / compaction machinery conditions on single-writer
execution, and these tests turn the docstring rule into asserted
behavior - pairwise refusal between the lifecycle entry points, and
stale-takeover so a crashed cron never wedges the weekly cadence.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from nyc_government_hiring_audit_data_platform_spark import lease as LS
from nyc_government_hiring_audit_data_platform_spark.pipelines import hiring_audit as HA


# -- lease mechanics ---------------------------------------------------------


def test_lease_acquire_release_roundtrip(tmp_path):
    d = str(tmp_path / "idx")
    with LS.lifecycle_lease(d, "stepA") as lease:
        path = os.path.join(d, "_lifecycle_lease.json")
        assert os.path.exists(path)
        with open(path) as f:
            held = json.load(f)
        assert held["step"] == "stepA" and held["owner"] == lease.owner
        lease.heartbeat()  # no-op refresh while owned
    assert not os.path.exists(path)
    # no claim/takeover litter either
    assert os.listdir(d) == []


def test_lease_refuses_live_holder_and_names_it(tmp_path):
    d = str(tmp_path / "idx")
    with LS.lifecycle_lease(d, "run_fuzzy_index_maintenance"):
        with pytest.raises(LS.LeaseHeldError, match="run_fuzzy_index_maintenance"):
            with LS.lifecycle_lease(d, "run_fuzzy_match_ingest"):
                pass
    # released: the second step acquires now
    with LS.lifecycle_lease(d, "run_fuzzy_match_ingest"):
        pass


def test_lease_stale_takeover(tmp_path):
    d = str(tmp_path / "idx")
    os.makedirs(d)
    path = os.path.join(d, "_lifecycle_lease.json")
    with open(path, "w") as f:
        json.dump({"owner": "dead", "step": "crashed_cron", "pid": 0}, f)
    old = time.time() - 120
    os.utime(path, (old, old))
    # within stale_after: refuse; past it: take over
    with pytest.raises(LS.LeaseHeldError, match="crashed_cron"):
        with LS.lifecycle_lease(d, "next_cron", stale_after=3600):
            pass
    with LS.lifecycle_lease(d, "next_cron", stale_after=60) as lease:
        with open(path) as f:
            assert json.load(f)["owner"] == lease.owner
    assert not os.path.exists(path)


def test_lease_lost_raises_on_heartbeat_and_release(tmp_path):
    d = str(tmp_path / "idx")
    path = os.path.join(d, "_lifecycle_lease.json")

    def usurp():
        with open(path, "w") as f:
            json.dump({"owner": "usurper", "step": "takeover", "pid": 0}, f)

    lease = LS._acquire(d, "victim", 3600)
    usurp()
    with pytest.raises(LS.LeaseLostError, match="takeover"):
        lease.heartbeat()
    with pytest.raises(LS.LeaseLostError):
        lease.release()
    # the context manager surfaces the loss at clean exit too (the
    # usurper's file survives the failed release - it owns the lease)
    os.remove(path)
    with pytest.raises(LS.LeaseLostError):
        with LS.lifecycle_lease(d, "victim2", stale_after=1):
            usurp()
    # ... but an in-flight exception wins over the lost-lease error
    os.remove(path)
    with pytest.raises(RuntimeError, match="real failure"):
        with LS.lifecycle_lease(d, "victim3", stale_after=1):
            usurp()
            raise RuntimeError("real failure")
    os.remove(path)


# -- pairwise refusal between the lifecycle entry points ---------------------


def test_entry_points_refuse_while_lease_held(tmp_path):
    """Each lifecycle entry point acquires the shared lease FIRST, so
    every pairwise conflict refuses loudly: ingest x maintenance,
    maintenance x compaction, ingest x payroll-fold, matches-fold x
    ingest. The lease fires before any argument is touched - None
    stand-ins prove no state was read or written."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    idx = str(tmp_path / "idx")
    with LS.lifecycle_lease(idx, "run_fuzzy_match_ingest"):
        # ingest x maintenance
        with pytest.raises(LS.LeaseHeldError, match="run_fuzzy_match_ingest"):
            HA.run_fuzzy_index_maintenance(None, "p", idx, "m", "ck")
        # ingest x payroll-fold
        with pytest.raises(LS.LeaseHeldError):
            HA.compact_payroll_corpus(None, "p", idx)
        # ingest x matches-fold (lease-participating)
        with pytest.raises(LS.LeaseHeldError):
            HA.compact_matches_corpus(None, "m", lease_dir=idx)
    with LS.lifecycle_lease(idx, "run_fuzzy_index_maintenance"):
        # maintenance x ingest
        with pytest.raises(LS.LeaseHeldError, match="run_fuzzy_index_maintenance"):
            HA.run_fuzzy_match_ingest(None, None, idx, "m", "ck")
        # maintenance x index-compaction
        with pytest.raises(LS.LeaseHeldError):
            FZ.compact_persisted_title_index(None, idx)
    with LS.lifecycle_lease(idx, "compact_persisted_title_index"):
        # compaction x maintenance
        with pytest.raises(LS.LeaseHeldError, match="compact_persisted_title_index"):
            HA.run_fuzzy_index_maintenance(None, "p", idx, "m", "ck")
    # everything released: an entry point acquires normally again
    # (compact_matches_corpus on a missing dir is a lease-guarded no-op)
    assert HA.compact_matches_corpus(None, str(tmp_path / "m"), lease_dir=idx) == []


def test_takeover_verifies_it_renamed_the_stale_incarnation(tmp_path, monkeypatch):
    """Review finding (r13, pass 1): between the contender's age check
    and its takeover rename, the holder can heartbeat (or release and a
    new holder acquire) - renaming away that LIVE lease would leave two
    writers. The takeover must verify the renamed file is the same
    stale incarnation it judged, restore it when not, and refuse."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(d)
    path = os.path.join(d, "_lifecycle_lease.json")
    with open(path, "w") as f:
        json.dump({"owner": "alive", "step": "run_fuzzy_match_ingest", "pid": 0}, f)
    old = time.time() - 7200
    os.utime(path, (old, old))

    real_rename = os.rename

    def rename_after_heartbeat(src, dst):
        if src == path:
            os.utime(path)  # the holder's heartbeat lands first
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_after_heartbeat)
    with pytest.raises(LS.LeaseHeldError, match="run_fuzzy_match_ingest"):
        with LS.lifecycle_lease(d, "contender", stale_after=3600):
            pass
    monkeypatch.undo()
    # the live lease survived, owner intact, no takeover litter
    with open(path) as f:
        assert json.load(f)["owner"] == "alive"
    assert [x for x in os.listdir(d) if ".takeover." in x or ".claim." in x] == []

    # owner-changed lane: release + fresh re-acquire between check and
    # rename - same refusal, the fresh owner's lease restored
    os.utime(path, (old, old))

    def rename_after_reacquire(src, dst):
        if src == path:
            with open(path, "w") as f:
                json.dump({"owner": "fresh", "step": "maintenance", "pid": 0}, f)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_after_reacquire)
    with pytest.raises(LS.LeaseHeldError, match="maintenance"):
        with LS.lifecycle_lease(d, "contender", stale_after=3600):
            pass
    monkeypatch.undo()
    with open(path) as f:
        assert json.load(f)["owner"] == "fresh"
    os.remove(path)


def test_unreadable_stale_lease_is_taken_over_not_spun_on(tmp_path):
    """Review finding (r13, pass 2): an unreadable (torn/corrupt) lease
    file with a stale mtime sent the takeover-verify into an infinite
    restore loop. mtime alone decides staleness now: unreadable+stale
    is taken over; unreadable+fresh refuses like any live holder."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(d)
    path = os.path.join(d, "_lifecycle_lease.json")
    with open(path, "w") as f:
        f.write("{not json")
    old = time.time() - 7200
    os.utime(path, (old, old))
    with LS.lifecycle_lease(d, "next_cron", stale_after=60) as lease:
        with open(path) as f:
            assert json.load(f)["owner"] == lease.owner
    # fresh-but-unreadable: refuse loudly, never spin
    with open(path, "w") as f:
        f.write("{not json")
    with pytest.raises(LS.LeaseHeldError, match="unreadable"):
        with LS.lifecycle_lease(d, "next_cron", stale_after=3600):
            pass
    os.remove(path)


def test_takeover_survives_peer_sweep_race(tmp_path, monkeypatch):
    """Review finding (r13, pass 2): a takeover file inherits the stale
    lease's old mtime, so a peer's entry-time litter sweep can delete
    it mid-protocol - every step must tolerate the file vanishing and
    re-contend instead of crashing with FileNotFoundError."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(d)
    path = os.path.join(d, "_lifecycle_lease.json")
    with open(path, "w") as f:
        json.dump({"owner": "dead", "step": "crashed", "pid": 0}, f)
    old = time.time() - 7200
    os.utime(path, (old, old))

    real_rename = os.rename

    def rename_then_peer_sweeps(src, dst):
        real_rename(src, dst)
        if ".takeover." in dst:
            os.remove(dst)  # the peer's sweep wins the race

    monkeypatch.setattr(os, "rename", rename_then_peer_sweeps)
    with LS.lifecycle_lease(d, "next_cron", stale_after=60) as lease:
        with open(path) as f:
            assert json.load(f)["owner"] == lease.owner
    monkeypatch.undo()
    assert not os.path.exists(path)


def test_strip_to_meta_honors_ignore_errors_for_files(tmp_path, monkeypatch):
    """Review finding (r13, pass 2): stripping a folded matches dir to
    its meta honored ignore_errors only for subdirectories - a
    file-removal failure in the post-commit cleanup would fail a fold
    that already committed. The stripping is now the shared
    versioned-base cleanup (``versioned._clear`` keeping the meta)."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.pipelines import versioned as VB

    p = tmp_path / "b0"
    p.mkdir()
    (p / "_meta.json").write_text("{}")
    (p / "rows.parquet").write_bytes(b"x")

    def denied(_):
        raise PermissionError("EACCES")

    monkeypatch.setattr(os, "remove", denied)
    VB._clear(str(p), "_meta.json", ignore_errors=True)  # must not raise
    with pytest.raises(PermissionError):
        VB._clear(str(p), "_meta.json", ignore_errors=False)
    monkeypatch.undo()
    VB._clear(str(p), "_meta.json")
    assert sorted(x.name for x in p.iterdir()) == ["_meta.json"]


def test_heartbeat_rename_race_raises_lease_lost(tmp_path, monkeypatch):
    """Review finding (r13, pass 1): a takeover renaming the file
    between heartbeat's holder check and its utime must surface the
    designed LeaseLostError, never a bare FileNotFoundError out of a
    sink's foreachBatch."""
    import os

    lease = LS._acquire(str(tmp_path / "idx"), "victim", 3600)

    def gone(*a, **k):
        raise FileNotFoundError(lease.path)

    monkeypatch.setattr(os, "utime", gone)
    with pytest.raises(LS.LeaseLostError):
        lease.heartbeat()
    monkeypatch.undo()
    lease.release()


def test_acquire_sweeps_dead_takeover_and_claim_litter(tmp_path):
    """Review finding (r13, pass 1): a contender hard-killed between
    its takeover rename and remove (or claim write and unlink) strands
    .takeover.* / .claim.* files nothing reclaimed - acquisition now
    sweeps any older than stale_after, keeping live ones."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(d)
    base = os.path.join(d, "_lifecycle_lease.json")
    dead_t = base + ".takeover.deadbeef"
    dead_c = base + ".claim.deadbeef"
    live_c = base + ".claim.cafef00d"
    for p in (dead_t, dead_c, live_c):
        with open(p, "w") as f:
            json.dump({"owner": "x", "step": "s", "pid": 0}, f)
    old = time.time() - 7200
    os.utime(dead_t, (old, old))
    os.utime(dead_c, (old, old))
    with LS.lifecycle_lease(d, "sweeper", stale_after=3600):
        assert not os.path.exists(dead_t) and not os.path.exists(dead_c)
        assert os.path.exists(live_c)  # seconds old: could be a live race
    os.remove(live_c)


def test_matches_fold_lease_is_an_explicit_decision():
    """Review finding (r13, pass 1): compact_matches_corpus must not
    default its single-writer enforcement OFF - lease_dir is a required
    keyword (index_dir to enforce, an explicit None only for a
    standalone corpus)."""
    with pytest.raises(TypeError):
        HA.compact_matches_corpus(None, "m")  # no lease decision made


def test_compaction_deposed_mid_fold_stops_before_destructive_phase(
    spark, tmp_path, monkeypatch
):
    """Review finding (r13, pass 1): the compaction steps held the
    lease without heartbeating - a fold outliving stale_after would be
    taken over yet still complete every write. The index compactor now
    heartbeats after materializing its fold and BEFORE the destructive
    rebuild: deposed mid-fold, it raises LeaseLostError with the
    generations (and base) untouched."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 120)
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(payroll), index_dir, "parquet")
    FZ.read_title_index(spark, index_dir).limit(5).write.parquet(
        os.path.join(index_dir, "g0")
    )

    real_read = FZ.read_title_index

    def usurping_read(*a, **k):
        with open(os.path.join(index_dir, "_lifecycle_lease.json"), "w") as f:
            json.dump({"owner": "usurper", "step": "takeover", "pid": 0}, f)
        return real_read(*a, **k)

    monkeypatch.setattr(FZ, "read_title_index", usurping_read)
    with pytest.raises(LS.LeaseLostError):
        FZ.compact_persisted_title_index(spark, index_dir)
    monkeypatch.undo()
    assert FZ.list_index_generations(index_dir) == [0]  # untouched
    os.remove(os.path.join(index_dir, "_lifecycle_lease.json"))
    # the cadence recovers: a normal compaction folds g0 afterwards
    FZ.compact_persisted_title_index(spark, index_dir)
    assert FZ.list_index_generations(index_dir) == []


def test_lifecycle_status_doctor(spark, tmp_path):
    """lifecycle_status = the runbook's monitor step as one metadata-
    only call: raw state per store plus recommended actions in runbook
    order. No SparkSession is touched (it is not even a parameter)."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 150)
    index_dir = str(tmp_path / "index")
    idx = HA.build_payroll_title_index(payroll)
    FZ.write_title_index(idx, index_dir, "bucketed", n_buckets=1)
    payroll_dir = str(tmp_path / "payroll")
    payroll.write.parquet(f"{payroll_dir}/base")
    try:
        st = HA.lifecycle_status(index_dir, payroll_dir)
        assert st["lease"] is None and st["actions"] == []
        assert st["index"]["format"] == "bucketed"
        assert st["index"]["n_buckets"] == 1
        assert st["index"]["suggested_n_buckets"] == 1  # tiny data
        assert st["index"]["rows"] > 0 and st["index"]["generation_rows"] == 0
        assert st["payroll"]["fold_eligible"] == []
        assert st["matches"] is None  # not asked about

        # a pending generation + its committed payroll archive
        FZ.read_title_index(spark, index_dir).limit(7).write.parquet(
            os.path.join(index_dir, "g3")
        )
        payroll.limit(3).write.parquet(os.path.join(payroll_dir, "d3"))
        st = HA.lifecycle_status(index_dir, payroll_dir)
        assert st["index"]["generations_pending"] == [3]
        assert st["index"]["generation_rows"] == 7
        assert st["actions"] == ["compact_index"]  # payroll not yet eligible

        # matches state: one complete batch, one torn (meta-less)
        matches_dir = str(tmp_path / "matches")
        for name, with_meta in (("b0", True), ("b1", False)):
            bdir = os.path.join(matches_dir, name)
            payroll.limit(2).write.parquet(bdir)  # the sink's flat layout
            if with_meta:
                with open(os.path.join(bdir, "_meta.json"), "w") as f:
                    json.dump({"limit": None}, f)
        # a stale lease from a crashed writer
        lease_path = os.path.join(index_dir, "_lifecycle_lease.json")
        with open(lease_path, "w") as f:
            json.dump({"owner": "dead", "step": "crashed", "pid": 0}, f)
        old = time.time() - 7200
        os.utime(lease_path, (old, old))

        st = HA.lifecycle_status(index_dir, payroll_dir, matches_dir)
        assert st["lease"]["holder"]["step"] == "crashed"
        assert st["lease"]["heartbeat_age_s"] > 3600
        assert st["matches"]["unfolded"] == ["b0", "b1"]
        assert st["matches"]["torn"] == ["b1"]
        assert st["actions"] == [
            "investigate_lease", "compact_index", "fold_matches",
        ]
        os.remove(lease_path)

        # after the compaction pair runs, the payroll fold is eligible
        # then everything settles
        FZ.compact_persisted_title_index(spark, index_dir, payroll_dir=payroll_dir)
        st = HA.lifecycle_status(index_dir, payroll_dir, matches_dir)
        assert st["index"]["generations_pending"] == []
        assert st["index"]["folded_generations"] == [3]
        assert st["payroll"]["fold_eligible"] == [3]
        assert "fold_payroll" in st["actions"] and "compact_index" not in st["actions"]
        HA.compact_payroll_corpus(spark, payroll_dir, index_dir)
        HA.compact_matches_corpus(spark, matches_dir, lease_dir=index_dir)
        st = HA.lifecycle_status(index_dir, payroll_dir, matches_dir)
        assert st["payroll"]["folded_deltas"] == [3]
        assert st["matches"]["folded"] == 1 and st["matches"]["torn"] == ["b1"]
        assert st["actions"] == []  # b1 stays torn until its replay
    finally:
        import json as _json

        with open(os.path.join(index_dir, "_index_meta.json")) as f:
            m = _json.load(f)
        if "table" in m:
            spark.sql(f"DROP TABLE IF EXISTS {m['table']}")


def test_release_takeover_race_raises_lease_lost(tmp_path, monkeypatch):
    """Review finding (r13, pass 3): a takeover renaming the lease
    between release()'s read-verify and its os.remove must surface the
    designed LeaseLostError - a bare FileNotFoundError would also MASK
    an in-flight batch exception in lifecycle_lease's except-branch
    release."""
    import os

    lease = LS._acquire(str(tmp_path / "idx"), "victim", 3600)

    def gone(_):
        raise FileNotFoundError(lease.path)

    monkeypatch.setattr(os, "remove", gone)
    with pytest.raises(LS.LeaseLostError):
        lease.release()
    # the except-branch shape: swallowed, reported as not-released
    assert lease.release(raise_on_lost=False) is False
    monkeypatch.undo()
    os.remove(lease.path)


def test_lifecycle_status_tolerates_concurrent_writers(tmp_path, monkeypatch):
    """Review finding (r13, pass 3): the doctor holds no lease, so a
    sink can release the lease (getmtime race) and a compaction can
    move the index (bucket-stats race) under its read - one stale tick,
    never a crash. Also: the staleness advice is sized by the SAME
    lease_stale_after the deployment's entry points use."""
    import os

    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    with open(os.path.join(index_dir, FZ._INDEX_META), "w") as f:
        json.dump({"format": "bucketed", "key": "blk", "table": "t", "n_buckets": 4}, f)
    os.makedirs(os.path.join(index_dir, "base"))

    # a healthy long-fold deployment: 2h-old heartbeat, 3h stale_after
    lease_path = os.path.join(index_dir, "_lifecycle_lease.json")
    with open(lease_path, "w") as f:
        json.dump({"owner": "x", "step": "compact", "pid": 0}, f)
    old = time.time() - 7200
    os.utime(lease_path, (old, old))
    st = HA.lifecycle_status(index_dir, lease_stale_after=10800)
    assert "investigate_lease" not in st["actions"]
    st = HA.lifecycle_status(index_dir)  # default 3600: genuinely stale
    assert "investigate_lease" in st["actions"]

    # the lease releasing between the read and the stat: one stale tick
    real_getmtime = os.path.getmtime

    def released_under_us(p):
        if p == lease_path:
            raise FileNotFoundError(p)
        return real_getmtime(p)

    monkeypatch.setattr(os.path, "getmtime", released_under_us)
    st = HA.lifecycle_status(index_dir)
    assert st["lease"] is None
    monkeypatch.undo()

    # a compaction moving the base under the stats read: surfaced, not
    # crashed, and no bucket advice emitted off torn state
    def moving_target(*a, **k):
        raise FileNotFoundError("base rewritten under the monitor")

    monkeypatch.setattr(FZ, "title_index_bucket_stats", moving_target)
    st = HA.lifecycle_status(index_dir)
    assert st["index"]["stats_unavailable"] is True
    assert "suggested_n_buckets" not in st["index"]
    assert "rebucket_on_next_compaction" not in st["actions"]


def test_concurrent_contention_yields_exactly_one_holder(tmp_path):
    """The protocol's core claim under REAL concurrency: many threads
    contending for the same dir (over a stale crashed lease, and over
    nothing) always produce exactly one holder; losers refuse with
    LeaseHeldError, never crash, never corrupt the lease file."""
    import os
    import threading

    d = str(tmp_path / "idx")
    os.makedirs(d)
    path = os.path.join(d, "_lifecycle_lease.json")

    for round_no, plant_stale in enumerate([False, True, True, False]):
        if plant_stale:
            with open(path, "w") as f:
                json.dump({"owner": "dead", "step": "crashed", "pid": 0}, f)
            old = time.time() - 7200
            os.utime(path, (old, old))
        won, refused, crashed = [], [], []
        barrier = threading.Barrier(8)
        hold = threading.Event()

        def contend(i):
            barrier.wait()
            try:
                with LS.lifecycle_lease(d, f"step{i}", stale_after=60) as lease:
                    won.append(lease.owner)
                    hold.wait(timeout=10)  # stay held until all finished
            except LS.LeaseHeldError:
                refused.append(i)
            except BaseException as e:  # noqa: BLE001 - the assert target
                crashed.append((i, repr(e)))

        threads = [
            threading.Thread(target=contend, args=(i,)) for i in range(8)
        ]
        for t in threads:
            t.start()
        # wait until every loser refused, then let the winner release
        deadline = time.time() + 10
        while len(won) + len(refused) + len(crashed) < 8 and time.time() < deadline:
            time.sleep(0.01)
        hold.set()
        for t in threads:
            t.join(timeout=15)
        assert crashed == [], (round_no, crashed)
        assert len(won) == 1 and len(refused) == 7, (round_no, won, refused)
        assert not os.path.exists(path), round_no
        assert [x for x in os.listdir(d) if x != "_lifecycle_lease.json"] == []


def test_takeover_never_renames_a_peers_fresh_lease(tmp_path, monkeypatch):
    """A contender that judged the OLD incarnation stale while a peer's
    takeover completed (and the peer linked a fresh lease) must re-judge
    under the takeover lock and refuse - renaming the fresh lease away
    opened a gap where a third contender could claim too (two holders).
    A held takeover lock refuses; a dead one is swept after stale_after."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(d)
    path = os.path.join(d, "_lifecycle_lease.json")
    lock = path + ".takeover.lock"
    old = time.time() - 7200

    def plant_stale():
        with open(path, "w") as f:
            json.dump({"owner": "dead", "step": "crashed", "pid": 0}, f)
        os.utime(path, (old, old))

    plant_stale()
    real_open = os.open

    def peer_wins_first(p, *a, **k):
        if p == lock:  # the peer's whole takeover lands before ours
            os.remove(path)
            with open(path, "w") as f:
                json.dump({"owner": "peer", "step": "peer_run", "pid": 0}, f)
        return real_open(p, *a, **k)

    def no_rename(src, dst):
        raise AssertionError(f"takeover renamed {src}")

    monkeypatch.setattr(os, "open", peer_wins_first)
    monkeypatch.setattr(os, "rename", no_rename)
    with pytest.raises(LS.LeaseHeldError, match="peer_run"):
        with LS.lifecycle_lease(d, "late", stale_after=60):
            pass
    monkeypatch.undo()
    with open(path) as f:
        assert json.load(f)["owner"] == "peer"
    assert sorted(os.listdir(d)) == ["_lifecycle_lease.json"]

    # a live takeover lock: refuse rather than race it
    plant_stale()
    open(lock, "w").close()
    with pytest.raises(LS.LeaseHeldError, match="takeover"):
        with LS.lifecycle_lease(d, "late", stale_after=60):
            pass
    # its holder died: the entry sweep clears it and the takeover runs
    os.utime(lock, (old, old))
    with LS.lifecycle_lease(d, "late", stale_after=60) as lease:
        with open(path) as f:
            assert json.load(f)["owner"] == lease.owner
    assert os.listdir(d) == []


def test_stale_lease_never_wedges_the_cadence(spark, tmp_path):
    """Crash-then-takeover end to end: a sink dies holding the lease
    (simulated by a backdated lease file); the next scheduled run takes
    the stale lease over, ingests normally, and releases - the weekly
    cadence self-heals without operator surgery."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    payroll = HA.make_payroll_fixture(spark, 150)
    postings = HA.make_postings_fixture(spark, 30).withColumn(
        "post_id", F.monotonically_increasing_id()
    )
    index_dir = str(tmp_path / "index")
    FZ.write_title_index(HA.build_payroll_title_index(payroll), index_dir, "parquet")
    matches_dir = str(tmp_path / "matches")
    post_src = tmp_path / "post_src"
    post_src.mkdir()
    postings.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
    for f in (tmp_path / "w").glob("*.parquet"):
        shutil.copy(f, post_src / "a0.parquet")

    # the crashed run's lease, heartbeat long gone
    lease_path = os.path.join(index_dir, "_lifecycle_lease.json")
    with open(lease_path, "w") as f:
        json.dump({"owner": "dead", "step": "run_fuzzy_match_ingest", "pid": 0}, f)
    old = time.time() - 7200
    os.utime(lease_path, (old, old))

    HA.run_fuzzy_match_ingest(
        spark.readStream.schema(postings.schema).parquet(str(post_src)),
        payroll, index_dir, matches_dir, str(tmp_path / "ck"),
        prefilter_cutoff=1, score_cutoff=85, row_key="post_id",
        lease_stale_after=3600,
    )
    assert not os.path.exists(lease_path)  # released after takeover
    assert HA.read_ingested_matches(spark, matches_dir).count() > 0
