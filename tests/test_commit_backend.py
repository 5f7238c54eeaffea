"""The commit-backend seam (round-7): the three rename-dependent
durability protocols as one unit (POSIX), plus the table-format
lease/fence protocol driven against in-memory logs."""

from __future__ import annotations

import json

import pytest

from orestes_spark.commit_backend import POSIX_BACKEND


def test_manifest_roundtrip_and_legacy_formats(tmp_path):
    mk = tmp_path / "_epochs" / "epoch-7"
    POSIX_BACKEND.publish_manifest(mk, ["bucket=1/epoch7-a.parquet"], "stream", ns="file:/ck", seq=7)
    files, kind, meta = POSIX_BACKEND.read_manifest(mk)
    assert files == ["bucket=1/epoch7-a.parquet"]
    assert kind == "stream" and meta["ns"] == "file:/ck" and meta["seq"] == 7
    # v2 (no ns/seq)
    (tmp_path / "v2").write_text(json.dumps({"files": ["x"], "kind": "compact"}))
    assert POSIX_BACKEND.read_manifest(tmp_path / "v2") == (["x"], "compact", {"files": ["x"], "kind": "compact"})
    # v1 bare list
    (tmp_path / "v1").write_text(json.dumps(["a", "b"]))
    assert POSIX_BACKEND.read_manifest(tmp_path / "v1") == (["a", "b"], "stream", {})
    # legacy empty touch() marker → glob fallback signal
    (tmp_path / "v0").touch()
    assert POSIX_BACKEND.read_manifest(tmp_path / "v0") == (None, "stream", {})
    # no temp debris left behind
    assert not list((tmp_path / "_epochs").glob(".tmp-*"))


def test_lock_create_is_atomic_with_payload(tmp_path):
    lock = tmp_path / "locks" / "default.lock"
    lock.parent.mkdir(parents=True)
    assert POSIX_BACKEND.try_create_lock(lock, '{"token": "one"}') is True
    # the name is taken: a contender loses and the payload is intact
    assert POSIX_BACKEND.try_create_lock(lock, '{"token": "two"}') is False
    assert json.loads(POSIX_BACKEND.read_lock(lock))["token"] == "one"
    # no private temp debris either way
    assert list(lock.parent.glob(".lock_*")) == []
    POSIX_BACKEND.remove_lock(lock)
    assert not lock.exists()
    POSIX_BACKEND.remove_lock(lock)  # idempotent


def test_swap_partition_replaces_and_bootstraps(tmp_path):
    live = tmp_path / "bucket=1"
    live.mkdir()
    (live / "old.parquet").write_text("old")
    tmp = tmp_path / ".delete_bucket=1"
    tmp.mkdir()
    (tmp / "new.parquet").write_text("new")
    POSIX_BACKEND.swap_partition(live, tmp)
    assert [f.name for f in live.glob("*.parquet")] == ["new.parquet"]
    assert not tmp.exists() and not (tmp_path / ".old_bucket=1").exists()
    # bootstrap: live absent (first rollup rebuild of a bucket)
    live2 = tmp_path / "bucket=2"
    tmp2 = tmp_path / ".rebuild_bucket=2"
    tmp2.mkdir()
    (tmp2 / "a.parquet").write_text("a")
    POSIX_BACKEND.swap_partition(live2, tmp2)
    assert (live2 / "a.parquet").exists()


# ------------------------------------------- table-format writer lease ---

from orestes_spark.commit_backend import (  # noqa: E402
    LeaseStolenError,
    TableFormatWriterLease,
)


class MemoryLeaseLog:
    """In-memory log with Delta's exact commit semantics: atomic
    snapshot-isolated append, (app_id, version) idempotency — a
    commit whose version is <= the stored watermark for its app_id is
    SKIPPED, precisely delta-spark's txnAppId/txnVersion contract —
    and a per-commit sequence stamped onto every row (Delta's table
    version, surfaced as the change feed's _commit_version). Lets the
    lease protocol be tested for real without the package."""

    def __init__(self):
        self.rows: list[dict] = []
        self.watermarks: dict[str, int] = {}
        self.commits = 0

    def read(self):
        return [dict(r) for r in self.rows]

    def append(self, rows, app_id, version):
        if version <= self.watermarks.get(app_id, -1):
            return  # idempotent replay: skipped by the table itself
        self.watermarks[app_id] = version
        self.commits += 1
        self.rows.extend({**r, "_seq": self.commits} for r in rows)


def _lease(log, lease_ms=1000, start=1_000_000):
    now = {"t": start}
    lease = TableFormatWriterLease(log, lease_ms, clock=lambda: now["t"])
    return lease, now


def test_lease_acquire_heartbeat_release_roundtrip():
    log = MemoryLeaseLog()
    l, now = _lease(log)
    h = l.acquire("writer-a", "append")
    assert h == {"fence": 1, "owner": "writer-a"}
    now["t"] += 400
    l.heartbeat(h)
    now["t"] += 400  # 800ms since acquire but 400 since beat: still live
    assert l.judge(log.read(), now["t"])["live"] is True
    l.release(h)
    assert l.judge(log.read(), now["t"])["live"] is False
    # next writer gets a STRICTLY higher fence (fencing-token property)
    h2 = l.acquire("writer-b", "compact")
    assert h2["fence"] == 2


def test_lease_blocks_second_writer_while_live():
    log = MemoryLeaseLog()
    l, now = _lease(log)
    assert l.acquire("writer-a", "append") is not None
    now["t"] += 500  # inside the lease
    assert l.acquire("writer-b", "append") is None


def test_lease_steal_after_expiry_and_fenced_release():
    log = MemoryLeaseLog()
    l, now = _lease(log, lease_ms=1000)
    h_a = l.acquire("writer-a", "append")
    now["t"] += 1500  # writer-a stalls past its lease (GC pause)
    h_b = l.acquire("writer-b", "append")
    assert h_b == {"fence": 2, "owner": "writer-b"}
    # the zombie's release must trip the fence, exactly like the POSIX
    # token-mismatch path in engine._writer_lock
    with pytest.raises(LeaseStolenError):
        l.release(h_a)
    l.release(h_b)  # the thief's own release is clean


def test_lease_contention_first_commit_wins():
    # Two stealers race the same dead lease: appends never conflict in
    # Delta, so BOTH acquire rows land at the same fence. The winner
    # is the FIRST COMMIT at the fence (min _seq) — commit order, NOT
    # owner order: writer-z committed first and must win even though
    # writer-a sorts smaller.
    log = MemoryLeaseLog()
    l, now = _lease(log)
    for owner in ("writer-z", "writer-a"):
        log.append(
            [{"fence": 1, "owner": owner, "op": "append", "kind": "acquire",
              "ts_ms": now["t"], "lease_ms": 1000}],
            app_id=f"lease:{owner}", version=1,
        )
    st = l.judge(log.read(), now["t"])
    assert st["owner"] == "writer-z" and st["live"] is True


def test_lease_no_split_brain_on_interleaved_acquires():
    # The round-8 review race: B commits fence 1, reads back {B}, wins,
    # and starts writing BEFORE A (a smaller owner) lands its row at
    # the same fence. A value-based tie-break (min owner) would hand A
    # a second winning handle for the SAME fence — split brain. The
    # first-commit rule keeps B the winner in every snapshot that
    # could exist, so A's own read-back must tell it it lost.
    log = MemoryLeaseLog()
    l, now = _lease(log)
    h_b = l.acquire("writer-b", "append")  # B commits first and wins
    assert h_b == {"fence": 1, "owner": "writer-b"}
    # A raced: it judged fence 0 dead before B's commit, so it appends
    # at fence 1 too (same append the protocol would issue), then does
    # the standard read-back — which must reject it.
    log.append(
        [{"fence": 1, "owner": "writer-a", "op": "append", "kind": "acquire",
          "ts_ms": now["t"], "lease_ms": 1000}],
        app_id="lease:writer-a", version=1,
    )
    acquires = [r for r in log.read() if r["kind"] == "acquire" and r["fence"] == 1]
    winner = min(acquires, key=lambda a: (a["_seq"], a["owner"]))["owner"]
    assert winner == "writer-b"  # stable under A's later append
    assert l.judge(log.read(), now["t"])["owner"] == "writer-b"
    l.release(h_b)  # B's release is clean — nobody overtook its fence


def test_lease_replayed_acquire_is_idempotent():
    log = MemoryLeaseLog()
    l, now = _lease(log)
    h = l.acquire("writer-a", "append")
    n_commits = log.commits
    # crash-replay of the SAME acquire (same app_id + version): the
    # log's watermark skips it — no duplicate row, same handle wins
    log.append(
        [{"fence": 1, "owner": "writer-a", "op": "append", "kind": "acquire",
          "ts_ms": now["t"] + 1, "lease_ms": 1000}],
        app_id="lease:writer-a", version=1,
    )
    assert log.commits == n_commits
    assert len([r for r in log.read() if r["kind"] == "acquire"]) == 1
    l.release(h)


# ------------------------------------- fence-carrying data commits ---
# Round-9: the lease fence rides every data commit's idempotency
# version (fenced_version), so a zombie's replay is refused by the
# DATA table itself — previously a prose-only promise in the mapping
# table. MemoryDataLog is the data-table twin: Delta's exact
# idempotent-commit semantics ((app_id, version) watermark, zero-row
# commits still advance it — a SetTransaction action needs no files).

from orestes_spark.commit_backend import (  # noqa: E402
    LeaseFence,
    cas_append,
    epoch_floor,
    fenced_version,
)


class MemoryDataLog:
    def __init__(self):
        self.rows: list[dict] = []
        self.watermarks: dict[str, int] = {}

    def commit(self, rows, app_id, version) -> bool:
        """True = committed, False = refused (replay/zombie)."""
        if version <= self.watermarks.get(app_id, -1):
            return False
        self.watermarks[app_id] = version
        self.rows.extend(rows)
        return True

    def floor(self, app_id) -> int:
        return epoch_floor(self.watermarks.get(app_id))


def test_fenced_version_arithmetic():
    # fence dominates: ANY seq at a higher fence outranks every lower
    # fence's versions — the fencing-token property.
    assert fenced_version(2, 0) > fenced_version(1, 10**9)
    assert fenced_version(1, 5) > fenced_version(1, 4)
    # epoch decode: epochs commit at seq = epoch_id + 1, claim at floor + 1
    assert epoch_floor(None) == -1
    assert epoch_floor(fenced_version(3, 0)) == -1  # claim on empty table
    assert epoch_floor(fenced_version(2, 8)) == 7
    with pytest.raises(ValueError):
        fenced_version(0, 1)  # fence 0 = never acquired, not committable
    with pytest.raises(ValueError):
        fenced_version(1, -1)


def test_zombie_epoch_replay_refused_by_data_table():
    # The round-8 verdict's top item, as a test: writer A (fence 1)
    # commits epochs, stalls past its lease mid-epoch; B steals fence 2
    # and continues; zombie A wakes and replays — the DATA log refuses
    # it by watermark alone, no lease read anywhere near the commit.
    lease_log = MemoryLeaseLog()
    l, now = _lease(lease_log, lease_ms=1000)
    data = MemoryDataLog()
    ns = "file:/ckpt"

    h_a = l.acquire("writer-a", "ingest")
    f_a = LeaseFence("default", h_a)
    for e in range(3):  # A commits epochs 0..2, then stalls inside epoch 3
        assert data.commit([f"a-epoch-{e}"], *f_a.epoch_txn(ns, e))
    now["t"] += 1500
    h_b = l.acquire("writer-b", "ingest")
    f_b = LeaseFence("default", h_b)
    floor = data.floor(ns)
    assert floor == 2  # B resumes exactly where A's committed state ends
    assert data.commit([], *f_b.claim_txn(ns, floor))  # fence claim
    assert data.commit(["b-epoch-3"], *f_b.epoch_txn(ns, 3))
    # zombie A replays its in-flight epoch 3 AND a hopeless epoch 4:
    # both refused — every fence-1 version is under the fence-2 watermark
    assert not data.commit(["a-epoch-3-stale"], *f_a.epoch_txn(ns, 3))
    assert not data.commit(["a-epoch-4-stale"], *f_a.epoch_txn(ns, 4))
    assert data.rows == ["a-epoch-0", "a-epoch-1", "a-epoch-2", "b-epoch-3"]
    with pytest.raises(LeaseStolenError):
        l.release(h_a)  # the lease log ALSO tells A it was fenced


def test_fence_claim_closes_pre_first_commit_window():
    # Without the claim, a zombie waking between B's acquire and B's
    # first data commit could land one stale commit (its next epoch is
    # above the old watermark). The empty claim closes it.
    data = MemoryDataLog()
    ns = "s"
    f_a = LeaseFence("sp", {"fence": 1})
    assert data.commit(["a0"], *f_a.epoch_txn(ns, 0))
    f_b = LeaseFence("sp", {"fence": 2})
    floor = data.floor(ns)
    assert data.commit([], *f_b.claim_txn(ns, floor))
    assert data.floor(ns) == floor  # claim preserves the epoch floor
    # zombie's NEXT epoch (1) — above the old watermark, refused only
    # because the claim already raised the fence
    assert not data.commit(["a1-stale"], *f_a.epoch_txn(ns, 1))
    assert data.commit(["b1"], *f_b.epoch_txn(ns, floor + 1))
    assert data.rows == ["a0", "b1"]


def test_epoch_replay_same_fence_still_idempotent():
    # The composition must not break what the plain epoch watermark
    # gave: a crashed-and-replayed commit of the SAME epoch under the
    # SAME fence is a no-op.
    data = MemoryDataLog()
    f = LeaseFence("sp", {"fence": 1})
    assert data.commit(["e0"], *f.epoch_txn("s", 0))
    assert not data.commit(["e0-replay"], *f.epoch_txn("s", 0))
    assert data.commit(["e1"], *f.epoch_txn("s", 1))
    assert data.rows == ["e0", "e1"]


def test_fenced_maintenance_cycle_zombie_swap_refused():
    # The remove/compact cycle (lib/orestes-remover.js:16-53
    # semantics): acquire → commit-with-fence → release. A zombie
    # cycle's replayed swap is refused once the successor commits.
    lease_log = MemoryLeaseLog()
    l, now = _lease(lease_log, lease_ms=1000)
    data = MemoryDataLog()

    h1 = l.acquire("remover-1", "compact")
    f1 = LeaseFence("default", h1)
    assert data.commit(["swap-fence1-a"], *f1.next_txn())
    now["t"] += 1500  # remover-1 stalls mid-cycle
    h2 = l.acquire("remover-2", "compact")
    f2 = LeaseFence("default", h2)
    assert data.commit(["swap-fence2-a"], *f2.next_txn())
    l.release(h2)
    # zombie finishes its cycle: second swap refused (counter restarts
    # per fence, so its version is under the fence-2 watermark)
    assert not data.commit(["swap-fence1-b"], *f1.next_txn())
    with pytest.raises(LeaseStolenError):
        l.release(h1)
    assert data.rows == ["swap-fence1-a", "swap-fence2-a"]


def test_fenced_maintenance_context_manager():
    # The packaged acquire → commit-with-fence → release cycle: a
    # stalled cycle's release raises INSIDE the with-block exit, a held
    # lease raises ConcurrentWriterError, and a clean cycle's commits
    # carry monotone fenced versions.
    from orestes_spark import engine
    from orestes_spark.commit_backend import ConcurrentWriterError, fenced_maintenance

    # one class: `except engine.ConcurrentWriterError` catches the lease's refusal
    assert engine.ConcurrentWriterError is ConcurrentWriterError

    lease_log = MemoryLeaseLog()
    l, now = _lease(lease_log, lease_ms=1000)
    data = MemoryDataLog()

    with fenced_maintenance(l, "default", "remover-1", "compact") as f:
        assert data.commit(["c1"], *f.next_txn())
        with pytest.raises(ConcurrentWriterError):
            with fenced_maintenance(l, "default", "remover-2", "compact"):
                pass  # pragma: no cover
    # stalled cycle: the lease dies mid-with, a contender completes,
    # and the zombie's exit raises instead of reporting success
    with pytest.raises(LeaseStolenError):
        with fenced_maintenance(l, "default", "remover-1", "compact") as f1:
            now["t"] += 1500
            with fenced_maintenance(l, "default", "remover-2", "compact") as f2:
                assert data.commit(["c2"], *f2.next_txn())
            assert not data.commit(["c1-stale"], *f1.next_txn())
    assert data.rows == ["c1", "c2"]
    # body failure releases the lease (review finding r9): a transient
    # swap error must not turn into a lease_ms-long maintenance outage
    with pytest.raises(OSError):
        with fenced_maintenance(l, "default", "remover-1", "compact"):
            raise OSError("transient swap failure")
    with fenced_maintenance(l, "default", "remover-2", "compact") as f3:
        assert data.commit(["c3"], *f3.next_txn())  # immediately acquirable


class _Conflict(Exception):
    pass


def test_cas_append_stamps_and_retries():
    # A lease log's persisted-seq mint: the loser of a seq race sees
    # a conflict and retries at the next seq — commit order == seq
    # order, which is all the first-commit tie-break needs.
    committed: list[tuple[int, list[dict]]] = []
    state = {"max": 4, "conflicts_left": 2}

    def read_max():
        return state["max"]

    def try_commit(stamped, claimed):
        if state["conflicts_left"] > 0:
            state["conflicts_left"] -= 1
            state["max"] += 1  # a rival landed the seq we claimed
            raise _Conflict()
        committed.append((claimed, stamped))
        state["max"] = stamped[-1]["seq"]
        return True

    rows = cas_append(read_max, try_commit, [{"owner": "a"}], (_Conflict,))
    assert rows == [{"owner": "a", "seq": 7}]  # claims 5 and 6 lost to rivals
    assert committed[0][0] == 7
    # exhaustion raises rather than spinning forever
    with pytest.raises(RuntimeError):
        cas_append(
            read_max,
            lambda s, c: (_ for _ in ()).throw(_Conflict()),
            [{"owner": "b"}],
            (_Conflict,),
            attempts=3,
        )
    # a try_commit that keeps reporting "did not land" (rival always
    # beat us to the claimed seq BEFORE our snapshot — no conflict is
    # ever raised in that case) must also exhaust, not spin
    with pytest.raises(RuntimeError):
        cas_append(read_max, lambda s, c: False, [{"owner": "c"}], (_Conflict,), attempts=3)


class MemoryMergeSeqLog:
    """Honest in-memory twin of a Delta lease log's commit shape
    (merge insert-if-absent + read-back), modeling BOTH ways a rival
    can take the claimed seq — the round-9 twin modeled every race as
    a conflict exception, which over-promised: a rival that commits
    BEFORE the write transaction's snapshot does not overlap it, so
    Delta raises no conflict at all. Semantics mirrored here:

    - ``rival_before_snapshot``: the rival's row is already in the
      snapshot the merge reads → our source row MATCHES on seq, the
      merge inserts NOTHING and touches NOTHING (no whenMatched
      clause), and the read-back returns the rival's row → False;
    - ``rival_after_snapshot``: the rival commits between our snapshot
      and our commit → the merge's read predicate over the claimed seq
      overlaps the rival's added file → ConcurrentAppendException
      (modeled as _Conflict).
    """

    def __init__(self):
        self.by_seq: dict[int, dict] = {}
        self.rival_before_snapshot: list[dict] = []
        self.rival_after_snapshot: list[dict] = []

    def max_seq(self) -> int:
        return max(self.by_seq, default=0)

    def _land_rival(self, rows_at: list[dict], claimed: int) -> None:
        if rows_at:
            self.by_seq[claimed] = {**rows_at.pop(0), "seq": claimed}

    def try_commit(self, stamped: list[dict], claimed: int) -> bool:
        self._land_rival(self.rival_before_snapshot, claimed)
        if claimed in self.by_seq:  # visible in the merge's snapshot
            return False  # matched → insert nothing, delete NOTHING
        if self.rival_after_snapshot:
            self._land_rival(self.rival_after_snapshot, claimed)
            raise _Conflict()  # added file matches our read predicate
        self.by_seq[claimed] = dict(stamped[0])
        return True

    def append(self, row: dict) -> list[dict]:
        return cas_append(self.max_seq, self.try_commit, [row], (_Conflict,))


def test_cas_merge_pre_snapshot_rival_row_survives():
    # THE round-10 ADVICE race: a rival commits the claimed seq before
    # our write transaction's snapshot — no conflict fires. The
    # round-9 replaceWhere-overwrite DELETED the rival's committed
    # acquire here (split-brain); the merge shape must keep the
    # rival's row byte-intact and retry us onto a fresh seq.
    log = MemoryMergeSeqLog()
    rival = {"owner": "rival", "kind": "acquire", "fence": 3}
    log.rival_before_snapshot.append(rival)
    ours = log.append({"owner": "us", "kind": "acquire", "fence": 3})
    assert log.by_seq[1] == {**rival, "seq": 1}  # rival's row untouched
    assert ours == [{"owner": "us", "kind": "acquire", "fence": 3, "seq": 2}]
    assert log.by_seq[2] == ours[0]


def test_cas_merge_post_snapshot_rival_conflicts_and_retries():
    log = MemoryMergeSeqLog()
    rival = {"owner": "rival", "kind": "hb", "fence": 3}
    log.rival_after_snapshot.append(rival)
    ours = log.append({"owner": "us", "kind": "hb", "fence": 3})
    assert log.by_seq[1] == {**rival, "seq": 1}
    assert ours[0]["seq"] == 2 and log.by_seq[2] == ours[0]


def test_cas_merge_storm_of_rivals_still_lands():
    # Mixed storm: three pre-snapshot rivals and two post-snapshot
    # conflicts interleaved; every rival row survives and ours lands
    # at the first genuinely free seq.
    log = MemoryMergeSeqLog()
    log.rival_before_snapshot = [{"owner": f"pre{i}"} for i in range(3)]
    log.rival_after_snapshot = [{"owner": f"post{i}"} for i in range(2)]
    ours = log.append({"owner": "us"})
    owners = {r["owner"] for r in log.by_seq.values()}
    assert owners == {"pre0", "pre1", "pre2", "post0", "post1", "us"}
    assert ours[0]["seq"] == 6 == log.max_seq()


def test_acquire_read_back_refuses_overtaken_fence():
    # The caller stalled past lease_ms between its append and its
    # read-back; a contender already judged its fence dead and took
    # fence+1. The snapshot shows the overtake — acquire must return
    # None, not a winning handle (round-9 ADVICE narrowing).
    class OvertakenLog(MemoryLeaseLog):
        def __init__(self):
            super().__init__()
            self.arm = False

        def append(self, rows, app_id, version):
            super().append(rows, app_id, version)
            if self.arm and app_id == "lease:writer-a":
                self.arm = False
                super().append(
                    [{"fence": rows[0]["fence"] + 1, "owner": "writer-b",
                      "op": "steal", "kind": "acquire",
                      "ts_ms": rows[0]["ts_ms"] + 2000, "lease_ms": 1000}],
                    app_id="lease:writer-b", version=rows[0]["fence"] + 1,
                )

    log = OvertakenLog()
    l, now = _lease(log)
    log.arm = True
    assert l.acquire("writer-a", "append") is None
    assert l.judge(log.read(), now["t"] + 2000)["owner"] == "writer-b"


def test_heartbeat_survives_backwards_clock_step():
    # NTP steps the clock back between beats: with a raw-timestamp
    # version the log's watermark would silently skip every beat until
    # the clock caught up; the monotonic version keeps beats landing,
    # so the live lease is never spuriously judged dead.
    log = MemoryLeaseLog()
    l, now = _lease(log, lease_ms=1000)
    h = l.acquire("writer-a", "append")
    now["t"] += 500
    l.heartbeat(h)
    now["t"] -= 400  # backwards step
    l.heartbeat(h)
    hb_rows = [r for r in log.read() if r["kind"] == "hb"]
    assert len(hb_rows) == 2  # the post-step beat landed
    # liveness judged from the LATEST ts (max), unaffected by the step
    assert l.judge(log.read(), now["t"] + 900)["live"] is True
