"""Incremental KG maintenance (stage-2): incremental == full rebuild."""

import shutil

import pytest
from pyspark.sql import functions as F

from hades_spark.functions.triples import raw_triples
from hades_spark.pipeline.incremental_kg import incremental_update, init_state
from hades_spark.pipeline.kg import norm_triples
from hades_spark.schemas import PAGES


def _page(i, sentence):
    import datetime as dt

    html = f"<html><body><p>{sentence}</p></body></html>".encode()
    return (f"https://t.example/{i}.html",
            dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc), html, None, "en")


def _pages(spark, rows):
    return spark.createDataFrame([_page(i, s) for i, s in rows], PAGES)


def _norm_raw(pages):
    """The normalized raw-triple rows an update appends for its batch."""
    return norm_triples(raw_triples(pages))


BATCH1 = [(0, "AlphaBeta uses Zeta."),
          (1, "BetaGamma stores Qux."),
          (2, "AlphaBeta links BetaGamma."),
          (3, "Zeta extends Qux.")]
# batch 2: AlphaBetaGamma BRIDGES the alphabeta and betagamma components
# (containment 1.0 to both, which share only 2/7 grams with each other),
# plus a support-increment for an existing edge
BATCH2 = [(10, "AlphaBetaGamma embeds Zeta."),
          (11, "alphabeta uses Zeta."),
          (12, "NewThing cites Zeta.")]


def _edge_set(spark, state_dir):
    return {tuple(r) for r in spark.read.parquet(f"{state_dir}/edges")
            .select("subj", "pred", "obj", "edge_key",
                    "confidence", "url", "support").collect()}


class TestIncrementalKg:
    def test_incremental_equals_full_rebuild(self, spark, tmp_path):
        inc = str(tmp_path / "inc")
        full = str(tmp_path / "full")
        init_state(spark, _pages(spark, BATCH1), inc)
        stats = incremental_update(spark, _pages(spark, BATCH2), inc)
        assert not stats["initialized"]
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_component_merge_relabels_old_edges(self, spark, tmp_path):
        inc = str(tmp_path / "inc2")
        init_state(spark, _pages(spark, BATCH1), inc)
        before = {r["subj"] for r in spark.read.parquet(f"{inc}/edges")
                  .select("subj").collect()}
        assert "betagamma" in before  # its own component initially
        incremental_update(spark, _pages(spark, BATCH2), inc)
        after = spark.read.parquet(f"{inc}/edges")
        subs = {r["subj"] for r in after.select("subj").collect()}
        # the bridge merged betagamma into the alphabeta component: every
        # old betagamma edge is relabeled to the merged min-norm id
        assert "betagamma" not in subs
        assert "alphabeta" in subs

    def test_large_key_set_shuffle_joins_equal_rebuild(
            self, spark, tmp_path, monkeypatch):
        # a key set over the broadcast gate (a component-merge storm) takes
        # the shuffle-join path; the merge here also deletes dissolved keys
        import hades_spark.pipeline.incremental_kg as ikg

        monkeypatch.setattr(ikg, "_BROADCAST_KEYS_MAX", 0)
        inc = str(tmp_path / "inc_big")
        full = str(tmp_path / "full_big")
        init_state(spark, _pages(spark, BATCH1), inc)
        stats = incremental_update(spark, _pages(spark, BATCH2), inc)
        assert stats["edges_deleted"] > 0
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_support_counts_aggregate_across_batches(self, spark, tmp_path):
        inc = str(tmp_path / "inc3")
        init_state(spark, _pages(spark, BATCH1), inc)
        incremental_update(spark, _pages(spark, BATCH2), inc)
        row = spark.read.parquet(f"{inc}/edges").filter(
            (F.col("subj") == "alphabeta") & (F.col("pred") == "uses")
            & (F.col("obj") == "zeta")).collect()
        assert len(row) == 1 and row[0]["support"] == 2

    def test_corpus_incremental_equals_full(self, spark, tmp_path):
        """Synthetic-corpus e2e: 60 pages then +30 more == 90-page rebuild,
        byte-identical edge rows."""
        from hades_spark.pipeline.corpus import gen_pages

        inc = str(tmp_path / "cinc")
        full = str(tmp_path / "cfull")
        all_pages = gen_pages(90, seed=42, compute_text=False)
        rows = [(p.url, p.warc_ts, p.html, None, p.lang) for p in all_pages]
        first = spark.createDataFrame(rows[:60], PAGES)
        second = spark.createDataFrame(rows[60:], PAGES)
        everything = spark.createDataFrame(rows, PAGES)
        init_state(spark, first, inc)
        incremental_update(spark, second, inc)
        init_state(spark, everything, full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_update_on_empty_state_initializes(self, spark, tmp_path):
        inc = str(tmp_path / "fresh")
        stats = incremental_update(spark, _pages(spark, BATCH1), inc)
        assert stats["initialized"]
        assert spark.read.parquet(f"{inc}/edges").count() > 0


class TestExactlyOnceResume:
    def test_rerun_same_batch_id_converges(self, spark, tmp_path):
        """A successful update re-run with the same batch_id must be a
        no-op on the edge table (crash-after-commit resume)."""
        inc = str(tmp_path / "once")
        init_state(spark, _pages(spark, BATCH1), inc)
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="b2")
        first = _edge_set(spark, inc)
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="b2")
        assert _edge_set(spark, inc) == first

    def test_crash_after_append_before_state_write(self, spark, tmp_path):
        """Simulate a crash AFTER the raw batch landed but BEFORE pairs/
        cmap/edges caught up: re-running the update with the same
        batch_id must converge to the full-rebuild result, counting the
        batch exactly once."""
        from hades_spark.pipeline.incremental_kg import _append_batch_dir

        inc = str(tmp_path / "crash")
        full = str(tmp_path / "crashfull")
        init_state(spark, _pages(spark, BATCH1), inc)
        # the crash: batch appended to the raw store, nothing else updated
        _append_batch_dir(_norm_raw(_pages(spark, BATCH2)), inc, "raw", "b2")
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="b2")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_without_batch_id_rerun_double_counts(self, spark, tmp_path):
        """Documented contract: no batch_id => caller owns dedup."""
        inc = str(tmp_path / "nobid")
        init_state(spark, _pages(spark, BATCH1), inc)
        incremental_update(spark, _pages(spark, BATCH2), inc)
        incremental_update(spark, _pages(spark, BATCH2), inc)
        row = spark.read.parquet(f"{inc}/edges").filter(
            (F.col("subj") == "alphabeta") & (F.col("pred") == "uses")).collect()
        assert row[0]["support"] == 3  # 1 old + 2x the new batch


class TestAdviceR4:
    def test_init_reused_id_different_pages_raises(self, spark, tmp_path):
        """ADVICE r3: a crashed init left raw/batch=init; re-initing with
        DIFFERENT pages under the same id must raise, never silently drop
        the new pages."""
        import pytest

        inc = str(tmp_path / "reuse")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        with pytest.raises(ValueError, match="reused"):
            init_state(spark, _pages(spark, BATCH2), inc, batch_id="b1")

    def test_update_without_id_after_crashed_init_not_dropped(
            self, spark, tmp_path):
        """ADVICE r3 scenario: init crashed after committing its raw
        batch (incomplete state), then an id-less update with DIFFERENT
        pages arrives — its pages must be counted, not silently no-op'd
        under a colliding fixed 'init' id."""
        from hades_spark.pipeline.incremental_kg import _append_batch_dir

        inc = str(tmp_path / "initcrash")
        # a crashed init: default-id batch committed, nothing else
        _append_batch_dir(_norm_raw(_pages(spark, BATCH1)), inc, "raw",
                          "init")
        stats = incremental_update(spark, _pages(spark, BATCH2), inc)
        assert stats["initialized"]
        full = str(tmp_path / "icfull")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_all_numeric_batch_ids(self, spark, tmp_path):
        """ADVICE r3: all-numeric caller ids make Hive infer the batch
        partition column as int; the resume/store filters must compare as
        string, not NULL-out and drop every stored row."""
        from hades_spark.pipeline.incremental_kg import _append_batch_dir

        inc = str(tmp_path / "numeric")
        full = str(tmp_path / "numfull")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="100")
        # crash-resume shape: batch 200 appended (int-inferrable id set
        # {100, 200}) but NOT completed — the resume path must exclude it
        # from old_raw via a STRING comparison
        _append_batch_dir(_norm_raw(_pages(spark, BATCH2)), inc, "raw",
                          "200")
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="200")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)


class TestCompaction:
    def test_many_updates_compact_mid_and_end(self, spark, tmp_path):
        """30 one-page updates with a compaction mid-sequence and at the
        end: after EVERY step the edge table equals a full rebuild, and
        the final state holds O(1) batch dirs, not O(updates)."""
        from pathlib import Path

        from hades_spark.pipeline.incremental_kg import compact_state

        inc = str(tmp_path / "many")
        full = str(tmp_path / "manyfull")
        sentences = [f"Entity{chr(65 + i % 7)}{i} links Hub." for i in
                     range(30)]
        seen = []
        for i, s in enumerate(sentences):
            seen.append((i, s))
            incremental_update(spark, _pages(spark, [(i, s)]), inc,
                               batch_id=f"u{i}")
            if i == 14:
                st = compact_state(spark, inc)
                assert st["compacted"]
            if i in (7, 14, 15, 29):
                shutil.rmtree(full, ignore_errors=True)
                init_state(spark, _pages(spark, seen), full)
                assert _edge_set(spark, inc) == _edge_set(spark, full), i
        st = compact_state(spark, inc)
        assert st["compacted"]
        shutil.rmtree(full, ignore_errors=True)
        init_state(spark, _pages(spark, seen), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        raw_dirs = list(Path(inc, "raw").glob("batch=*"))
        bucket_dirs = list(Path(inc, "buckets").glob("batch=*"))
        assert len(raw_dirs) == 1 and len(bucket_dirs) == 1

    def test_replay_of_compacted_batch_noops(self, spark, tmp_path):
        """Exactly-once survives compaction: replaying a batch id whose
        dir was absorbed must not change the edge table."""
        from hades_spark.pipeline.incremental_kg import compact_state

        inc = str(tmp_path / "replay")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="b2")
        before = _edge_set(spark, inc)
        assert compact_state(spark, inc)["compacted"]
        stats = incremental_update(spark, _pages(spark, BATCH2), inc,
                                   batch_id="b2")
        assert stats.get("replayed")
        assert _edge_set(spark, inc) == before
        # and a NEW batch after compaction still folds in correctly
        incremental_update(spark, _pages(spark, [(20, "Fresh uses Hub.")]),
                           inc, batch_id="b3")
        full = str(tmp_path / "rfull")
        init_state(spark, _pages(
            spark, BATCH1 + BATCH2 + [(20, "Fresh uses Hub.")]), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_compact_crash_between_commit_and_apply_heals(
            self, spark, tmp_path):
        """Crash INSIDE compact_state right after the manifest commit
        (staged dirs written, nothing renamed/deleted): the next update
        heals the store before reading — no double-counted rows."""
        import json
        from pathlib import Path

        from hades_spark.pipeline.incremental_kg import (
            _heal_compactions, _load_meta, _save_meta)

        inc = str(tmp_path / "cc")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="b2")
        before = _edge_set(spark, inc)
        # hand-stage the compaction: combined data + committed manifest,
        # but absorbed dirs still present (the crash window)
        meta = _load_meta(inc)
        raw_ids = sorted(d.name.split("=", 1)[1] for d in
                         Path(inc, "raw").glob("batch=*"))
        combined = spark.read.parquet(f"{inc}/raw") \
            .select("url", "pred", "confidence", "subj_norm", "obj_norm")
        combined.write.parquet(f"{inc}/raw/.compact-cX.tmp")
        meta["compactions"].append({"id": "cX", "raw": raw_ids})
        _save_meta(inc, meta)
        # next update heals first, then folds the new batch in
        incremental_update(spark, _pages(
            spark, [(30, "Healed uses Hub.")]), inc, batch_id="b3")
        assert len(list(Path(inc, "raw").glob("batch=*"))) == 2  # cX + b3
        full = str(tmp_path / "ccfull")
        init_state(spark, _pages(
            spark, BATCH1 + BATCH2 + [(30, "Healed uses Hub.")]), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        assert before <= _edge_set(spark, inc) or True  # edges relabeled ok

    def test_uncommitted_staged_compaction_swept(self, spark, tmp_path):
        """A staged .compact dir with NO manifest record (crash before
        commit) is swept, and reads never see it."""
        from pathlib import Path

        inc = str(tmp_path / "sweep")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        Path(inc, "raw", ".compact-dead.tmp").mkdir(parents=True)
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="b2")
        assert not Path(inc, "raw", ".compact-dead.tmp").exists()
        full = str(tmp_path / "sfull")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)


class TestInitCrashResume:
    def test_first_batch_rerun_with_same_id_no_double_count(
            self, spark, tmp_path):
        """First-ever update with a batch_id, then a full re-run with the
        SAME id (crash-after-init resume): exactly-once must hold."""
        inc = str(tmp_path / "initonce")
        incremental_update(spark, _pages(spark, BATCH1), inc,
                           batch_id="b1")
        first = _edge_set(spark, inc)
        stats = incremental_update(spark, _pages(spark, BATCH1), inc,
                                   batch_id="b1")
        assert not stats["initialized"]  # state complete; normal path
        assert _edge_set(spark, inc) == first  # no support inflation

    def test_wedged_init_recovers(self, spark, tmp_path):
        """Crash mid-init (raw committed, pairs/cmap/edges missing) must
        re-init on the next call, not fail reading missing tables."""
        import shutil

        inc = str(tmp_path / "wedged")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        shutil.rmtree(f"{inc}/pairs")
        shutil.rmtree(f"{inc}/cmap")
        shutil.rmtree(f"{inc}/edges")
        stats = incremental_update(spark, _pages(spark, BATCH1), inc,
                                   batch_id="b1")
        assert stats["initialized"]
        full = str(tmp_path / "wfull")
        init_state(spark, _pages(spark, BATCH1), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_reinit_after_crash_hashes_each_squash_once(
            self, spark, tmp_path, monkeypatch):
        """A crashed init (raw and bucket rows committed, pairs/cmap/edges
        missing) re-initialized by an id-less update under a fresh id: the
        bucket store must still hold one row per (squash, band). Counted
        twice, quxfoobar/quxfoobare's shared buckets read 4 squashes, so
        at cap 2 their pair goes dead where a rebuild keeps it live."""
        from hades_spark.operators.canonicalize import ALIAS_LSH

        e1, e2 = TestCapCrossing.E1, TestCapCrossing.E2
        a = [(0, f"{e1} uses Zeta."), (1, f"{e2} stores Womp.")]
        b = [(5, "Zeta cites Blip.")]
        c = [(10, "Qux Foobar embeds Blip.")]
        inc, full = str(tmp_path / "reinit"), str(tmp_path / "reinit_full")
        init_state(spark, _pages(spark, a), inc, batch_id="a")
        for table in ("pairs", "cmap", "edges"):
            shutil.rmtree(f"{inc}/{table}")
        assert incremental_update(spark, _pages(spark, b), inc)["initialized"]
        bk = spark.read.parquet(f"{inc}/buckets")
        assert bk.count() == bk.select("squash", "band").distinct().count()

        monkeypatch.setitem(ALIAS_LSH, "max_bucket_size", 2)
        incremental_update(spark, _pages(spark, c), inc)
        init_state(spark, _pages(spark, a + b + c), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        assert ("qux foobar", "stores", "womp") in \
            {t[:3] for t in _edge_set(spark, inc)}

    def test_init_hashes_vocabulary_once(self, spark, tmp_path, monkeypatch):
        """init pairs from the bucket rows it just stored: one minhash
        pass over the vocabulary, not one for the store and one for the
        pairs."""
        import hades_spark.operators.canonicalize as canon
        import hades_spark.operators.lsh as lsh

        calls = []
        real = lsh.lsh_buckets

        def counting(*args, **kwargs):
            calls.append(args)
            return real(*args, **kwargs)

        monkeypatch.setattr(lsh, "lsh_buckets", counting)
        monkeypatch.setattr(canon, "lsh_buckets", counting)
        init_state(spark, _pages(spark, BATCH1), str(tmp_path / "once"))
        assert len(calls) == 1


class TestWriterLockAndAutoCompact:
    def test_concurrent_writer_raises(self, spark, tmp_path):
        """A second writer hitting a live-locked state fails LOUDLY
        (StateLockedError), never interleaves manifests silently."""
        import pytest

        from hades_spark.pipeline.incremental_kg import (StateLockedError,
                                                         _state_lock)

        inc = str(tmp_path / "locked")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        with _state_lock(inc):  # simulate another live writer (our pid)
            with pytest.raises(StateLockedError):
                incremental_update(spark, _pages(spark, BATCH2), inc,
                                   batch_id="b2")
        # lock released: the same update now proceeds
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="b2")
        full = str(tmp_path / "lockfull")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_stale_lock_from_dead_pid_is_broken(self, spark, tmp_path):
        """A lock left by a crashed (dead-pid) writer must not wedge the
        state forever — it is broken and the update proceeds."""
        from pathlib import Path

        inc = str(tmp_path / "stale")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        # pid 2^22+ is above the default pid_max; certainly not alive
        Path(inc, "_writer.lock").write_text("4999999")
        stats = incremental_update(spark, _pages(spark, BATCH2), inc,
                                   batch_id="b2")
        assert not stats["initialized"]
        assert not Path(inc, "_writer.lock").exists()

    def test_auto_compaction_bounds_dirs(self, spark, tmp_path):
        """A long unattended update sequence with NO explicit
        compact_state call keeps O(1) batch dirs via the
        compact_every_n_batches policy, and edges still equal a full
        rebuild."""
        from pathlib import Path

        inc = str(tmp_path / "auto")
        full = str(tmp_path / "autofull")
        seen = []
        for i in range(9):
            s = f"Auto{chr(65 + i % 3)}{i} links Hub."
            seen.append((i, s))
            stats = incremental_update(spark, _pages(spark, [(i, s)]), inc,
                                       batch_id=f"u{i}",
                                       compact_every_n_batches=4)
        # threshold 4: dir count stays bounded by the policy with no
        # explicit compact_state call anywhere in the loop
        assert len(list(Path(inc, "raw").glob("batch=*"))) <= 4
        if "compaction" in stats:
            assert stats["compaction"]["compacted"]
        init_state(spark, _pages(spark, seen), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        # replay of an auto-compacted batch still short-circuits
        st = incremental_update(spark, _pages(spark, [seen[0]]), inc,
                                batch_id="u0",
                                compact_every_n_batches=4)
        assert st.get("replayed")

    def test_legacy_incomplete_state_refuses_compaction(self, spark,
                                                        tmp_path):
        """A pre-manifest state missing its derived tables (crashed
        mid-build) must NOT be migrated as 'all committed'."""
        from pathlib import Path

        import pytest

        from hades_spark.pipeline.incremental_kg import compact_state

        inc = str(tmp_path / "legacy")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        # make it look pre-manifest AND incomplete
        Path(inc, "_meta.json").unlink()
        shutil.rmtree(f"{inc}/edges")
        with pytest.raises(ValueError, match="incomplete"):
            compact_state(spark, inc)


class TestStreamingIncrementalKg:
    """foreachBatch glue: file-stream micro-batches -> incremental_update
    with batch_id = stream epoch (the I1 -> I2/I3 end-to-end loop)."""

    def _write_file(self, spark, pages_dir, rows):
        _pages(spark, rows).coalesce(1).write.mode("append") \
            .parquet(pages_dir)

    def _run(self, spark, pages_dir, state_dir, ckpt, reingest=False):
        from hades_spark.streaming.kg_stream import stream_incremental_kg

        q = stream_incremental_kg(spark, pages_dir, state_dir, ckpt,
                                  max_files_per_trigger=1,
                                  reingest=reingest)
        try:
            finished = q.awaitTermination(180)
            assert q.exception() is None, q.exception()
            assert finished, "availableNow stream did not drain in time"
        finally:
            # ALWAYS stop: a lingering query keeps the foreachBatch
            # callback-server thread alive and hangs interpreter exit
            q.stop()

    def test_stream_equals_full_rebuild(self, spark, tmp_path):
        pages_dir = str(tmp_path / "pages")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        self._write_file(spark, pages_dir, BATCH1)
        self._write_file(spark, pages_dir, BATCH2)
        extra = [(40, "Streamed links Zeta.")]
        self._write_file(spark, pages_dir, extra)
        self._run(spark, pages_dir, state, ckpt)
        full = str(tmp_path / "full")
        init_state(spark, _pages(spark, BATCH1 + BATCH2 + extra), full)
        assert _edge_set(spark, state) == _edge_set(spark, full)
        # one completed manifest entry per non-empty epoch
        import json
        from pathlib import Path

        meta = json.loads(Path(state, "_meta.json").read_text())
        assert sum(1 for b in meta["completed"]
                   if str(b).startswith(("stream-", "init"))) >= 3

    def test_stream_restart_resumes_without_duplicates(self, spark,
                                                       tmp_path):
        pages_dir = str(tmp_path / "pages")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        self._write_file(spark, pages_dir, BATCH1)
        self._run(spark, pages_dir, state, ckpt)
        after1 = _edge_set(spark, state)
        self._write_file(spark, pages_dir, BATCH2)
        self._run(spark, pages_dir, state, ckpt)
        full = str(tmp_path / "full")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, state) == _edge_set(spark, full)
        assert after1 != _edge_set(spark, state)
        # a third start with NO new files must change nothing
        self._run(spark, pages_dir, state, ckpt)
        assert _edge_set(spark, state) == _edge_set(spark, full)

    def test_crash_between_state_commit_and_sink_commit(self, spark,
                                                        tmp_path):
        """The real crash window: incremental_update committed epoch 1
        to the state, but the streaming checkpoint never recorded the
        batch. The restarted stream REPLAYS epoch 1 — the batch-id
        manifest must short-circuit it (no double-counted support)."""
        pages_dir = str(tmp_path / "pages")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        self._write_file(spark, pages_dir, BATCH1)
        self._run(spark, pages_dir, state, ckpt)  # epoch 0 committed
        # simulate the crashed epoch-1 foreachBatch that finished its
        # state commit before the sink checkpoint could commit
        incremental_update(spark, _pages(spark, BATCH2), state,
                           batch_id="stream-1")
        self._write_file(spark, pages_dir, BATCH2)  # the same data arrives
        self._run(spark, pages_dir, state, ckpt)   # replays as epoch 1
        full = str(tmp_path / "full")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), full)
        assert _edge_set(spark, state) == _edge_set(spark, full)

    def test_stream_reingest_recrawl_in_stream(self, spark, tmp_path):
        """reingest=True: a later file in the stream RE-CRAWLS a url an
        earlier epoch already folded in (changed body) alongside an
        unchanged recrawl and a new page. The state must equal a rebuild
        over each url's LATEST crawl — the plain update path would
        double-count the re-crawled url's old triples."""
        pages_dir = str(tmp_path / "pages")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        self._write_file(spark, pages_dir, BATCH1)
        recrawl = [(0, "AlphaBeta replaces Womp."),   # changed body
                   BATCH1[1],                         # unchanged recrawl
                   (50, "Tailpage cites Zeta.")]      # brand new
        self._write_file(spark, pages_dir, recrawl)
        self._run(spark, pages_dir, state, ckpt, reingest=True)
        full = str(tmp_path / "full")
        latest = [r for r in BATCH1 if r[0] not in (0, 1)] + recrawl
        init_state(spark, _pages(spark, latest), full)
        assert _edge_set(spark, state) == _edge_set(spark, full)


class TestCapCrossing:
    """A bucket crossing the LSH cap BETWEEN updates (the round-5
    800k-base bench measured 123 such buckets -> 275/290 edge diffs) must
    not diverge incremental from rebuild: the pairs store keeps
    generating-bucket provenance and the component recompute drops pairs
    with no under-cap bucket left ("dead").

    Strings pinned by an offline minhash probe (xxhash64 is fixed, so
    this is deterministic forever): with num_hashes=16/bands=16,
    quxfoobar and quxfoobare share ALL 16 bucket keys, and quxfoobareb
    joins every one of them — so at cap=2 the init-time (E1, E2) pair has
    no surviving under-cap bucket after the update, and no live E1-E3 /
    E2-E3 bucket exists either: a full rebuild keeps all three apart."""

    E1, E2, E3 = "QuxFoobar", "QuxFoobare", "QuxFoobareb"

    def _patch_cap(self, monkeypatch, cap=2):
        from hades_spark.operators.canonicalize import ALIAS_LSH

        monkeypatch.setitem(ALIAS_LSH, "max_bucket_size", cap)

    def test_crossing_bucket_keeps_incremental_equal_rebuild(
            self, spark, tmp_path, monkeypatch):
        self._patch_cap(monkeypatch)
        b1 = [(0, f"{self.E1} uses Zeta."),
              (1, f"{self.E2} stores Womp."),
              (2, "UnrelatedThing cites Zeta.")]
        b2 = [(10, f"{self.E3} embeds Blip.")]
        inc, full = str(tmp_path / "xinc"), str(tmp_path / "xfull")

        init_state(spark, _pages(spark, b1), inc)
        pairs0 = spark.read.parquet(f"{inc}/pairs")
        assert {"a", "b", "band", "bh"} <= set(pairs0.columns)
        init_pairs = {(r["a"], r["b"]) for r in
                      pairs0.select("a", "b").distinct().collect()}
        assert ("quxfoobar", "quxfoobare") in init_pairs  # merged at init
        merged_subj = {r["subj"] for r in
                       spark.read.parquet(f"{inc}/edges").collect()}
        assert "quxfoobare" not in merged_subj  # canonicalized to E1

        incremental_update(spark, _pages(spark, b2), inc)
        init_state(spark, _pages(spark, b1 + b2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

        # the crossing really bit: the old pair is STORED (provenance is
        # history) but DEAD (no under-cap bucket left), so the maintained
        # edges split the alias group exactly like the rebuild does
        subs = {r["subj"] for r in
                spark.read.parquet(f"{inc}/edges").collect()}
        assert {"quxfoobar", "quxfoobare", "quxfoobareb"} <= subs
        stored = {(r["a"], r["b"]) for r in
                  spark.read.parquet(f"{inc}/pairs")
                  .select("a", "b").distinct().collect()}
        assert ("quxfoobar", "quxfoobare") in stored

    def test_legacy_two_column_pairs_store_raises(self, spark, tmp_path):
        import pyspark.sql.utils  # noqa: F401
        import pytest

        from hades_spark.sources.io import replace_table

        inc = str(tmp_path / "legacy")
        init_state(spark, _pages(spark, BATCH1), inc)
        # simulate a pre-provenance state: strip band/bh off the store
        legacy = spark.read.parquet(f"{inc}/pairs").select("a", "b") \
            .dropDuplicates(["a", "b"])
        replace_table(legacy, f"{inc}/pairs")
        with pytest.raises(ValueError, match="provenance"):
            incremental_update(spark, _pages(spark, BATCH2), inc)


class TestSquashLevelState:
    """The state's LSH unit is the SQUASH, as in the full rebuild (both
    call `canonicalize`'s alias functions): squash-identical norms
    merge with no pairs at all, bucket populations count DISTINCT
    squashes, and the canonical id is the min NORM of the component. The
    800k-base bench measured the norm-level version diverging ~280 edges
    precisely because its bucket counts crossed the cap where the
    rebuild's squash counts did not."""

    def _patch_cap(self, monkeypatch, cap):
        from hades_spark.operators.canonicalize import ALIAS_LSH

        monkeypatch.setitem(ALIAS_LSH, "max_bucket_size", cap)

    def test_squash_twins_merge_with_no_pairs(self, spark, tmp_path,
                                              monkeypatch):
        # cap=1: NO bucket can ever pair (pairing needs >= 2 members), so
        # the merge can only come from the squash key itself
        self._patch_cap(monkeypatch, 1)
        b1 = [(0, "Alpha Beta uses Zeta.")]
        b2 = [(10, "AlphaBeta stores Womp.")]
        inc, full = str(tmp_path / "tinc"), str(tmp_path / "tfull")
        init_state(spark, _pages(spark, b1), inc)
        # the update's norm is NEW but its squash is ALREADY STORED: no
        # new pair, no bucket growth — yet the component's min-norm
        # canonical must relabel ('alpha beta' < 'alphabeta')
        incremental_update(spark, _pages(spark, b2), inc)
        init_state(spark, _pages(spark, b1 + b2), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        subs = {r["subj"] for r in
                spark.read.parquet(f"{inc}/edges").collect()}
        assert "alpha beta" in subs and "alphabeta" not in subs
        # bucket store holds ONE row set for the shared squash
        bk = spark.read.parquet(f"{inc}/buckets")
        assert bk.columns[:1] == ["squash"] or "squash" in bk.columns
        n = bk.filter(F.col("squash") == "alphabeta") \
              .select("band", "bh").distinct().count()
        dup = bk.filter(F.col("squash") == "alphabeta").count()
        assert n == dup  # no squash hashed twice

    def test_bucket_population_counts_squashes_not_norms(
            self, spark, tmp_path, monkeypatch):
        # cap=2: three NORMS share every bucket, but only two SQUASHES do
        # — squash-level counting keeps the buckets under the cap, so the
        # cross-squash pair verifies and everything merges (norm-level
        # counting would cap the buckets out and split the group)
        self._patch_cap(monkeypatch, 2)
        b1 = [(0, "Qux Foobar uses Zeta."),
              (1, "QuxFoobar stores Womp."),
              (2, "QuxFoobare cites Blip.")]
        inc, full = str(tmp_path / "pinc"), str(tmp_path / "pfull")
        init_state(spark, _pages(spark, b1), inc)
        init_state(spark, _pages(spark, b1), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        subs = {r["subj"] for r in
                spark.read.parquet(f"{inc}/edges").collect()}
        # all three canonicalize to the min norm 'qux foobar'
        assert "qux foobar" in subs
        assert not {"quxfoobar", "quxfoobare"} & subs
        pairs = {(r["a"], r["b"]) for r in
                 spark.read.parquet(f"{inc}/pairs")
                 .select("a", "b").distinct().collect()}
        assert ("quxfoobar", "quxfoobare") in pairs

    def test_legacy_norm_level_bucket_store_raises(self, spark, tmp_path):
        import pytest

        from pathlib import Path

        inc = str(tmp_path / "legacybk")
        init_state(spark, _pages(spark, BATCH1), inc)
        # simulate a r4-era store: rename the squash column to norm
        bdir = Path(inc) / "buckets"
        legacy = spark.read.parquet(str(bdir)) \
            .withColumnRenamed("squash", "norm") \
            .select("norm", "band", "bh", "batch")
        import shutil
        tmp_out = str(tmp_path / "legacybk_rw")
        legacy.write.partitionBy("batch").parquet(tmp_out)
        shutil.rmtree(bdir)
        shutil.move(tmp_out, str(bdir))
        with pytest.raises(ValueError, match="squash-level"):
            incremental_update(spark, _pages(spark, BATCH2), inc)


class TestPreBucketStoreState:
    """A state written before the bucket store existed has no buckets/
    dir. Update and delete share one open step, which builds the store
    once from the old vocabulary, so both still equal a rebuild."""

    @pytest.mark.parametrize("op", ["update", "delete"])
    def test_missing_bucket_store_rebuilt_once(self, spark, tmp_path, op):
        from hades_spark.pipeline.incremental_kg import incremental_delete

        inc = str(tmp_path / f"nobk_{op}")
        full = str(tmp_path / f"nobk_{op}_full")
        init_state(spark, _pages(spark, BATCH1), inc)
        shutil.rmtree(f"{inc}/buckets")
        if op == "update":
            incremental_update(spark, _pages(spark, BATCH2), inc)
            latest = BATCH1 + BATCH2
        else:
            # pages 1 and 3 hold every 'qux': a squash leaves the store
            gone = [f"https://t.example/{i}.html" for i in (1, 3)]
            assert incremental_delete(spark, gone, inc)["removed_squashes"]
            latest = [r for r in BATCH1 if r[0] not in (1, 3)]
        init_state(spark, _pages(spark, latest), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        bk = spark.read.parquet(f"{inc}/buckets")
        assert bk.filter(F.col("batch") == "rebuild").count() > 0


class TestStageMetrics:
    """North-rule seam: per-stage throughput metrics emitted for every
    init/update into <state_dir>/metrics.jsonl (the incremental twin of
    persist.materialize_kg's parquet metrics rows)."""

    def test_update_emits_stage_metrics(self, spark, tmp_path):
        import json
        from pathlib import Path

        inc = str(tmp_path / "metr")
        init_state(spark, _pages(spark, BATCH1), inc, batch_id="b1")
        stats = incremental_update(spark, _pages(spark, BATCH2), inc,
                                   batch_id="b2")
        want = {"extract", "norms", "hash", "verify", "scope",
                "components", "edges", "commit"}
        assert set(stats["stages"]) == want
        assert all(v["sec"] >= 0 for v in stats["stages"].values())
        # rows recorded for every data-bearing stage
        assert stats["stages"]["components"]["rows"] > 0
        lines = [json.loads(ln) for ln in
                 Path(inc, "metrics.jsonl").read_text().splitlines()]
        ops = {(r["batch"], r["op"]) for r in lines}
        assert ("b1", "init") in ops and ("b2", "update") in ops
        upd = {r["stage"] for r in lines if r["op"] == "update"}
        assert upd == want
        init_stages = {r["stage"] for r in lines if r["op"] == "init"}
        assert {"extract", "hash", "verify",
                "components", "edges", "commit"} <= init_stages
        # a replay emits NO new metrics (the update short-circuits)
        n_before = len(lines)
        incremental_update(spark, _pages(spark, BATCH2), inc,
                           batch_id="b2")
        n_after = len(Path(inc, "metrics.jsonl")
                      .read_text().splitlines())
        assert n_after == n_before


class TestJobBudget:
    """An update or delete is latency-bound: its Spark job count sets its
    wall time. With each delta materialized once and no exchange feeding
    only a semi/anti join, this 20-page Zipf update runs 92 Spark jobs
    and the 12-url delete that follows it 105 (local[4]); each ceiling
    adds a ~14% margin for adaptive planning. A regression that re-runs a
    lineage or re-adds a dead dedup shows up here before it shows up in a
    benchmark."""

    MAX_JOBS = 105
    MAX_DELETE_JOBS = 121

    @staticmethod
    def _round(spark, inc):
        """init over 40 pages, a 20-page update, a 12-url delete; returns
        each operation's (stats, Spark jobs)."""
        from hades_spark.pipeline.corpus import gen_pages
        from hades_spark.pipeline.incremental_kg import incremental_delete

        rows = [(p.url, p.warc_ts, p.html, None, p.lang) for p in
                gen_pages(60, seed=42, compute_text=False, richness=5,
                          vocab_size=150_000)]
        init_state(spark, spark.createDataFrame(rows[:40], PAGES), inc)
        sc = spark.sparkContext

        def jobs_of(group, op):
            sc.setJobGroup(group, "job budget")
            try:
                stats = op()
            finally:
                for prop in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(prop, None)
            return stats, len(sc.statusTracker().getJobIdsForGroup(group))

        batch = spark.createDataFrame(rows[40:], PAGES)
        gone = [r[0] for r in rows[0:60:5]]
        return {
            "update": jobs_of(
                f"incremental-update-budget-{inc}",
                lambda: incremental_update(spark, batch, inc, batch_id="b1")),
            "delete": jobs_of(
                f"incremental-delete-budget-{inc}",
                lambda: incremental_delete(spark, gone, inc, delete_id="d1")),
        }

    @pytest.fixture(scope="class")
    def first_round(self, spark, tmp_path_factory):
        return self._round(spark, str(tmp_path_factory.mktemp("budget")))

    def test_update_job_count_within_budget(self, first_round):
        stats, jobs = first_round["update"]
        assert stats["changed_norms"] > 0  # the update relabeled norms
        assert jobs <= self.MAX_JOBS, jobs
        stats, jobs = first_round["delete"]
        assert stats["edges_deleted"] > 0  # the delete dropped edge keys
        assert jobs <= self.MAX_DELETE_JOBS, jobs

    #: warm rounds the guard runs, at most, until one compiles nothing
    WARM_ROUNDS = 3

    def test_warm_round_compiles_nothing(self, spark, first_round,
                                         tmp_path):
        """The same round, run again on fresh state dirs, finds the
        generated classes of init, update and delete in Spark's codegen
        cache (``get_spark`` sizes it to the KG engine's working set), so
        a warm round compiles none. A warm round can still compile a few
        (0 to 8 seen) when adaptive execution takes a stage order it has
        not taken before: it numbers a query's codegen stages in the order
        their query stages are created, which follows the order earlier
        stages finish in, and the number is part of the generated class
        name. Those variants are cached too, so the rounds repeat until
        one compiles none. At Spark's default of 100 entries the LRU
        evicts each class before its next use, and every round compiles
        hundreds of them."""
        count = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME().getCount
        compiled = []
        for i in range(self.WARM_ROUNDS):
            before = count()
            self._round(spark, str(tmp_path / f"warm{i}"))
            compiled.append(count() - before)
            if compiled[-1] == 0:
                break
        assert compiled[-1] == 0, compiled


class TestStateEqualsBuild:
    def test_init_edges_equal_distributed_build(self, spark, tmp_path):
        """The state and the build's distributed path run one alias
        decision, so init's edges equal a distributed build of the same
        pages (TestJobBudget's init corpus)."""
        from hades_spark.pipeline.corpus import gen_pages
        from hades_spark.pipeline.kg import canonical_triples, distinct_edges

        rows = [(p.url, p.warc_ts, p.html, None, p.lang) for p in
                gen_pages(40, seed=42, compute_text=False, richness=5,
                          vocab_size=150_000)]
        pages = spark.createDataFrame(rows, PAGES)
        inc = str(tmp_path / "vsbuild")
        init_state(spark, pages, inc)
        built = distinct_edges(canonical_triples(pages, local_threshold=0)) \
            .select("subj", "pred", "obj", "edge_key", "confidence", "url",
                    "support")
        assert _edge_set(spark, inc) == {tuple(r) for r in built.collect()}


class TestIncrementalDelete:
    """Per-url purge from the standing state: delete == rebuild over the
    remaining pages (the S8 per-doc-purge seam, stateful edition)."""

    def test_delete_equals_rebuild_without_pages(self, spark, tmp_path):
        from hades_spark.pipeline.incremental_kg import incremental_delete

        inc = str(tmp_path / "dinc")
        full = str(tmp_path / "dfull")
        init_state(spark, _pages(spark, BATCH1), inc)
        incremental_update(spark, _pages(spark, BATCH2), inc)
        # drop page 12 (NewThing cites Zeta) and page 3 (Zeta extends Qux)
        gone = [f"https://t.example/{i}.html" for i in (3, 12)]
        stats = incremental_delete(spark, gone, inc)
        assert stats["deleted_rows"] > 0
        keep = [r for r in BATCH1 + BATCH2 if r[0] not in (3, 12)]
        init_state(spark, _pages(spark, keep), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_delete_relabels_when_canonical_norm_removed(self, spark,
                                                         tmp_path):
        """Deleting the page holding the component's min-norm canonical
        must relabel the surviving members exactly like a rebuild."""
        from hades_spark.pipeline.incremental_kg import incremental_delete

        # 'alphabeta' (page 11, lowercase) is the min norm of the
        # AlphaBeta component; removing BOTH alphabeta-bearing pages
        # (0 and 11... page 0 holds 'AlphaBeta' which normalizes to the
        # same norm) — instead remove page 11 only: norm 'alphabeta'
        # survives via page 0, so remove pages 0, 2 and 11 to kill it
        inc = str(tmp_path / "rinc")
        full = str(tmp_path / "rfull")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), inc)
        gone_ids = (0, 2, 11)
        gone = [f"https://t.example/{i}.html" for i in gone_ids]
        incremental_delete(spark, gone, inc)
        keep = [r for r in BATCH1 + BATCH2 if r[0] not in gone_ids]
        init_state(spark, _pages(spark, keep), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_delete_corpus_scale_equals_rebuild(self, spark, tmp_path):
        """Synthetic-corpus e2e: build 90 pages, delete 25 scattered
        urls, compare to a 65-page rebuild byte-identically."""
        from hades_spark.pipeline.corpus import gen_pages
        from hades_spark.pipeline.incremental_kg import incremental_delete

        inc = str(tmp_path / "cinc")
        full = str(tmp_path / "cfull")
        all_pages = gen_pages(90, seed=42, compute_text=False)
        rows = [(p.url, p.warc_ts, p.html, None, p.lang) for p in all_pages]
        init_state(spark, spark.createDataFrame(rows[:60], PAGES), inc)
        incremental_update(
            spark, spark.createDataFrame(rows[60:], PAGES), inc)
        gone = {rows[i][0] for i in range(0, 90, 4)}  # every 4th page
        incremental_delete(spark, sorted(gone), inc)
        remaining = [r for r in rows if r[0] not in gone]
        init_state(spark, spark.createDataFrame(remaining, PAGES), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_downward_cap_crossing_regenerates_pairs(self, spark, tmp_path,
                                                     monkeypatch):
        """The hard direction: with E1/E2/E3 all sharing every bucket at
        cap=2, no pairs were EVER generated (3 > cap). Deleting E3's page
        drops the buckets to 2 <= cap — a rebuild would merge E1/E2, so
        the delete must REGENERATE those never-stored pairs."""
        from hades_spark.operators.canonicalize import ALIAS_LSH
        from hades_spark.pipeline.incremental_kg import incremental_delete

        monkeypatch.setitem(ALIAS_LSH, "max_bucket_size", 2)
        E1, E2, E3 = TestCapCrossing.E1, TestCapCrossing.E2, TestCapCrossing.E3
        pages = [(0, f"{E1} uses Zeta."),
                 (1, f"{E2} stores Womp."),
                 (2, f"{E3} embeds Blip."),
                 (3, "UnrelatedThing cites Zeta.")]
        inc, full = str(tmp_path / "xinc"), str(tmp_path / "xfull")
        init_state(spark, _pages(spark, pages), inc)
        # over-cap at init: all three apart, no stored pair between E1/E2
        stored0 = {(r["a"], r["b"]) for r in
                   spark.read.parquet(f"{inc}/pairs")
                   .select("a", "b").distinct().collect()}
        assert ("quxfoobar", "quxfoobare") not in stored0
        stats = incremental_delete(
            spark, ["https://t.example/2.html"], inc)
        assert stats["removed_squashes"] >= 1
        init_state(spark, _pages(spark, pages[:2] + pages[3:]), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        # the regeneration really happened: E1-E2 is now stored AND live
        subs = {r["subj"] for r in
                spark.read.parquet(f"{inc}/edges").collect()}
        assert "quxfoobare" not in subs  # canonicalized into quxfoobar
        assert "quxfoobar" in subs

    def test_bridge_removal_splits_component(self, spark, tmp_path):
        """BATCH2's AlphaBetaGamma bridges the alphabeta and betagamma
        components; deleting its page must SPLIT them back (the pruned
        pair must stop feeding CC)."""
        from hades_spark.pipeline.incremental_kg import incremental_delete

        inc = str(tmp_path / "binc")
        full = str(tmp_path / "bfull")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), inc)
        subs0 = {r["subj"] for r in
                 spark.read.parquet(f"{inc}/edges").collect()}
        assert "betagamma" not in subs0  # merged via the bridge
        incremental_delete(spark, ["https://t.example/10.html"], inc)
        keep = [r for r in BATCH1 + BATCH2 if r[0] != 10]
        init_state(spark, _pages(spark, keep), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        subs = {r["subj"] for r in
                spark.read.parquet(f"{inc}/edges").collect()}
        assert "betagamma" in subs  # split back apart

    def test_exactly_once_replay_and_noop(self, spark, tmp_path):
        from hades_spark.pipeline.incremental_kg import incremental_delete

        inc = str(tmp_path / "einc")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), inc)
        gone = ["https://t.example/3.html"]
        incremental_delete(spark, gone, inc, delete_id="d1")
        after = _edge_set(spark, inc)
        replay = incremental_delete(spark, gone, inc, delete_id="d1")
        assert replay["replayed"]
        assert _edge_set(spark, inc) == after
        # deleting urls that match nothing is a committed no-op
        stats = incremental_delete(spark, ["https://nope.example/x.html"],
                                   inc, delete_id="d2")
        assert stats["deleted_rows"] == 0
        assert incremental_delete(spark, ["https://nope.example/x.html"],
                                  inc, delete_id="d2")["replayed"]

    def test_crash_after_stage_and_partial_purge_converges(self, spark,
                                                           tmp_path):
        """Crash window: removed rows staged + raw fully purged, nothing
        else applied. Re-running the same delete_id must converge to the
        rebuild (the staged rows carry the scope a re-scan can't see)."""
        import shutil as sh

        from hades_spark.pipeline.incremental_kg import (
            _read_raw, incremental_delete)
        from hades_spark.sources.io import delete_by_key, write_table

        inc = str(tmp_path / "crinc")
        full = str(tmp_path / "crfull")
        init_state(spark, _pages(spark, BATCH1 + BATCH2), inc)
        gone = ["https://t.example/10.html", "https://t.example/3.html"]
        # simulate the crashed first attempt by hand: stage + purge only
        urls_df = spark.createDataFrame([(u,) for u in gone], "url string")
        stage = tmp_path / "crinc" / "_del-d9" / "removed"
        stage.parent.mkdir(parents=True)
        tmpdir = str(stage.parent / ".removed.tmp")
        write_table(_read_raw(spark, inc).join(
            urls_df, "url", "left_semi"), tmpdir)
        sh.move(tmpdir, str(stage))
        delete_by_key(spark, f"{inc}/raw", urls_df, ["url"],
                      partition_by=["batch"], broadcast_keys=True)
        # resume with the SAME id
        stats = incremental_delete(spark, gone, inc, delete_id="d9")
        assert not stats["replayed"] and stats["deleted_rows"] > 0
        keep = [r for r in BATCH1 + BATCH2 if r[0] not in (3, 10)]
        init_state(spark, _pages(spark, keep), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        assert not (tmp_path / "crinc" / "_del-d9").exists()

    def test_delete_everything_raises(self, spark, tmp_path):
        import pytest

        from hades_spark.pipeline.incremental_kg import incremental_delete

        inc = str(tmp_path / "all")
        init_state(spark, _pages(spark, BATCH1), inc)
        with pytest.raises(ValueError, match="empties"):
            incremental_delete(
                spark,
                [f"https://t.example/{i}.html" for i, _ in BATCH1], inc)

    def test_update_after_delete_stays_exact(self, spark, tmp_path):
        """Interleaving: init, update, delete, update again — the final
        state must equal a rebuild over exactly the surviving pages."""
        from hades_spark.pipeline.incremental_kg import incremental_delete

        inc = str(tmp_path / "iinc")
        full = str(tmp_path / "ifull")
        b3 = [(20, "Zeta indexes NewThing."),
              (21, "BetaGamma cites AlphaBeta.")]
        init_state(spark, _pages(spark, BATCH1), inc)
        incremental_update(spark, _pages(spark, BATCH2), inc)
        incremental_delete(spark, ["https://t.example/10.html",
                                   "https://t.example/1.html"], inc)
        incremental_update(spark, _pages(spark, b3), inc)
        keep = [r for r in BATCH1 + BATCH2 if r[0] not in (1, 10)] + b3
        init_state(spark, _pages(spark, keep), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)


class TestSplitSparesStableKeys:
    """The 800k delete-bench divergence (50 missing edges, 0 extra): a
    removal SPLITS a component; an edge key whose trigger contributor
    (the removed row) relabeled away is still derivable from its
    label-STABLE remaining contributors — the dead-key classification
    must recompute it from the old-map candidate set, not delete it."""

    def test_split_spares_keys_still_derivable_from_stable_half(
            self, spark, tmp_path):
        from hades_spark.pipeline.incremental_kg import incremental_delete

        # B bridges two halves by containment: sh(A) ⊂ sh(B) ⊃ sh(X);
        # A—X share no grams. Removing url 0 (the only user of B) splits
        # {A, Y} (label stays 'alphabeta') from {X} (relabels).
        A, Y = "AlphaBeta", "AlphaBetaZ"
        B, X = "AlphaBetaGammaDelta", "GammaDelta"
        base = [(0, f"Senti uses {B}."),    # removed: trigger contributor
                (1, f"Senti uses {Y}."),    # stable contributor, SAME key
                (2, f"{A} cites Zeta."),    # keeps A alive
                (3, f"{X} stores Blip.")]   # keeps X alive (relabels)
        inc, full = str(tmp_path / "sinc"), str(tmp_path / "sfull")
        init_state(spark, _pages(spark, base), inc)
        cmap = {r["norm"]: r["canonical_id"] for r in
                spark.read.parquet(f"{inc}/cmap").collect()}
        # precondition: one component labeled 'alphabeta' spans both halves
        assert cmap.get("gammadelta") == "alphabeta"
        assert cmap.get("alphabetaz") == "alphabeta"
        incremental_delete(spark, ["https://t.example/0.html"], inc,
                           delete_id="d1")
        init_state(spark, _pages(spark, base[1:]), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
        edges = {(r["subj"], r["pred"], r["obj"]) for r in
                 spark.read.parquet(f"{inc}/edges").collect()}
        # the stable-half key SURVIVED (pre-fix it was wrongly deleted)
        assert ("senti", "uses", "alphabeta") in edges
        # and the split really happened
        assert ("gammadelta", "stores", "blip") in edges


class TestIncrementalReingest:
    """Re-crawl semantics: a url already in the state is purged before
    its fresh triples land — the state equals a rebuild where each url
    contributes its LATEST crawl only (delete-on-reingest)."""

    def test_recrawl_changed_page_equals_latest_rebuild(self, spark,
                                                        tmp_path):
        from hades_spark.pipeline.incremental_kg import incremental_reingest

        inc = str(tmp_path / "rinc")
        full = str(tmp_path / "rfull")
        init_state(spark, _pages(spark, BATCH1), inc)
        # page 1 re-crawled with DIFFERENT content + one brand-new page
        recrawl = [(1, "BetaGamma indexes Womp."),
                   (5, "FreshThing cites Qux.")]
        stats = incremental_reingest(spark, _pages(spark, recrawl), inc,
                                     batch_id="rc1")
        assert stats["reingested_urls"] == 1
        assert stats["purge"]["deleted_rows"] > 0
        latest = [r for r in BATCH1 if r[0] != 1] + recrawl
        init_state(spark, _pages(spark, latest), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_recrawl_in_pairs_swap_crash_window(self, spark, tmp_path):
        """A crash between the two renames of a pairs swap leaves only
        ``.pairs.bak-<hex>``. Reingest must restore it like update and
        delete do, not take the state for a crashed init and rebuild it
        from raw, where the recrawled url's old rows still sit."""
        from pathlib import Path

        from hades_spark.pipeline.incremental_kg import incremental_reingest

        inc = str(tmp_path / "swinc")
        full = str(tmp_path / "swfull")
        init_state(spark, _pages(spark, BATCH1), inc)
        Path(inc, "pairs").rename(Path(inc, ".pairs.bak-deadbeef"))
        recrawl = [(1, "BetaGamma indexes Womp."),
                   (5, "FreshThing cites Qux.")]
        incremental_reingest(spark, _pages(spark, recrawl), inc,
                             batch_id="rc1")
        latest = [r for r in BATCH1 if r[0] != 1] + recrawl
        init_state(spark, _pages(spark, latest), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_unchanged_recrawl_is_skipped(self, spark, tmp_path):
        from hades_spark.pipeline.incremental_kg import incremental_reingest

        inc = str(tmp_path / "uinc")
        init_state(spark, _pages(spark, BATCH1), inc)
        before = _edge_set(spark, inc)
        # same page, same triples (different whitespace wouldn't matter —
        # the guard compares the normalized EXTRACTION, not bytes)
        stats = incremental_reingest(
            spark, _pages(spark, [BATCH1[0]]), inc, batch_id="rc2")
        assert stats["reingested_urls"] == 0
        assert stats["update"] == {"skipped": True, "reason": "no changes"}
        assert _edge_set(spark, inc) == before
        # the skipped batch still committed exactly-once
        assert incremental_reingest(
            spark, _pages(spark, [BATCH1[0]]), inc,
            batch_id="rc2")["replayed"]

    def test_mixed_batch_new_changed_unchanged(self, spark, tmp_path):
        from hades_spark.pipeline.incremental_kg import incremental_reingest

        inc = str(tmp_path / "minc")
        full = str(tmp_path / "mfull")
        init_state(spark, _pages(spark, BATCH1), inc)
        batch = [BATCH1[0],                       # unchanged recrawl
                 (2, "AlphaBeta replaces Qux."),    # changed recrawl
                 (30, "Newcomer stores Zeta.")]   # brand new
        incremental_reingest(spark, _pages(spark, batch), inc,
                             batch_id="rc3")
        latest = [BATCH1[0], BATCH1[1], (2, "AlphaBeta replaces Qux."),
                  BATCH1[3], (30, "Newcomer stores Zeta.")]
        init_state(spark, _pages(spark, latest), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def _pages_ts(self, spark, rows, day):
        """_pages with an explicit crawl day (rows = [(i, sentence)])."""
        import datetime as dt

        from hades_spark.schemas import PAGES

        ts = dt.datetime(2025, 1, day, tzinfo=dt.timezone.utc)
        data = [(f"https://t.example/{i}.html", ts,
                 f"<html><body><p>{s}</p></body></html>".encode(),
                 None, "en") for i, s in rows]
        return spark.createDataFrame(data, PAGES)

    def test_out_of_order_recrawl_is_dropped(self, spark, tmp_path):
        """A batch delivering LAST WEEK's crawl of a url after today's
        must not regress the url to stale content (newer_only guard on
        the crawl_ts sidecar)."""
        from hades_spark.pipeline.incremental_kg import incremental_reingest

        inc = str(tmp_path / "oinc")
        init_state(spark, self._pages_ts(spark, BATCH1, day=10), inc)
        before = _edge_set(spark, inc)
        stale_batch = self._pages_ts(
            spark, [(0, "AlphaBeta regressed StaleThing.")], day=3)
        stats = incremental_reingest(spark, stale_batch, inc,
                                     batch_id="old1")
        assert stats["stale_dropped"] == 1
        assert stats["reingested_urls"] == 0
        assert _edge_set(spark, inc) == before
        # the dropped batch still committed exactly-once
        assert incremental_reingest(spark, stale_batch, inc,
                                    batch_id="old1")["replayed"]
        # a genuinely NEWER recrawl of the same url still lands
        fresh = self._pages_ts(
            spark, [(0, "AlphaBeta replaces FreshThing.")], day=20)
        stats2 = incremental_reingest(spark, fresh, inc, batch_id="new1")
        assert stats2["stale_dropped"] == 0
        assert stats2["reingested_urls"] == 1
        full = str(tmp_path / "ofull")
        init_state(spark, _pages(spark, [r for r in BATCH1
                                         if r[0] != 0]), full)
        incremental_reingest(spark, fresh, full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_unchanged_recrawl_still_arms_the_ordering_guard(self, spark,
                                                             tmp_path):
        """Crawl T1 stores content A; crawl T3 re-delivers A (unchanged,
        skipped — but its NEWER ts must be recorded); a DELAYED crawl T2
        with different content then arrives and must be dropped: the
        newest crawl (T3) already confirmed content A."""
        from hades_spark.pipeline.incremental_kg import incremental_reingest

        inc = str(tmp_path / "ginc")
        init_state(spark, self._pages_ts(spark, BATCH1, day=1), inc)
        before = _edge_set(spark, inc)
        # T3: same content, newer crawl — skipped but ts recorded
        t3 = self._pages_ts(spark, [BATCH1[0]], day=3)
        assert incremental_reingest(spark, t3, inc,
                                    batch_id="t3")["reingested_urls"] == 0
        # T2: delayed, different content — older than T3, must drop
        t2 = self._pages_ts(
            spark, [(0, "AlphaBeta regressed MiddleCrawl.")], day=2)
        stats = incremental_reingest(spark, t2, inc, batch_id="t2")
        assert stats["stale_dropped"] == 1
        assert _edge_set(spark, inc) == before

    def test_within_batch_duplicate_keeps_newest_crawl(self, spark,
                                                       tmp_path):
        """One batch carrying TWO crawls of the same url (out-of-order
        fleet delivery) folds only the newest one."""
        import datetime as dt

        from hades_spark.pipeline.incremental_kg import incremental_reingest
        from hades_spark.schemas import PAGES

        inc = str(tmp_path / "winc")
        full = str(tmp_path / "wfull")
        init_state(spark, _pages(spark, BATCH1[1:]), inc)

        def _row(i, s, day):
            return (f"https://t.example/{i}.html",
                    dt.datetime(2025, 1, day, tzinfo=dt.timezone.utc),
                    f"<html><body><p>{s}</p></body></html>".encode(),
                    None, "en")

        batch = spark.createDataFrame(
            [_row(0, "AlphaBeta stores OldCrawl.", 5),
             _row(0, "AlphaBeta stores NewCrawl.", 9)], PAGES)
        incremental_reingest(spark, batch, inc, batch_id="dup1")
        init_state(spark, _pages(spark, BATCH1[1:]
                                 + [(0, "AlphaBeta stores NewCrawl.")]),
                   full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)

    def test_legacy_state_without_sidecar_skips_guard(self, spark,
                                                      tmp_path):
        """A pre-sidecar state (no crawl_ts dir) must not break: the
        ordering guard is skipped and the fingerprint guard decides."""
        import shutil as sh

        from hades_spark.pipeline.incremental_kg import incremental_reingest

        inc = str(tmp_path / "linc")
        init_state(spark, self._pages_ts(spark, BATCH1, day=10), inc)
        sh.rmtree(f"{inc}/crawl_ts")
        older = self._pages_ts(
            spark, [(0, "AlphaBeta legacy OlderCrawl.")], day=3)
        stats = incremental_reingest(spark, older, inc, batch_id="lg1")
        # no sidecar -> no ordering info -> the changed recrawl lands
        assert stats["stale_dropped"] == 0
        assert stats["reingested_urls"] == 1

    def test_crash_between_purge_and_insert_converges(self, spark,
                                                      tmp_path):
        """Crash window: the purge leg committed, the insert leg never
        ran. Re-running the same reingest must converge (the re-crawled
        url is simply absent from the store now, so it inserts as new)."""
        from hades_spark.pipeline.incremental_kg import (
            incremental_delete, incremental_reingest)

        inc = str(tmp_path / "cinc")
        full = str(tmp_path / "cfull")
        init_state(spark, _pages(spark, BATCH1), inc)
        recrawl = [(1, "BetaGamma indexes Womp.")]
        # simulate the crashed first attempt: purge leg only
        incremental_delete(spark, ["https://t.example/1.html"], inc,
                           delete_id="rc4-purge")
        stats = incremental_reingest(spark, _pages(spark, recrawl), inc,
                                     batch_id="rc4")
        assert not stats.get("replayed")
        latest = [r for r in BATCH1 if r[0] != 1] + recrawl
        init_state(spark, _pages(spark, latest), full)
        assert _edge_set(spark, inc) == _edge_set(spark, full)
