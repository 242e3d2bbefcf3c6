"""r15 (verdict #6): property-pin run_concurrent's failure semantics
— the docstring promises "the first exception re-raises after all
complete", and the ticks rely on a replay of the same (batch,
batch_id) healing whatever a failed wave left behind. Two tick-level
variants: the victim append fails BEFORE writing (its table misses
the batch; replay fills it) and AFTER writing (redelivery after
success; replay's anti-join must not duplicate).

``session.overlap`` joins on every exit: its unit pins run without
Spark, and one failure-injection pin per tick pipeline (corpus, media,
cross-modal, trimodal) fails a node append while the overlapped flags
merge is still in flight, then checks that nothing the tick submitted
is still running when the exception arrives and that a replay equals
a clean run."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import test_cross_modal_tick as TCM
import test_media_tick as TMT
from falcon_metrics_etl_spark.session import overlap, run_concurrent
from falcon_metrics_etl_spark.state import read_state


def test_run_concurrent_first_exception_after_all_complete():
    """One thunk fails fast; the slow thunks still run to completion
    (their side effects land) and the FIRST exception re-raises."""
    done = []
    gate = threading.Event()

    def fail_fast():
        raise RuntimeError("first")

    def fail_slow():
        gate.wait(5)
        raise ValueError("second")

    def slow_ok():
        time.sleep(0.2)
        done.append("ok")
        gate.set()
        return 42

    with pytest.raises(RuntimeError, match="first"):
        run_concurrent(fail_fast, fail_slow, slow_ok)
    assert done == ["ok"]  # the wave drained before re-raising


def test_run_concurrent_single_thunk_inline():
    assert run_concurrent(lambda: 7) == [7]
    with pytest.raises(KeyError):
        run_concurrent(lambda: {}["x"])


def _pool_threads() -> set:
    return {
        t for t in threading.enumerate()
        if t.name.startswith("ThreadPoolExecutor")
    }


def _slow(done: list, ran_on: list, seconds: float = 0.3, exc=None):
    def thunk():
        ran_on.append(threading.current_thread())
        time.sleep(seconds)
        done.append(seconds)
        if exc is not None:
            raise exc

    return thunk


def test_overlap_body_failure_joins_every_thunk_first():
    """The body raises: every thunk has finished and the pool's
    threads are gone before the body's exception propagates."""
    done, ran_on = [], []
    with pytest.raises(KeyError, match="body"):
        with overlap(_slow(done, ran_on), _slow(done, ran_on, 0.5)):
            raise KeyError("body")
    assert sorted(done) == [0.3, 0.5]
    assert len(ran_on) == 2 and not any(t.is_alive() for t in ran_on)


def test_overlap_thunk_failure_reraises_after_all_complete():
    """A thunk raises: the first error (in submission order) re-raises,
    and only once every thunk has completed."""
    done, ran_on = [], []
    with pytest.raises(RuntimeError, match="first"):
        with overlap(
            _slow(done, ran_on, 0.1, RuntimeError("first")),
            _slow(done, ran_on, 0.4),
            _slow(done, ran_on, 0.2, ValueError("second")),
        ):
            pass
    assert sorted(done) == [0.1, 0.2, 0.4]
    assert not any(t.is_alive() for t in ran_on)


def test_overlap_body_error_wins_over_thunk_error():
    done, ran_on = [], []
    with pytest.raises(KeyError, match="body"):
        with overlap(_slow(done, ran_on, 0.1, RuntimeError("thunk"))):
            time.sleep(0.2)
            raise KeyError("body")
    assert done == [0.1] and not ran_on[0].is_alive()


def test_overlap_yields_results_in_order():
    with overlap(lambda: 1, lambda: 2) as results:
        assert results == []
    assert results == [1, 2]


def _docs(spark):
    return spark.createDataFrame(
        [
            (
                i,
                f"alpha{i} beta{i} gamma{i} doc {i} "
                + " ".join(f"w{i}x{j} common{j % 4}" for j in range(16)),
            )
            for i in range(30)
        ],
        "doc_id long, text string",
    )


def _state_multisets(spark, state_dir):
    import os

    out = {}
    for t in sorted(os.listdir(state_dir)):
        p = os.path.join(state_dir, t)
        if os.path.isdir(p):
            out[t] = sorted(
                tuple(str(x) for x in r)
                for r in read_state(spark, p).collect()
            )
    return out


@pytest.mark.parametrize("fail_after_write", [False, True])
def test_failed_append_wave_replays_to_clean_state(
    spark, tmp_path, monkeypatch, fail_after_write
):
    """Inject a failure into ONE append of the tick's concurrent wave
    (before or after its write lands), replay the identical tick, and
    the state equals a control run that never failed."""
    import falcon_metrics_etl_spark.streaming.corpus_tick as CT
    from falcon_metrics_etl_spark.plans.bpe import (
        _byte_merges_df,
        byte_words_of,
    )

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") < 10)
    batch = docs.filter(
        (F.col("doc_id") >= 10) & (F.col("doc_id") < 16)
    )
    control = str(tmp_path / "control")
    victim = str(tmp_path / "victim")
    merges = _byte_merges_df(byte_words_of(base))
    CT.stage_corpus_state(spark, base, merges, control, batch_id=0)
    CT.stage_corpus_state(spark, base, merges, victim, batch_id=0)

    CT.corpus_ingest_tick(spark, batch, control, batch_id=1)

    real = run_concurrent
    waves = {"n": 0}

    def sabotaged(*thunks):
        ts = list(thunks)
        # the tick runs two 3-thunk waves: the LSH checkpoint wave,
        # then the append wave — sabotage only the SECOND
        waves["n"] += 1
        if waves["n"] != 2:
            return real(*ts)
        orig = ts[-1]

        def boom():
            if fail_after_write:
                orig()  # the append LANDS, then the wave reports failure
            raise RuntimeError("injected append failure")

        ts[-1] = boom
        return real(*ts)

    monkeypatch.setattr(CT, "run_concurrent", sabotaged)
    with pytest.raises(RuntimeError, match="injected"):
        CT.corpus_ingest_tick(spark, batch, victim, batch_id=1)
    monkeypatch.setattr(CT, "run_concurrent", real)

    # replay of the SAME (batch, batch_id): anti-join skips whatever
    # landed, fills whatever did not
    CT.corpus_ingest_tick(spark, batch, victim, batch_id=1)

    assert _state_multisets(spark, victim) == _state_multisets(
        spark, control
    )


def _corpus_case(spark):
    import falcon_metrics_etl_spark.streaming.corpus_tick as CT
    from falcon_metrics_etl_spark.plans.bpe import (
        _byte_merges_df,
        byte_words_of,
    )

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") < 10)
    merges = _byte_merges_df(byte_words_of(base))
    return (
        CT,
        lambda d: CT.stage_corpus_state(spark, base, merges, d, batch_id=0),
        lambda d: CT.corpus_ingest_tick(
            spark, docs.filter(F.col("doc_id").between(10, 15)), d,
            batch_id=1,
        ),
        "flags",
        "shingle_index",
    )


def _media_case(spark):
    import falcon_metrics_etl_spark.streaming.media_tick as MT

    return (
        MT,
        lambda d: MT.stage_media_state(
            spark, TMT._docs(spark, TMT.BASE_IDS), d, batch_id=0
        ),
        lambda d: MT.media_ingest_tick(
            spark, TMT._docs(spark, TMT.DELTA_IDS), d, batch_id=1
        ),
        "media_flags",
        "fp_index",
    )


def _cross_modal_case(spark):
    import falcon_metrics_etl_spark.streaming.cross_modal_tick as CMT

    return (
        CMT,
        lambda d: CMT.stage_cross_modal_state(
            spark, TCM._docs(spark, TCM.BASE_IDS), d, batch_id=0
        ),
        lambda d: CMT.cross_modal_ingest_tick(
            spark, TCM._docs(spark, TCM.DELTA_IDS), d, batch_id=1
        ),
        "cm_flags",
        "cm_image_index",
    )


def _trimodal_case(spark):
    import falcon_metrics_etl_spark.streaming.cross_modal_tick as CMT

    return (
        CMT,
        lambda d: CMT.stage_trimodal_state(
            spark, TCM._docs(spark, TCM.BASE_IDS), d, batch_id=0
        ),
        lambda d: CMT.trimodal_ingest_tick(
            spark, TCM._docs(spark, TCM.DELTA_IDS), d, batch_id=1
        ),
        "cm3_flags",
        "cm3_image_index",
    )


@pytest.mark.parametrize(
    "case", [_corpus_case, _media_case, _cross_modal_case, _trimodal_case],
    ids=["corpus", "media", "cross_modal", "trimodal"],
)
def test_failed_node_append_leaves_no_writer_and_replays_clean(
    spark, tmp_path, monkeypatch, case
):
    """A node-index append raises while the overlapped flags merge is
    still in flight. When the exception reaches the caller, the merge
    has finished and no thread the tick submitted work to is alive;
    a replay of the same (batch, batch_id) then equals a clean run,
    table by table."""
    module, stage, tick, flags_table, node_table = case(spark)
    control = str(tmp_path / "control")
    victim = str(tmp_path / "victim")
    stage(control)
    tick(control)
    stage(victim)

    raised = threading.Event()
    merged = threading.Event()
    real_merge = module.merge_state
    real_mode = DataFrameWriter.mode
    real_parquet = DataFrameWriter.parquet

    def slow_flags_merge(spark_, path, *args, **kwargs):
        if os.path.basename(path) != flags_table:
            return real_merge(spark_, path, *args, **kwargs)
        # hold the merge in flight until the node append has failed
        raised.wait(120)
        time.sleep(0.5)
        try:
            return real_merge(spark_, path, *args, **kwargs)
        finally:
            merged.set()

    def mode(self, save_mode):
        self._injected_mode = save_mode
        return real_mode(self, save_mode)

    def parquet(self, path, *args, **kwargs):
        parts = path.split(os.sep)
        if getattr(self, "_injected_mode", None) == "append" and (
            node_table in parts
        ):
            raised.set()
            raise RuntimeError("injected node append failure")
        return real_parquet(self, path, *args, **kwargs)

    before = _pool_threads()
    with monkeypatch.context() as m:
        m.setattr(module, "merge_state", slow_flags_merge)
        m.setattr(DataFrameWriter, "mode", mode)
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="injected node append"):
            tick(victim)
        assert raised.is_set()
        assert merged.is_set(), "flags merge still running after the raise"
        assert not (_pool_threads() - before), "tick left pool threads alive"

    tick(victim)  # replay of the same (batch, batch_id)
    assert _state_multisets(spark, victim) == _state_multisets(
        spark, control
    )
